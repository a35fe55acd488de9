"""Tests for skew-safe aggregation, batch upsert maintenance, IVF search,
and inverted-index Jaccard blocking."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from ralf_spark.connectors import upsert_into
from ralf_spark.operators.dedup import jaccard_pairs_inverted
from ralf_spark.operators.similarity import cosine_topk, ivf_topk
from ralf_spark.operators.skew import salted_distinct_count, salted_topk_by_count
from ralf_spark.table import FeatureTable


def test_salted_distinct_count_exact(spark):
    # key "hot" has values 0..99 each 5x; key "cold" has 3 distinct
    rows = [("hot", i % 100) for i in range(500)] + [("cold", i % 3) for i in range(30)]
    t = FeatureTable(
        spark.createDataFrame(rows, "k string, v long"), key="k"
    )
    got = {r.k: r.n_distinct for r in salted_distinct_count(t, "v").collect()}
    assert got == {"hot": 100, "cold": 3}


def test_salted_topk_by_count_matches_plain(spark):
    rows = [("k", i % 7) for i in range(700)] + [("k", 99)] * 5
    t = FeatureTable(spark.createDataFrame(rows, "k string, v long"), key="k")
    got = salted_topk_by_count(t, "v", k=3).collect()
    # 0..6 each appear 100x; 99 appears 5x -> top3 = values 0,1,2 (tie by value)
    assert [(r.value, r.n) for r in sorted(got, key=lambda r: r.rnk)] == [
        (0, 100), (1, 100), (2, 100)
    ]


def test_upsert_into_incremental_equals_full_latest(spark, tmp_path):
    path = str(tmp_path / "state")
    b1 = FeatureTable(
        spark.createDataFrame(
            [(1, 10, 1, 1.0), (2, 10, 2, 2.0)], "k long, ts long, seq long, v double"
        ),
        key="k", ts="ts", seq="seq",
    )
    b2 = FeatureTable(
        spark.createDataFrame(
            [(1, 20, 3, 9.0), (3, 5, 4, 7.0)], "k long, ts long, seq long, v double"
        ),
        key="k", ts="ts", seq="seq",
    )
    upsert_into(path, b1)
    upsert_into(path, b2)
    got = {r.k: r.v for r in _state(spark, path).collect()}
    assert got == {1: 9.0, 2: 2.0, 3: 7.0}
    # replay of b2 is a no-op (idempotent)
    upsert_into(path, b2)
    again = {r.k: r.v for r in _state(spark, path).collect()}
    assert again == got


def _state(spark, path):
    """The upsert state at ``path``: ``latest()`` of its store read."""
    from ralf_spark.store import FeatureStore

    return FeatureStore(spark).read_parquet(
        path, key="k", ts="ts", seq="seq"
    ).latest().df


def test_ivf_topk_within_cell_matches_bruteforce_scores(spark):
    rows = [
        (i, [1.0 + 0.01 * i, 0.0, 0.0] if i < 10 else [0.0, 1.0 + 0.01 * i, 0.0])
        for i in range(20)
    ]
    corpus = FeatureTable(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        key="vec_id",
    )
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    q = corpus.df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = ivf_topk(corpus, q, centroids, k=25).collect()
    # query 0 lives in the x-axis cell: neighbors are exactly vec 1..9
    assert sorted(r.neighbor_id for r in got) == list(range(1, 10))
    bf = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(corpus, q, k=25).collect()
    }
    for r in got:
        assert abs(bf[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_jaccard_inverted_finds_near_dup_and_prunes_hot(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = base + " iota"
    # `other` shares no shingle with base/near
    other = "one two three four five six seven eight"
    t = FeatureTable(
        spark.createDataFrame(
            [(1, base), (2, near), (3, other)], "doc_id long, text string"
        ),
        key="doc_id",
    )
    pairs = jaccard_pairs_inverted(t, threshold=0.5, max_df=5).collect()
    assert [(p.id1, p.id2) for p in pairs] == [(1, 2)]
    # with max_df=1 every shared shingle (df=2) is "hot" -> no candidates
    none = jaccard_pairs_inverted(t, threshold=0.5, max_df=1).collect()
    assert none == []


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-invariant: inner and left joins match the
    plain join exactly, including unmatched-left null rows."""
    import pyspark.sql.functions as F

    from ralf_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i, i % 3) for i in range(100)] + [(1000, 99)],  # key 99 unmatched
        "event_id long, user_id long",
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "user_id long, seg string"
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r)
            for r in salted_join(
                left, right, key="user_id", salt_on="event_id",
                salt_buckets=4, how=how,
            ).select("event_id", "user_id", "seg").collect()
        )
        want = sorted(
            tuple(r)
            for r in left.join(right, "user_id", how)
            .select("event_id", "user_id", "seg")
            .collect()
        )
        assert got == want, how

    import pytest

    with pytest.raises(ValueError):
        salted_join(left, right, key="user_id", salt_on="event_id", how="full")


def test_merge_plan_matches_parquet_upsert_branch(spark, tmp_path):
    """upsert_into implements merge_upsert_plan: folding the same batch
    sequence through upsert_into and through the MERGE relational spec
    must land on the same state — including out-of-order
    replays (older record must NOT clobber newer state) and NULL ordering
    columns (ordered below every value)."""
    from ralf_spark.connectors import merge_upsert_plan

    schema = "k long, ts long, seq long, v double"
    batches = [
        [(1, 10, 1, 1.0), (2, 10, 2, 2.0), (4, None, 1, 0.5)],
        [(1, 20, 3, 9.0), (3, 5, 4, 7.0), (4, 5, 1, 4.5)],
        [(1, 15, 9, 3.0), (2, 10, 1, 8.0)],   # late/out-of-order: both lose
        [(1, 20, 3, 9.0), (3, 5, 4, 7.0), (4, 5, 1, 4.5)],  # replayed batch
    ]
    path = str(tmp_path / "state")
    merged = None
    for rows in batches:
        b = FeatureTable(
            spark.createDataFrame(rows, schema), key="k", ts="ts", seq="seq"
        )
        upsert_into(path, b)
        latest = b.latest().df
        merged = (
            latest
            if merged is None
            else merge_upsert_plan(merged, latest, "k", ["ts", "seq"])
        )
    via_parquet = {tuple(r) for r in _state(spark, path).collect()}
    via_merge = {tuple(r) for r in merged.collect()}
    assert via_parquet == via_merge
    assert {r[0]: r[3] for r in via_merge} == {1: 9.0, 2: 2.0, 3: 7.0, 4: 4.5}


def test_merge_upsert_condition_contract():
    """The WHEN MATCHED guard: lexicographic >= with NULL below values,
    'true' when there is no ordering (pure last-write-wins)."""
    from ralf_spark.connectors import merge_upsert_condition

    assert merge_upsert_condition([]) == "true"
    cond = merge_upsert_condition(["ts", "seq"])
    # ties re-apply (idempotent replays)
    assert "(s.ts <=> t.ts AND s.seq <=> t.seq)" in cond
    # NULL target loses to a non-NULL source
    assert "s.ts IS NOT NULL AND t.ts IS NULL" in cond
    # seq is compared only within a ts tie
    assert "(s.ts <=> t.ts AND (s.seq > t.seq" in cond


@pytest.mark.slow
def test_salted_asof_join_equals_plain_asof(spark):
    """r9: the salted as-of spelling must be ROW-IDENTICAL to the plain
    one — hot-key fixture with ties at equal ts, tolerance, both
    directions, and a key that never matches."""
    from ralf_spark.operators.joins import asof_join
    from ralf_spark.operators.skew import salted_asof_join

    left_rows = []
    # user 1 is hot: 60 of 80 left rows
    for i in range(80):
        u = 1 if i % 4 != 3 else 2 + (i % 3)
        left_rows.append((i, u, 10 * (i % 9), float(i)))
    right_rows = [
        (100 + j, u, 10 * j + (j % 2), float(100 * u + j))
        for u in (1, 2, 3) for j in range(7)
    ]
    lt = FeatureTable(
        spark.createDataFrame(
            left_rows, "event_id long, user_id long, t long, v double"
        ),
        key="user_id", ts="t", seq="event_id",
    )
    rt = FeatureTable(
        spark.createDataFrame(
            right_rows, "upd_id long, user_id long, t long, state double"
        ),
        key="user_id", ts="t", seq="upd_id",
    )
    for direction in ("backward", "forward"):
        for tol in (None, F.lit(15)):
            plain = sorted(map(tuple, asof_join(
                lt, rt, tolerance=tol, direction=direction
            ).df.collect()))
            for b in (3, 8):
                salted = sorted(map(tuple, salted_asof_join(
                    lt, rt, salt_on="event_id", salt_buckets=b,
                    tolerance=tol, direction=direction,
                ).df.collect()))
                assert salted == plain, (direction, b)
    assert len(plain) == 80


def test_choose_salt_buckets_heuristic(spark):
    """r10 (VERDICT r9 #3): auto salt sizing — unsalted below the skew
    threshold, minimal sufficient split above it, capped at P."""
    from ralf_spark.operators.skew import choose_salt_buckets

    uniform = spark.createDataFrame(
        [(i, i % 100) for i in range(2000)], "event_id long, user_id long"
    )
    # 100 even keys at P=32: s*P = 0.32 — no salting, no replication
    assert choose_salt_buckets(uniform, "user_id", partitions=32) == 1
    hot = spark.createDataFrame(
        # one key (200, outside the i%100 range) holds exactly 50% of rows
        [(i, 200 if i % 2 == 0 else i % 100) for i in range(2000)],
        "event_id long, user_id long",
    )
    # s*P = 0.5*32 = 16 -> B = ceil(16/2) = 8
    assert choose_salt_buckets(hot, "user_id", partitions=32) == 8
    # everything one key: s*P = 16 -> B = 8 (hot task = 2x average)
    onekey = spark.createDataFrame(
        [(i, 1) for i in range(500)], "event_id long, user_id long"
    )
    assert choose_salt_buckets(onekey, "user_id", partitions=16) == 8
    # a sub-1 tolerance demands finer than P buckets -> capped at P
    assert choose_salt_buckets(
        onekey, "user_id", partitions=16, target_ratio=0.5
    ) == 16
    empty = uniform.where("user_id < 0")
    assert choose_salt_buckets(empty, "user_id", partitions=32) == 1


def test_salted_join_auto_equals_plain(spark):
    """salt_buckets='auto' (the new default) stays result-invariant on
    both the skewed and the uniform input, and rejects other strings."""
    import pytest

    from ralf_spark.operators.skew import salted_asof_join, salted_join
    from ralf_spark.table import FeatureTable

    left = spark.createDataFrame(
        [(i, 3 if i % 2 == 0 else i % 50) for i in range(400)],
        "event_id long, user_id long",
    )
    right = spark.createDataFrame(
        [(k, f"s{k}") for k in range(50)], "user_id long, seg string"
    )
    got = sorted(map(tuple, salted_join(
        left, right, key="user_id", salt_on="event_id"
    ).select("event_id", "user_id", "seg").collect()))
    want = sorted(map(tuple, left.join(right, "user_id")
                      .select("event_id", "user_id", "seg").collect()))
    assert got == want
    with pytest.raises(ValueError, match="auto"):
        salted_join(left, right, key="user_id", salt_on="event_id",
                    salt_buckets="wat")

    from ralf_spark.operators.joins import asof_join

    lt = FeatureTable(
        spark.createDataFrame(
            [(i, 3 if i % 2 == 0 else i % 20, i * 10, float(i))
             for i in range(200)],
            "event_id long, user_id long, t long, v double",
        ),
        key="user_id", ts="t", seq="event_id",
    )
    rt = FeatureTable(
        spark.createDataFrame(
            [(i, i % 20, i * 25, float(i) * 2) for i in range(80)],
            "upd_id long, user_id long, t long, state double",
        ),
        key="user_id", ts="t", seq="upd_id",
    )
    plain = sorted(map(tuple, asof_join(lt, rt).df.collect()))
    auto = sorted(map(tuple, salted_asof_join(
        lt, rt, salt_on="event_id"
    ).df.collect()))
    assert auto == plain and len(plain) == 200


@pytest.mark.slow
def test_salted_sliding_window_equals_plain(spark):
    """r10 (VERDICT r9 #7): the two-phase-ranked sliding window is
    row-identical to the plain explode spelling — hot key, ts ties,
    several window/slide shapes, pinned and auto bucket counts."""
    from ralf_spark.operators.windows import (
        salted_sliding_count_window,
        sliding_count_window,
    )
    from ralf_spark.table import FeatureTable

    rows = []
    eid = 0
    for i in range(600):  # hot key 0: 600 rows with ts ties (i // 3)
        rows.append((eid, 0, (i // 3) * 10, float(i)))
        eid += 1
    for _ in range(8):  # NULL order values on the hot key: rank-first rows
        rows.append((eid, 0, None, float(eid)))
        eid += 1
    for k in range(1, 20):  # cold keys: 30 rows each
        for i in range(30):
            rows.append((eid, k, i * 7, float(eid)))
            eid += 1
    t = FeatureTable(
        spark.createDataFrame(
            rows, "event_id long, user_id long, t long, value double"
        ),
        key="user_id", ts="t", seq="event_id",
    )

    def flat(ft):
        return sorted(
            (r["user_id"], r["pos"], tuple(x["value"] for x in r["window"]))
            for r in ft.df.collect()
        )

    for ws, sl in ((7, 2), (64, 4), (5, 9)):  # incl. slide > window clamp
        want = flat(sliding_count_window(
            t, window_size=ws, slide_size=sl, payload_cols=["value"],
            payload_strategy="explode",
        ))
        for buckets in ("auto", 5):
            got = flat(salted_sliding_count_window(
                t, window_size=ws, slide_size=sl, payload_cols=["value"],
                salt_buckets=buckets, target_ratio=0.5,
            ))
            assert got == want, (ws, sl, buckets)
    # uniform data: auto finds no hot keys and delegates — still identical
    cold = FeatureTable(
        t.df.where("user_id > 0"), key="user_id", ts="t", seq="event_id"
    )
    assert flat(salted_sliding_count_window(
        cold, window_size=7, slide_size=2, payload_cols=["value"]
    )) == flat(sliding_count_window(
        cold, window_size=7, slide_size=2, payload_cols=["value"],
        payload_strategy="explode",
    ))


@pytest.mark.slow
def test_salted_sliding_window_keeps_null_keys(spark):
    """r11 (ADVICE r10) + r12: NULL-keyed rows must survive the hot/rest
    split — `isin(hot)` and `~isin(hot)` are both NULL for a NULL key,
    which used to drop such rows from BOTH branches. Cold NULL keys take
    the plain branch; a HOT NULL key (this fixture, at target_ratio=0.5)
    now routes through the salted two-phase rank via null-safe joins
    (r12 — the r11 unsalted-straggler residual). Output stays
    row-identical to the plain spelling either way."""
    from ralf_spark.operators.windows import (
        salted_sliding_count_window,
        sliding_count_window,
    )
    from ralf_spark.table import FeatureTable

    rows = []
    eid = 0
    for i in range(300):  # hot non-null key
        rows.append((eid, 0, i * 10, float(i)))
        eid += 1
    for i in range(120):  # NULL key, hot by any per-key threshold
        rows.append((eid, None, i * 5, float(eid)))
        eid += 1
    for k in range(1, 8):  # cold keys
        for i in range(12):
            rows.append((eid, k, i * 7, float(eid)))
            eid += 1
    t = FeatureTable(
        spark.createDataFrame(
            rows, "event_id long, user_id long, t long, value double"
        ),
        key="user_id", ts="t", seq="event_id",
    )

    def flat(ft):
        return sorted(
            (
                (r["user_id"], r["pos"], tuple(x["value"] for x in r["window"]))
                for r in ft.df.collect()
            ),
            key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]),
        )

    for buckets in ("auto", 4):
        want = flat(sliding_count_window(
            t, window_size=6, slide_size=2, payload_cols=["value"],
            payload_strategy="explode",
        ))
        got = flat(salted_sliding_count_window(
            t, window_size=6, slide_size=2, payload_cols=["value"],
            salt_buckets=buckets, target_ratio=0.5,
        ))
        assert got == want, buckets
        assert any(k is None for k, _, _ in got)  # NULL windows present


def test_stats_first_auto_knobs_run_no_job(spark, tmp_path):
    """r11 (VERDICT r10 #6): when plan stats prove the input small, the
    auto knobs (choose_salt_buckets, the salted window's hot-key
    detection) must decide WITHOUT running any Spark job — asserted via
    a job group that stays empty. stats_skip_rows=0 forces the measured
    pass; unknown-size plans (LocalRelation) always measure."""
    from ralf_spark.operators.skew import choose_salt_buckets
    from ralf_spark.operators.util import plan_row_estimate
    from ralf_spark.operators.windows import (
        salted_sliding_count_window,
        sliding_count_window,
    )
    from ralf_spark.table import FeatureTable

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, 0 if i % 2 == 0 else i % 9, i * 10, float(i))
         for i in range(4000)],
        "event_id long, user_id long, t long, value double",
    ).write.parquet(p)
    spark.catalog.clearCache()
    ev = spark.read.parquet(p)
    assert 0 <= plan_row_estimate(ev) <= 1_000_000  # provably small

    sc = spark.sparkContext
    sc.setJobGroup("stats_first_probe", "must stay empty")
    try:
        assert choose_salt_buckets(ev, "user_id", partitions=32) == 1
        t = FeatureTable(ev, key="user_id", ts="t", seq="event_id")
        win = salted_sliding_count_window(
            t, window_size=8, slide_size=4, payload_cols=["value"],
            target_ratio=0.1,  # would force salting in the measured pass
        )
    finally:
        sc.setJobGroup(None, None)
    ids = list(sc.statusTracker().getJobIdsForGroup("stats_first_probe"))
    assert ids == [], f"stats-first path ran Spark jobs: {ids}"

    # ... and the skipped spelling is still the same rows
    def flat(ft):
        return sorted(
            (r["user_id"], r["pos"], tuple(x["value"] for x in r["window"]))
            for r in ft.df.collect()
        )

    assert flat(win) == flat(sliding_count_window(
        t, window_size=8, slide_size=4, payload_cols=["value"],
        payload_strategy="explode",
    ))
    # the measured pass still fires when pinned off (and salts: ratio .1)
    sc.setJobGroup("measured_probe", "must run jobs")
    try:
        choose_salt_buckets(ev, "user_id", partitions=32, stats_skip_rows=0)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("measured_probe"))
