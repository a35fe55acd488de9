"""Unit tests for the previously-untested core surface (VERDICT r1 item 7):
window payloads, per-key slide plans, pandas transforms, point/bulk query,
synthetic sources, Schema validation, plan-shape assertions, and the
nanos->micros loader round-trip."""

from __future__ import annotations

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from ralf_spark.operators.windows import sliding_count_window, tumbling_count_window
from ralf_spark.plans.explain import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)
from ralf_spark.queries import QUERIES
from ralf_spark.sources.fixtures import load_fixture
from ralf_spark.sources.synthetic import counter_source, fake_events
from ralf_spark.table import FeatureTable, Schema

from tests.conftest import SF_DIR


# ----------------------------------------------------------- synthetic (S3)

def test_counter_source_contract(spark):
    """The reference's CounterSource e2e contract: collected values are
    exactly 1..n (``ralf/tests/test_e2e.py:75-93``) and the per-key Sum
    final state matches (``ralf/v2/tests/test_api.py:47-61``)."""
    t = counter_source(spark, 100)
    values = sorted(r.value for r in t.df.collect())
    assert values == list(range(1, 101))
    sums = {
        r.key: r.s
        for r in t.df.groupBy("key").agg(F.sum("value").alias("s")).collect()
    }
    assert sum(sums.values()) == 100 * 101 // 2
    assert sums["0"] == sum(v for v in range(1, 101) if v % 10 == 0)


def test_fake_events_shape(spark):
    t = fake_events(spark, num_keys=7, timesteps=13)
    assert t.df.count() == 7 * 13
    per_key = t.df.groupBy("key").count().collect()
    assert all(r["count"] == 13 for r in per_key)
    per_step = t.df.groupBy("timestep").count().collect()
    assert all(r["count"] == 7 for r in per_step)


# ------------------------------------------------- window payloads (W1/W2)

def _keyed(spark, rows):
    return FeatureTable(
        spark.createDataFrame(rows, "k string, ts long, seq long, v double"),
        key="k", ts="ts", seq="seq",
    )


def test_tumbling_payload_arrays_ordered_and_full_only(spark):
    rows = [("a", i, i, float(i)) for i in range(7)]  # 7 rows, size 3
    t = _keyed(spark, rows)
    out = tumbling_count_window(t, size=3, payload_cols=["v"])
    got = {
        r.window_id: [x["v"] for x in r.window] for r in out.df.collect()
    }
    # 2 full windows; the 7th row never emits (partial window)
    assert got == {0: [0.0, 1.0, 2.0], 1: [3.0, 4.0, 5.0]}


def test_sliding_payload_window_content(spark):
    rows = [("a", i, i, float(i)) for i in range(6)]
    t = _keyed(spark, rows)
    out = sliding_count_window(t, window_size=3, slide_size=2, payload_cols=["v"])
    got = {
        r.pos: [x["v"] for x in r.window] for r in out.df.collect()
    }
    # emit at rn=3 (rows 0..2) then every 2: rn=5 (rows 2..4)
    assert got == {3: [0.0, 1.0, 2.0], 5: [2.0, 3.0, 4.0]}


def test_per_key_slide_plan(spark):
    rows = [(k, i, i, float(i)) for k in ("a", "b") for i in range(6)]
    t = _keyed(spark, rows)
    plan = spark.createDataFrame([("a", 1)], "k string, slide_size int")
    out = sliding_count_window(
        t, window_size=3, slide_size=2, payload_cols=["v"], per_key_slide=plan
    )
    pos = {
        (r.k, r.pos) for r in out.df.collect()
    }
    # key a slides by 1 (emits at 3,4,5,6); key b uses default 2 (3,5)
    assert pos == {("a", 3), ("a", 4), ("a", 5), ("a", 6), ("b", 3), ("b", 5)}


@pytest.mark.slow
def test_sliding_window_strategies_identical(spark):
    """The explode (large-window) plan must produce byte-identical output
    to the rows-frame plan — same rows, same schema — including per-key
    slide and slide > window_size gaps."""
    rows = [(k, i, i, float(i)) for k in ("a", "b") for i in range(25)]
    t = _keyed(spark, rows)
    plan = spark.createDataFrame([("a", 3)], "k string, slide_size int")
    for kwargs in [
        dict(window_size=4, slide_size=2),
        dict(window_size=4, slide_size=2, per_key_slide=plan),
        dict(window_size=2, slide_size=7),  # slide clamps to window (ref)
        # sampling mode: gaps — rows in no window (sequence guard path)
        dict(window_size=2, slide_size=7, clamp_slide=False),
        dict(window_size=25, slide_size=1),  # exactly one full window
    ]:
        frame = sliding_count_window(
            t, payload_cols=["v"], payload_strategy="frame", **kwargs
        )
        explode = sliding_count_window(
            t, payload_cols=["v"], payload_strategy="explode", **kwargs
        )
        # nullability flags differ between agg paths; types/names must not
        assert (
            frame.df.schema.simpleString() == explode.df.schema.simpleString()
        ), kwargs
        f = {
            (r.k, r.pos): [x["v"] for x in r.window]
            for r in frame.df.collect()
        }
        e = {
            (r.k, r.pos): [x["v"] for x in r.window]
            for r in explode.df.collect()
        }
        assert f == e, kwargs


def test_sliding_window_reference_simulation_config(spark):
    """The reference's own simulation runs window=672, slide=12
    (ralf/simulation/process.py:88-89) — the config where the rows-frame
    plan amplifies 672× per input row. auto must route it to the explode
    plan (56× — the true output size) and produce the right windows."""
    from ralf_spark.operators.windows import LARGE_WINDOW_THRESHOLD

    n, ws, slide = 1000, 672, 12
    assert ws >= LARGE_WINDOW_THRESHOLD
    t = _keyed(spark, [("a", i, i, float(i)) for i in range(n)])
    out = sliding_count_window(t, window_size=ws, slide_size=slide)
    rows = sorted(out.df.collect(), key=lambda r: r.pos)
    want_pos = list(range(ws, n + 1, slide))
    assert [r.pos for r in rows] == want_pos
    first, last = rows[0], rows[-1]
    assert [x["v"] for x in first.window] == [float(i) for i in range(ws)]
    assert len(last.window) == ws
    assert [x["v"] for x in last.window][-1] == float(last.pos - 1)


# --------------------------------------------- pandas transforms (P1/§2.8)

def test_map_in_pandas_flatmap_fanout(spark):
    t = _keyed(spark, [("a", 1, 1, 2.0), ("a", 2, 2, 0.0)])

    def dup(batches):
        for pdf in batches:
            n = pdf["v"].astype(int)
            yield pd.DataFrame(
                {"k": pdf["k"].repeat(n), "v": pdf["v"].repeat(n)}
            )

    out = t.map_in_pandas(dup, "k string, v double")
    rows = out.df.collect()
    assert len(rows) == 2  # v=2 row emitted twice, v=0 row dropped
    assert all(r.v == 2.0 for r in rows)


def test_apply_in_pandas_stateful_per_key(spark):
    t = _keyed(
        spark, [("a", 1, 1, 1.0), ("a", 2, 2, 2.0), ("b", 1, 3, 5.0)]
    )

    def running(pdf):
        pdf = pdf.sort_values("seq")
        pdf["run"] = pdf["v"].cumsum()
        return pdf[["k", "seq", "run"]]

    out = t.apply_in_pandas(running, "k string, seq long, run double")
    got = {(r.k, r.seq): r.run for r in out.df.collect()}
    assert got == {("a", 1): 1.0, ("a", 2): 3.0, ("b", 3): 5.0}


# ----------------------------------------------------- point / bulk (S7)

def test_point_query_returns_latest(spark):
    t = _keyed(spark, [("a", 1, 1, 1.0), ("a", 9, 2, 9.0), ("b", 1, 3, 2.0)])
    [row] = t.point_query("a")
    assert row.v == 9.0
    assert t.point_query("zzz") == []


def point_rows(key):
    """(k, ts, seq, v) rows whose newest row per key takes every rule of
    ``latest()``'s order: NULL ts and NULL seq order below every value
    (as in ``max_by`` over ``struct(ts, seq)``), and ties on ts fall to
    seq. ``key(i)`` spells key ``i``; keys 0-11, 50 and 51 exist."""
    rows = []
    for i in range(12):
        rows += [
            (key(i), 10, 1, 1.0 + i),
            (key(i), 10, 2 + i % 3, 2.0 + i),  # same ts: seq decides
        ]
        if i % 3 == 0:
            rows.append((key(i), None, 99, -1.0))  # NULL ts loses
        if i % 4 == 0:
            rows += [(key(i), 20, None, 5.0), (key(i), 20, 0, 6.0)]
        if i % 5 == 0:
            rows.append((key(i), 20, None, 7.0))  # NULL seq only
    rows += [(key(50), None, None, 8.0), (key(50), None, 4, 9.0)]
    rows.append((key(51), None, None, 10.0))
    return rows


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_point_query_matches_latest(spark, key_type):
    """The sort-limit point read picks ``latest()``'s row for every key,
    on a multi-partition frame (:func:`point_rows`). Absent keys read as
    no rows."""
    def key(i):
        return i if key_type == "long" else f"k{i}"

    df = spark.createDataFrame(
        point_rows(key), f"k {key_type}, ts long, seq long, v double"
    ).repartition(4)
    assert df.rdd.getNumPartitions() >= 4
    t = FeatureTable(df, key="k", ts="ts", seq="seq")
    state = t.latest().df
    for k in [key(i) for i in range(12)] + [key(50), key(51), key(77)]:
        want = state.where(F.col("k") == F.lit(k)).collect()
        assert t.point_query(k) == want, k
    assert t.point_query(key(77)) == []


def test_point_query_errors_match_latest(spark):
    df = spark.createDataFrame(
        [("a", 1, 1, 1.0)], "k string, ts long, seq long, v double"
    )
    with pytest.raises(ValueError):
        FeatureTable(df, ts="ts", seq="seq").point_query("a")
    with pytest.raises(ValueError):
        FeatureTable(df, key="k").point_query("a")


def test_point_query_pushes_key_filter_to_scan(spark, tmp_path):
    """The point-read plan (r7 driver gate): the key predicate must land
    in the parquet scan's PushedFilters, below the top-1 sort-limit, so
    a point read scans one key's rows, never the full state."""
    from ralf_spark.plans.explain import pushed_filters
    from ralf_spark.table import FeatureTable

    path = str(tmp_path / "events")
    spark.createDataFrame(
        [("a", 1, 1, 1.0), ("b", 2, 2, 2.0)],
        "k string, ts long, seq long, v double",
    ).write.parquet(path)
    t = FeatureTable(spark.read.parquet(path), key="k", ts="ts", seq="seq")
    plan_filters = pushed_filters(t.point_query_df("a"))
    assert any("k" in f and "EqualTo" in f for f in plan_filters), plan_filters


# ------------------------------------------------------------ Schema (§1.1)

def test_schema_struct_type_and_validate(spark):
    s = Schema("k", {"k": str, "v": float, "n": int})
    st = s.to_struct_type()
    assert st["v"].dataType == T.DoubleType()
    df_ok = spark.createDataFrame([("a", 1.0, 2)], "k string, v double, n long")
    s.validate(df_ok)
    with pytest.raises(ValueError):
        s.validate(df_ok.drop("n"))
    with pytest.raises(ValueError):
        Schema("missing", {}).validate(df_ok)
    with pytest.raises(TypeError):
        Schema("k", {"k": dict}).to_struct_type()


# --------------------------------------------------- plan shapes (explain)

def test_q1_pushes_shipdate_filter_and_prunes_columns(spark):
    df = QUERIES["q1_pricing_summary"].fn(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    cols = scan_read_schema(df)
    assert "l_comment" not in cols and "l_partkey" not in cols
    assert set(cols) >= {"l_quantity", "l_extendedprice", "l_discount"}


def test_q3_q5_broadcast_dimensions(spark):
    assert has_broadcast_join(QUERIES["q3_unshipped_orders"].fn(spark, SF_DIR))
    assert has_broadcast_join(QUERIES["q5_local_supplier_volume"].fn(spark, SF_DIR))


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Catalyst must factor table-local implications out of the
    OR-of-ANDs: the part scan gets the brand/size disjunction, the
    lineitem scan the quantity bounds — neither side scans unfiltered."""
    df = QUERIES["q19_disjunctive_pushdown"].fn(spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "p_brand" in pushed and "p_size" in pushed
    assert "l_quantity" in pushed


def test_dim_joins_broadcast_at_sf01_without_forced_hints(spark):
    """After dropping explicit F.broadcast hints on sf-scaled tables
    (customer/supplier — a forced hint is never AQE-demoted and OOMs at
    100×), the threshold must still pick broadcast at sf0.1. Plan-only:
    nothing executes."""
    for name in [
        "q3_unshipped_orders",
        "q5_local_supplier_volume",
        "q10_returned_items",
        "q18_large_orders",
        "enrichment_join",
    ]:
        df = QUERIES[name].fn(spark, "/root/testdata/sf0.1")
        assert has_broadcast_join(df), f"{name} lost its broadcast at sf0.1"


def test_tpch_r3_plans_no_nested_loop_joins(spark):
    """The EXISTS/NOT-EXISTS pair (q21), correlated min (q2), and scalar
    subqueries (q11/q15/q22) must decorrelate to hash/sort-merge
    semi/anti joins — a BroadcastNestedLoopJoin or CartesianProduct in
    any of them is the O(n·m) failure mode at scale. Plan-only."""
    for name in [
        "q2_min_cost_supplier",
        "q11_important_parts",
        "q15_top_supplier",
        "q21_waiting_suppliers",
        "q22_global_sales_opportunity",
    ]:
        plan = explain_str(QUERIES[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        # the 1-row scalar-threshold broadcasts are nested-loop by
        # construction (no join key) — allow those, forbid multi-row ones
        if "BroadcastNestedLoopJoin" in plan:
            assert name in (
                "q11_important_parts",
                "q15_top_supplier",
                "q22_global_sales_opportunity",
            ), f"{name}: unexpected nested-loop join"


def test_rank_limit_pushdown_in_q2_and_kmv(spark):
    """row_number()-then-filter top-k shapes must execute as
    WindowGroupLimit (map-side per-group pre-limiting before the
    shuffle) — the thing that keeps per-group k-smallest from shuffling
    whole groups."""
    assert "WindowGroupLimit" in explain_str(
        QUERIES["q2_min_cost_supplier"].fn(spark, SF_DIR)
    )
    assert "WindowGroupLimit" in explain_str(
        QUERIES["kmv_distinct_users"].fn(spark, SF_DIR)
    )


# ------------------------------------------------- loader nanos round-trip

def test_fixture_ts_nanos_exact_roundtrip(spark):
    """Spark-loaded event timestamps must equal DuckDB's exact epoch-us —
    across fixture encodings (nanos-as-bigint round-1 data, native NTZ
    micros current data). The float-division bug this loader previously
    had was 1µs off on ~1.6% of rows (ADVICE r1)."""
    from ralf_spark.functions.timeutil import epoch_us

    ev = load_fixture(spark, "events", SF_DIR).df
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"  # canonical loader type
    spark_us = {
        r[0]: r[1]
        for r in ev.select("event_id", epoch_us(ev, "ts")).collect()
    }
    oracle = duckdb.sql(
        f"SELECT event_id, epoch_ns(ts)//1000 FROM '{SF_DIR}/events.parquet'"
    ).fetchall()
    assert len(oracle) == len(spark_us)
    bad = [(i, spark_us[i], us) for i, us in oracle if spark_us[i] != us]
    assert bad == []


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """With broadcast off (two big sides), Catalyst injects a runtime
    bloom filter built from the selective orders side that prunes
    lineitem BEFORE its shuffle — and the result is unchanged."""
    from ralf_spark.plans.explain import has_runtime_bloom_filter

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def build():
        li = load_fixture(spark, "lineitem", SF_DIR).df
        orders = load_fixture(spark, "orders", SF_DIR).df.filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pruned = build()
        assert has_runtime_bloom_filter(pruned)
        got = pruned.collect()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = build()
    assert not has_runtime_bloom_filter(plain)
    assert got == plain.collect()


# ------------------------------------------------- registry ordering pin
def test_driver_prefix_ordering_applied():
    """The driver checks exactly the first 50 registry entries; a typo'd
    or removed DRIVER_CHECKED_FIRST name makes finalize_registry silently
    skip the reordering (its circular-entry tolerance), so pin the final
    ordering here (ADVICE r5)."""
    from ralf_spark.queries import DRIVER_CHECKED_FIRST

    missing = [n for n in DRIVER_CHECKED_FIRST if n not in QUERIES]
    assert missing == [], f"prefix names absent from registry: {missing}"
    assert len(DRIVER_CHECKED_FIRST) == 50
    assert list(QUERIES)[: len(DRIVER_CHECKED_FIRST)] == DRIVER_CHECKED_FIRST
    # every driver-prefix entry must carry a DuckDB oracle (full hash gate)
    no_oracle = [n for n in DRIVER_CHECKED_FIRST if QUERIES[n].oracle is None]
    assert no_oracle == []


def test_change_detection_carry_across_arrow_frames(spark):
    """r7 mapInPandas respelling of the last-emitted shed: a key whose
    rows straddle an Arrow frame boundary must carry its last-emitted
    baseline across frames (forced by shrinking maxRecordsPerBatch far
    below one key's run length), with results identical to the
    large-frame run."""
    import pyspark.sql.functions as F

    from ralf_spark.operators.policies import change_detection_filter
    from ralf_spark.table import FeatureTable

    # one hot key, 1000 rows, values 0,1,2,... -> emits every 10th value
    df = spark.createDataFrame(
        [(7, i, i, float(i)) for i in range(1000)]
        + [(8, i, i, float(i % 3)) for i in range(50)],
        "user_id long, ts long, event_id long, value double",
    )
    t = FeatureTable(df, key="user_id", ts="ts", seq="event_id")

    def run():
        return sorted(
            (r.user_id, r.event_id)
            for r in change_detection_filter(
                t, "value", threshold=10.0
            ).df.collect()
        )

    # key 8: 0,1,2,0,1,2,... never moves >= 10 -> only the first emits
    want = [(7, i) for i in range(0, 1000, 10)] + [(8, 0)]
    big = run()
    assert big == want
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        assert run() == big
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )
