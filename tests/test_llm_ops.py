"""Unit tests for the LLM-data-pipeline operators (E1/E2/E4).

Oracle parity over the fixture corpus lives in test_oracle_parity.py; these
tests pin the operator *contracts* on handcrafted data and the scale
properties of the plans (no cross join in LSH candidate generation).
"""

from __future__ import annotations

import contextlib

import pyspark.sql.functions as F
import pytest

from ralf_spark.operators.dedup import (
    exact_dedup,
    minhash_signature,
    near_dup_pairs,
)
from ralf_spark.operators.text_analysis import (
    language_id,
    quality_score,
    simhash_fingerprint,
    token_count_regex,
)
from ralf_spark.plans.explain import explain_str
from ralf_spark.table import FeatureTable


def _docs(spark, rows):
    return FeatureTable(
        spark.createDataFrame(rows, "doc_id long, text string"), key="doc_id"
    )


def test_exact_dedup_groups_and_winners(spark):
    t = _docs(
        spark,
        [(1, "a b c"), (2, "a b c"), (5, "x y"), (3, "a b c"), (4, "x y")],
    )
    out = {
        r.keep_id: r.n_copies
        for r in exact_dedup(t, on=F.col("text")).df.collect()
    }
    assert out == {1: 3, 4: 2}


def test_near_dup_pairs_finds_overlap_not_disjoint(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"  # one extra token => high shingle overlap
    other = "completely different words about spark catalyst plans here"
    t = _docs(spark, [(1, base), (2, near), (3, other)])
    pairs = near_dup_pairs(t, num_perm=16, bands=8, threshold=0.5).collect()
    assert [(p.id1, p.id2) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.8


def test_near_dup_plan_has_no_cartesian_product(spark):
    t = _docs(spark, [(1, "a b c d e"), (2, "a b c d f")])
    plan = explain_str(near_dup_pairs(t), mode="extended")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_xxhash64_fast_mode_matches_md5_pairs(spark):
    """Production hash mode: same verified pairs as the oracle-checked md5
    mode on a corpus with clear near-dups (candidate recall may differ on
    borderline pairs; verification keeps precision exact), and identical
    jaccard values — those come from exact shingle sets, not the hash."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different words about spark catalyst plans here"),
        (4, "sphinx of black quartz judge my vow said the typist slowly"),
        (5, "sphinx of black quartz judge my vow said the typist quickly"),
    ]
    t = _docs(spark, rows)
    md5_pairs = {
        (r.id1, r.id2): r.jaccard
        for r in near_dup_pairs(t, threshold=0.5).collect()
    }
    fast_pairs = {
        (r.id1, r.id2): r.jaccard
        for r in near_dup_pairs(t, threshold=0.5, hash_fn="xxhash64").collect()
    }
    assert md5_pairs == fast_pairs
    assert set(md5_pairs) == {(1, 2), (4, 5)}


def test_pair_bound_from_buckets_sums_c_choose_2(spark):
    """r9: the Σ c·(c−1)/2 bucket-stats bound the auto verification
    spelling decides on — exact over a handcrafted bucket table."""
    from ralf_spark.operators.dedup import _pair_bound_from_buckets

    rows = (
        [(i, 0, "k0") for i in range(4)]      # c=4 -> 6 pairs
        + [(i, 1, "k1") for i in range(3)]    # c=3 -> 3 pairs
        + [(9, 0, "k2")]                      # c=1 -> 0 pairs
    )
    b = spark.createDataFrame(rows, "_id long, _band int, _key string")
    assert _pair_bound_from_buckets(b, "_band", "_key") == 9


_JOINS = ("BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec")


def _join_spellings(df, *keys: str) -> set[str]:
    """Run ``df`` and name the physical spelling of every join in its
    executed plan (final adaptive plans and cached subplans included)
    whose keys mention one of ``keys``: ``"broadcast-left"`` or
    ``"broadcast-right"`` for a BroadcastHashJoin by its build side,
    ``"shuffle"`` for a sort-merge or shuffled hash join."""
    df.collect()
    out = set()

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        if cls == "InMemoryTableScanExec":
            walk(p.relation().cachedPlan())
        if cls in _JOINS:
            on = p.leftKeys().toString() + p.rightKeys().toString()
            if any(k in on for k in keys):
                if cls == "BroadcastHashJoinExec":
                    side = p.buildSide().toString()
                    out.add("broadcast-" + side[len("Build"):].lower())
                else:
                    out.add("shuffle")
        it = p.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.fixture
def spelling_probe(spark, monkeypatch):
    """Joins broadcast only where an operator hints them, so a plan
    shows which spelling ran however small the test data; yields the
    list of pair bounds ``sizing.choose_broadcast`` measured (empty when
    no stats job ran)."""
    import ralf_spark.plans.sizing as sizing

    bounds = []
    choose = sizing.choose_broadcast

    def measured(bound_fn):
        bounds.append(bound_fn())
        return choose(lambda: bounds[-1])

    monkeypatch.setattr(sizing, "choose_broadcast", measured)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield bounds
    spark.conf.set(key, prev)


@contextlib.contextmanager
def _spelling(monkeypatch, arm: str):
    """Reach spelling ``arm`` through the engine's own observables: the
    footer gate off (``SPARK_GRAFT_SMALL_CORPUS=0``) for ``"measured"``,
    a pair limit of 0 for ``"shuffle"``, nothing for any other arm."""
    import ralf_spark.plans.sizing as sizing

    with monkeypatch.context() as m:
        if arm == "measured":
            m.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
        elif arm == "shuffle":
            m.setattr(sizing, "BROADCAST_CANDIDATE_LIMIT", 0)
        yield


#: verification-join spelling of each arm: the docs (shingle) table
#: broadcast into the candidate stream, the candidates broadcast into
#: the docs scans, or shuffle joins
_VERIFY = {
    "docs": {"broadcast-right"},
    "candidates": {"broadcast-left"},
    "shuffle": {"shuffle"},
}


def test_verify_spellings_output_identical(
    spark, tmp_path, monkeypatch, spelling_probe
):
    """The three verification spellings of the pair operators emit
    identical pairs, each reached through the engine's own observables:
    a parquet corpus its footers prove small takes the docs broadcast
    with no stats job; an in-memory corpus the measured candidate
    broadcast; and a pair limit of 0 the shuffle joins."""
    from ralf_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs_inverted,
    )
    from ralf_spark.operators.util import unpersist_cached

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different words about spark catalyst plans here"),
        (4, "sphinx of black quartz judge my vow said the typist slowly"),
        (5, "sphinx of black quartz judge my vow said the typist quickly"),
    ]
    t = _docs(spark, rows)
    p = str(tmp_path / "docs.parquet")
    t.df.coalesce(1).write.parquet(p)
    t_pq = FeatureTable(spark.read.parquet(p), key="doc_id")

    for op in (near_dup_pairs, jaccard_pairs_inverted, containment_pairs):
        outs = {}
        for arm, table in (
            ("docs", t_pq), ("candidates", t), ("shuffle", t)
        ):
            spelling_probe.clear()
            with _spelling(monkeypatch, arm):
                df = op(table, threshold=0.4)
            assert bool(spelling_probe) == (arm != "docs"), (op.__name__, arm)
            assert _join_spellings(df, "id1", "id2") == _VERIFY[arm], (
                op.__name__, arm
            )
            outs[arm] = sorted(map(tuple, df.collect()))
            # a cached result of one arm would serve the next arm's plan
            unpersist_cached(df, blocking=True)
        assert outs["docs"] == outs["candidates"] == outs["shuffle"], (
            op.__name__
        )
        assert outs["docs"], op.__name__


@pytest.mark.slow
def test_small_corpus_docs_broadcast_spelling(
    spark, tmp_path, monkeypatch, spelling_probe
):
    """r16 (VERDICT r15 #3): a parquet-backed corpus whose footers prove
    it broadcast-safe takes the docs-broadcast verification spelling
    with ZERO plan-construction jobs, and emits pairs identical to the
    measured candidate broadcast that ``SPARK_GRAFT_SMALL_CORPUS=0``
    forces on the same corpus. In-memory tables (no input files) must
    refuse the shortcut and keep the measured stats decision."""
    from ralf_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs_inverted,
    )
    from ralf_spark.plans.sizing import provably_small, shingle_expansion
    from ralf_spark.table import FeatureTable

    def gate(df):
        return provably_small(df, per_byte=shingle_expansion(3))

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different words about spark catalyst plans here"),
        (4, "sphinx of black quartz judge my vow said the typist slowly"),
        (5, "sphinx of black quartz judge my vow said the typist quickly"),
    ]
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    mem.coalesce(1).write.parquet(p)
    t = FeatureTable(spark.read.parquet(p), key="doc_id")

    # admission: parquet-backed small corpus yes, in-memory no
    assert gate(t.df) is True
    assert gate(mem) is False
    # r16: the analyzed-plan walk sees THROUGH persisted upstream frames
    # (inputFiles() goes blank on them) and admits row-BOUNDED lineages
    # (filters, semi joins) while refusing row-multiplying ones
    import pyspark.sql.functions as SF

    st = t.df.where("doc_id > 1").persist()
    semi = st.join(st.select("doc_id"), "doc_id", "left_semi")
    assert semi.inputFiles() == []  # the blind spot the walk fixes
    assert gate(semi) is True
    inner = t.df.join(t.df.select("doc_id"), "doc_id")
    assert gate(inner) is False
    expl = t.df.select(
        "doc_id", SF.explode(SF.split("text", " ")).alias("text")
    )
    assert gate(expl) is False
    st.unpersist()

    from ralf_spark.operators.util import unpersist_cached

    sc = spark.sparkContext
    for op in (near_dup_pairs, jaccard_pairs_inverted, containment_pairs):
        outs = {}
        for arm in ("docs", "candidates"):
            with monkeypatch.context() as m:
                if arm == "candidates":
                    # the env kill switch restores the stats-job path
                    m.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
                    assert gate(t.df) is False
                spelling_probe.clear()
                group = f"small_corpus_{op.__name__}_{arm}"
                sc.setJobGroup(group, "plan construction")
                try:
                    df = op(t, threshold=0.4)
                finally:
                    sc.setJobGroup(None, None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            # the shortcut runs no job; the measured spelling its stats job
            assert (jobs == 0) == (arm == "docs"), (op.__name__, arm, jobs)
            assert bool(spelling_probe) == (arm != "docs"), (op.__name__, arm)
            assert _join_spellings(df, "id1", "id2") == _VERIFY[arm], (
                op.__name__, arm
            )
            outs[arm] = sorted(map(tuple, df.collect()))
            unpersist_cached(df, blocking=True)
        assert outs["docs"] == outs["candidates"], op.__name__
        assert outs["docs"], op.__name__


#: MinHashIndex scoring-join spelling of each arm: the stored signature
#: table broadcast into the candidate stream, the candidates broadcast
#: into the signature scans, or shuffle joins
_SCORING = {
    "small": {"broadcast-right"},
    "measured": {"broadcast-left"},
    "shuffle": {"shuffle"},
}


@pytest.mark.slow
def test_minhash_index_small_sides_scoring(
    spark, tmp_path, monkeypatch, spelling_probe
):
    """r16: MinHashIndex.add/check on a footer-proved small batch+store
    take the sigs-broadcast scoring with no stats job, and emit pairs
    identical to the measured chained broadcast and the shuffle joins."""
    from ralf_spark.connectors import _list_parquet_files_sized
    from ralf_spark.operators.dedup import MinHashIndex
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.plans.sizing import EXPANSION as X
    from ralf_spark.plans.sizing import provably_small, shingle_expansion
    from ralf_spark.table import FeatureTable

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different words about spark catalyst plans here"),
        (4, "sphinx of black quartz judge my vow said the typist slowly"),
        (5, "sphinx of black quartz judge my vow said the typist quickly"),
    ]
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    mem.coalesce(1).write.parquet(p)
    t = FeatureTable(spark.read.parquet(p), key="doc_id")
    first = FeatureTable(t.df.where("doc_id <= 2"), key="doc_id")
    second = FeatureTable(t.df.where("doc_id > 2"), key="doc_id")

    outs = {}
    for arm in ("small", "measured", "shuffle"):
        idx = MinHashIndex(str(tmp_path / f"mh_{arm}"))
        idx.build(first)
        got = []
        for serve in (
            lambda: idx.add(second, threshold=0.4),
            lambda: idx.check(second, threshold=0.4, within_batch=True),
        ):
            spelling_probe.clear()
            with _spelling(monkeypatch, arm):
                pairs = serve()
            assert bool(spelling_probe) == (arm != "small"), arm
            assert _join_spellings(pairs, "id1", "id2") == _SCORING[arm], arm
            got.append(sorted(map(tuple, pairs.collect())))
            unpersist_cached(pairs, blocking=True)
        if arm == "small":
            # both serving sides pass the gate: the batch (text and row
            # payloads) and the stored signature table
            assert provably_small(
                second.df,
                per_byte=shingle_expansion(3),
                per_row=max(
                    idx.num_perm * X["sig_perm"] + X["sig_frame"],
                    idx.bands * X["bucket_row"],
                ),
            )
            assert provably_small(
                _list_parquet_files_sized(spark, f"{idx.path}/sigs"), spark,
                per_byte=X["stored_sig"],
            )
        outs[arm] = got
    assert outs["small"] == outs["measured"] == outs["shuffle"]
    assert outs["small"][0]  # the sphinx pair crosses the batches


def _broadcast_payloads(df) -> list[tuple[str, int]]:
    """(output columns, serialized bytes) of every broadcast relation the
    executed plan of ``df`` built, cached subplans included. Serialized
    bytes are what each executor receives; the exchange's ``dataSize``
    metric counts whole allocator pages instead (>= 32 MB for any
    string-keyed relation, however few its rows)."""
    jvm = df.sparkSession._jvm
    out = []

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        if cls == "InMemoryTableScanExec":
            walk(p.relation().cachedPlan())
        if cls == "BroadcastExchangeExec":
            buf = jvm.java.io.ByteArrayOutputStream()
            oos = jvm.java.io.ObjectOutputStream(buf)
            p.relationFuture().get().value().writeExternal(oos)
            oos.flush()
            out.append((p.output().toString(), buf.size()))
        it = p.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _footer_rows_unc(paths) -> tuple[int, int]:
    import glob

    import pyarrow.parquet as pq

    rows = unc = 0
    for path in paths:
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
            m = pq.ParquetFile(f).metadata
            rows += m.num_rows
            unc += sum(
                m.row_group(i).column(j).total_uncompressed_size
                for i in range(m.num_row_groups)
                for j in range(m.num_columns)
            )
    return rows, unc


@pytest.mark.parametrize("shingle_n", [3, 5])
@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_expansion_table_bounds_broadcasts(spark, tmp_path, hash_fn, shingle_n):
    """Every small spelling, built on the worst case of the expansion
    table (1-char tokens, all shingles and digests distinct), broadcasts
    no more than the byte bound the size gate computes for its input
    from footers: the docs broadcast of the pair operators (at shingle
    width ``shingle_n``), the digest broadcast of
    cross_corpus_duplicate_spans, and the bucket and signature
    broadcasts of MinHashIndex.add."""
    import random

    from ralf_spark.operators.dedup import (
        MinHashIndex,
        cross_corpus_duplicate_spans,
    )
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.plans.sizing import EXPANSION as X
    from ralf_spark.plans.sizing import provably_small, shingle_expansion

    rnd = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    paths = []
    for half in range(2):
        rows = [
            (i, " ".join(rnd.choice(letters) for _ in range(400)))
            for i in range(half * 150, half * 150 + 150)
        ]
        if half == 0:
            doc0 = rows[0][1]
        else:
            # one near-duplicate of doc 0, so every hash and width has a
            # candidate pair (with none, AQE drops the verification join
            # and the docs broadcast is never built)
            rows[-1] = (rows[-1][0], doc0[:-1] + "z")
        paths.append(str(tmp_path / f"docs{half}"))
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(paths[-1])
    first, second = (
        FeatureTable(spark.read.parquet(p), key="doc_id") for p in paths
    )
    corpus = FeatureTable(spark.read.parquet(*paths), key="doc_id")
    _, unc = _footer_rows_unc(paths)

    def measured(df, col):
        df.collect()
        sizes = [b for cols, b in _broadcast_payloads(df) if col in cols]
        unpersist_cached(df)
        assert sizes, f"no broadcast of {col}: small spelling not taken"
        return max(sizes)

    # pair operators: the docs (shingle table) broadcast
    per_byte = shingle_expansion(shingle_n)
    assert provably_small(corpus.df, per_byte=per_byte)
    got = measured(
        near_dup_pairs(corpus, hash_fn=hash_fn, shingle_n=shingle_n), "_sh"
    )
    assert got <= unc * per_byte, (got, unc)

    # cross-corpus spans: the eval side's digest broadcast
    assert provably_small(corpus.df, per_byte=X["digest"])
    got = measured(
        cross_corpus_duplicate_spans(corpus, corpus, hash_fn=hash_fn), "_dg"
    )
    assert got <= unc * X["digest"], (got, unc)

    # MinHashIndex.add: batch buckets and (stored + batch) signatures
    idx = MinHashIndex(str(tmp_path / "mh"), hash_fn=hash_fn, shingle_n=shingle_n)
    idx.build(first)
    _, store_unc = _footer_rows_unc([f"{idx.path}/sigs"])
    batch_rows, _ = _footer_rows_unc(paths[1:])
    batch_bound = batch_rows * max(
        idx.num_perm * X["sig_perm"] + X["sig_frame"],
        idx.bands * X["bucket_row"],
    )
    pairs = idx.add(second)
    pairs.collect()
    sizes = _broadcast_payloads(pairs)
    unpersist_cached(pairs)
    buckets = [b for cols, b in sizes if "_band" in cols]
    sigs = [b for cols, b in sizes if "_sig" in cols]
    assert buckets and sigs, sizes
    assert max(buckets) <= batch_bound, (buckets, batch_bound)
    sig_bound = batch_bound + store_unc * X["stored_sig"]
    assert max(sigs) <= sig_bound, (sigs, sig_bound)


def test_observed_rows_falls_back_to_count(spark):
    """The bounded Observation read: a metric whose job already ran is
    read with no job; one whose dataset never ran an action is not
    waited on forever — the row count comes from a count job instead."""
    from pyspark.sql import Observation

    from ralf_spark.operators.util import observed_rows

    sc = spark.sparkContext

    def rows_and_jobs(group, obs, df):
        # a group of its own: the ungrouped job list is capped by
        # spark.ui.retainedJobs, so its length stops growing in a long
        # session
        sc.setJobGroup(group, "observed_rows")
        try:
            rows = observed_rows(obs, df)
        finally:
            sc.setJobGroup(None, None)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    fired = Observation()
    df = spark.range(7).observe(fired, F.count(F.lit(1)).alias("rows"))
    df.collect()
    # read from the observation
    assert rows_and_jobs("observed_fired", fired, df) == (7, 0)

    never = Observation()
    df = spark.range(5).observe(never, F.count(F.lit(1)).alias("rows"))
    rows, jobs = rows_and_jobs("observed_never", never, df)
    assert rows == 5 and jobs > 0  # the fallback count ran


def test_choose_broadcast_bound_vs_limit():
    """The measured spelling broadcasts while the bound stays at most
    the module limit."""
    import ralf_spark.plans.sizing as sz

    assert sz.choose_broadcast(lambda: sz.BROADCAST_CANDIDATE_LIMIT) is True
    assert sz.choose_broadcast(
        lambda: sz.BROADCAST_CANDIDATE_LIMIT + 1
    ) is False


@pytest.mark.slow
def test_minhash_index_add_spellings_identical(
    spark, tmp_path, monkeypatch, spelling_probe
):
    """r9: MinHashIndex.add on an in-memory batch (the footer gate
    refuses it) scores with the measured chained broadcast, and under a
    pair limit of 0 with shuffle joins; both return the same pairs."""
    import ralf_spark.operators.dedup as dd
    import ralf_spark.plans.sizing as sz
    from ralf_spark.operators.util import unpersist_cached

    base = "the quick brown fox jumps over the lazy dog again and again"
    first = _docs(spark, [(1, base), (3, "alpha beta gamma delta epsilon "
                                         "zeta eta theta iota kappa")])
    second = _docs(spark, [(2, base + " tonight")])
    got = {}
    for arm in ("measured", "shuffle"):
        idx = dd.MinHashIndex(str(tmp_path / arm))
        idx.build(first)
        spelling_probe.clear()
        with monkeypatch.context() as m:
            if arm == "shuffle":
                m.setattr(sz, "BROADCAST_CANDIDATE_LIMIT", 0)
            pairs = idx.add(second)
        assert spelling_probe, arm  # the stats job ran
        assert _join_spellings(pairs, "id1", "id2") == _SCORING[arm], arm
        got[arm] = sorted(
            (r.id1, r.id2, round(r.est_jaccard, 6)) for r in pairs.collect()
        )
        unpersist_cached(pairs, blocking=True)
    assert got["measured"] == got["shuffle"]
    assert [(p[0], p[1]) for p in got["measured"]] == [(1, 2)]


def test_near_dup_unpersist_cached_releases_storage(spark):
    from ralf_spark.operators.util import unpersist_cached

    t = _docs(spark, [(1, "a b c d e"), (2, "a b c d f")])
    out = near_dup_pairs(t)
    out.collect()
    # three persisted intermediates since r8: shingle projection, band
    # buckets, and the candidate pairs (the verification prefilter reads
    # the pair set three times)
    assert len(out._ralf_cached) == 3
    assert all(df.storageLevel.useMemory for df in out._ralf_cached)
    unpersist_cached(out, blocking=True)
    assert not any(df.storageLevel.useMemory for df in out._ralf_cached)


def test_minhash_bad_hash_fn_raises():
    with pytest.raises(ValueError):
        minhash_signature(F.col("text"), hash_fn="sha999")


def test_minhash_signature_shape_and_permutation_variety(spark):
    t = _docs(spark, [(1, "w1 w2 w3 w4 w5 w6 w7 w8")])
    sig = t.df.select(
        minhash_signature(F.col("text"), num_perm=8).alias("s")
    ).collect()[0][0]
    assert len(sig) == 8
    # Different salts => (near-certainly) different minima.
    assert len(set(sig)) > 1


def test_minhash_short_doc_yields_null_entries(spark):
    t = _docs(spark, [(1, "only two")])  # < 3 tokens -> no shingles
    sig = t.df.select(
        minhash_signature(F.col("text"), num_perm=4).alias("s")
    ).collect()[0][0]
    assert sig == [None] * 4


def test_language_id_heuristic(spark):
    t = _docs(
        spark,
        [
            (1, "the cat is on the mat and it is flat"),
            (2, "der hund ist nicht zu haus und das ist gut"),
            (3, "el perro es un animal y una mascota que ladra"),
            (4, "zzz qqq www"),
        ],
    )
    out = {
        r.doc_id: r.p
        for r in t.df.select(
            "doc_id", language_id(F.col("text")).alias("p")
        ).collect()
    }
    assert out == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_quality_score_bounds_and_ordering(spark):
    rich = " ".join(f"tok{i} the of and is" for i in range(30))
    poor = "x x x x"
    t = _docs(spark, [(1, rich), (2, poor)])
    out = {
        r.doc_id: r.q
        for r in t.df.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_tokens_whitespace_contract(spark):
    """tokens() splits on RUNS of ASCII whitespace — LF, TAB, CR, VT, FF,
    and consecutive spaces are all boundaries (functions/text.py contract;
    real corpora are multi-line). The DuckDB twin must agree byte-for-byte
    on the same inputs, including the \\x0B case where Java's \\s and RE2's
    \\s disagree (the explicit class keeps them identical)."""
    from ralf_spark.functions.text import tokens, tokens_sql
    import duckdb

    cases = [
        "foo\nbar",
        "a\tb\tc",
        "x  y   z",
        "lead \r\n trail\f mix\x0bend",
        "  edge  \n",
        "single",
        "",
    ]
    t = _docs(spark, list(enumerate(cases)))
    got = {
        r.doc_id: list(r.w)
        for r in t.df.select(
            "doc_id", tokens(F.col("text")).alias("w")
        ).collect()
    }
    expect = {i: s.split() for i, s in enumerate(cases)}
    assert got == expect

    con = duckdb.connect()
    for i, s in enumerate(cases):
        dk = con.execute(
            f"SELECT {tokens_sql('?')} AS w", [s]
        ).fetchone()[0]
        assert list(dk) == expect[i], (s, dk)


def test_token_count_regex(spark):
    t = _docs(spark, [(1, "abc 123 def45")])
    n = t.df.select(token_count_regex(F.col("text")).alias("n")).collect()[0].n
    assert n == 4  # abc, 123, def, 45


def test_simhash_near_dups_are_hamming_close(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    near = base.replace("twelve", "thirteen")
    other = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t = _docs(spark, [(1, base), (2, near), (3, other)])
    fp = {
        r.doc_id: r.f
        for r in t.df.select(
            "doc_id", simhash_fingerprint(F.col("text")).alias("f")
        ).collect()
    }

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(fp[1], fp[2]) < hamming(fp[1], fp[3])


def test_simhash_empty_shingles_is_zero(spark):
    t = _docs(spark, [(1, "ab")])
    fp = t.df.select(simhash_fingerprint(F.col("text")).alias("f")).collect()
    assert fp[0].f == 0


def test_exact_dedup_requires_content_expr(spark):
    t = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        exact_dedup(t)


# ---------------------------------------------------------------- similarity

from ralf_spark.operators.similarity import (  # noqa: E402
    ann_topk,
    cosine_topk,
    embedding_near_dup,
    hyperplane_signs,
    sign_lsh_bucket,
)


def _emb(spark, rows):
    return FeatureTable(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        key="vec_id",
    )


def test_cosine_topk_exact_ranking(spark):
    corpus = _emb(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
    )
    q = corpus.df.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = cosine_topk(corpus, q, k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [2, 3, 4]
    assert out[0].cos_sim > 0.99
    assert abs(out[1].cos_sim) < 1e-9
    assert out[2].cos_sim < -0.99


def test_sign_lsh_bucket_deterministic_and_bounded(spark):
    corpus = _emb(spark, [(i, [float(i), 1.0, -2.0, 0.5]) for i in range(20)])
    b1 = corpus.df.select(
        sign_lsh_bucket(F.col("embedding").cast("array<double>"), 4, 4).alias("b")
    ).collect()
    b2 = corpus.df.select(
        sign_lsh_bucket(F.col("embedding").cast("array<double>"), 4, 4).alias("b")
    ).collect()
    assert b1 == b2
    assert all(0 <= r.b < 16 for r in b1)


def test_hyperplane_signs_engine_independent():
    p = hyperplane_signs(3, 5)
    assert len(p) == 3 and all(len(row) == 5 for row in p)
    assert all(s in (-1, 1) for row in p for s in row)
    assert p == hyperplane_signs(3, 5)  # pure function of (nbits, dim)


def test_ann_topk_scores_match_bruteforce_on_shared_pairs(spark):
    rows = [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)]) for i in range(30)]
    corpus = _emb(spark, rows)
    q = corpus.df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    bf = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(corpus, q, k=30).collect()
    }
    ann = ann_topk(corpus, q, k=30, nbits=3, dim=8).collect()
    assert len(ann) > 0
    for r in ann:
        assert abs(bf[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_embedding_near_dup_pairs_ordered_and_thresholded(spark):
    corpus = _emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0]),
        ],
    )
    out = embedding_near_dup(corpus, threshold=0.9, nbits=2, dim=3).collect()
    assert all(r.id1 < r.id2 for r in out)
    assert {(r.id1, r.id2) for r in out} <= {(1, 2)}


def test_add_simhash_equals_column_form(spark):
    from ralf_spark.operators.text_analysis import add_simhash

    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} common tail words here") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {r.doc_id: r.simhash16 for r in add_simhash(df).collect()}
    slow = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", simhash_fingerprint(F.col("text")).alias("s")
        ).collect()
    }
    assert fast == slow


def test_dedup_clusters_transitive_chain(spark):
    """A~B, B~C, plus an unrelated pair D~E: the chain must collapse to one
    cluster with rep=min(id) even though (A, C) is not an edge."""
    from ralf_spark.operators.dedup import dedup_clusters
    from ralf_spark.operators.util import unpersist_cached

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 7)], "id1 long, id2 long"
    )
    out = dedup_clusters(pairs)
    got = {r.id: r.cluster_rep for r in out.collect()}
    unpersist_cached(out, blocking=True)
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


@pytest.mark.slow
def test_minhash_index_incremental_rounds(spark, tmp_path):
    """The index must accumulate: a doc added in round 1 is found as a
    near-dup of a doc added in round 2, and round 2 never re-hashes or
    re-pairs old-vs-old docs (pairs all touch the new batch)."""
    from ralf_spark.operators.dedup import MinHashIndex
    from ralf_spark.table import FeatureTable

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),                          # round 0 (build)
        (2, "completely different text about spark shuffles and joins ok"),
        (3, base + " tail"),                # round 1: near-dup of 1
        (4, "another unrelated document mentioning windows and watermarks"),
        (5, base + " tail"),                # round 2: dup of 3 AND 1
    ]

    def ft(ids):
        return FeatureTable(
            spark.createDataFrame(
                [r for r in rows if r[0] in ids], "doc_id long, text string"
            ),
            key="doc_id",
        )

    idx = MinHashIndex(str(tmp_path / "idx"), num_perm=16, bands=8,
                       hash_fn="xxhash64")
    idx.build(ft({1, 2}))
    p1 = {(r.id1, r.id2) for r in idx.add(ft({3, 4}), threshold=0.5).collect()}
    assert (1, 3) in p1            # new vs stored
    assert all(3 in p or 4 in p for p in p1)  # every pair touches round 1
    p2 = {(r.id1, r.id2) for r in idx.add(ft({5}), threshold=0.5).collect()}
    assert (1, 5) in p2 and (3, 5) in p2      # sees BOTH earlier rounds
    assert (1, 3) not in p2        # old-vs-old never re-emitted


@pytest.mark.slow
def test_minhash_index_add_replay_is_idempotent(spark, tmp_path):
    """Re-running add() with the same batch_tag (a micro-batch replay
    after failure) must REPLACE the batch's partition, not duplicate it:
    the stored index keeps one signature row per doc and a later add still
    emits each pair once."""
    from ralf_spark.operators.dedup import MinHashIndex
    from ralf_spark.table import FeatureTable

    base = "the quick brown fox jumps over the lazy dog again and again"

    def ft(rows):
        return FeatureTable(
            spark.createDataFrame(rows, "doc_id long, text string"),
            key="doc_id",
        )

    idx = MinHashIndex(str(tmp_path / "idx"), hash_fn="xxhash64")
    idx.build(ft([(1, base)]))
    batch = ft([(3, base + " tail")])
    first = {tuple(r) for r in idx.add(batch, batch_tag="b7").collect()}
    replay = {tuple(r) for r in idx.add(batch, batch_tag="b7").collect()}
    assert first == replay and any(p[:2] == (1, 3) for p in first)
    sigs = spark.read.parquet(str(tmp_path / "idx" / "sigs"))
    assert sigs.count() == 2  # one row per doc — the replay did not append
    # and a later batch sees each stored doc exactly once per pair
    p2 = [
        tuple(r[:2])
        for r in idx.add(ft([(5, base + " tail x")]), batch_tag="b8").collect()
    ]
    assert sorted(p2) == sorted(set(p2))


def test_incremental_minhash_oracle_sql_interpolates_new_pred():
    """ADVICE r4: the oracle must honor a non-default new_pred, qualified
    against both sides of the candidate self-join."""
    from ralf_spark.operators.dedup import incremental_minhash_oracle_sql

    sql = incremental_minhash_oracle_sql(new_pred="_id % 3 = 0")
    assert "(a._id % 3 = 0)" in sql and "(b._id % 3 = 0)" in sql
    assert "_id % 2 = 1" not in sql


def test_ivf_index_partition_prunes_and_accumulates(spark, tmp_path):
    """query() must read ONLY the probed cell directories (PartitionFilters
    on the cell column in the scan), and add() must fold new vectors into
    the same layout using the FROZEN quantizer."""
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.plans.explain import explain_str
    from ralf_spark.table import FeatureTable

    # two well-separated cells on the unit circle
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    corpus = FeatureTable(
        spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.8, 0.2]), (3, [0.1, 0.9])],
            "vec_id long, embedding array<double>",
        ),
        key="vec_id",
    )
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(corpus, cen)
    q = spark.createDataFrame(
        [(100, [1.0, 0.05])], "query_id long, query_vec array<double>"
    )
    out = idx.query(q, k=2, nprobe=1)
    plan = explain_str(out)
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    got = [(r.neighbor_id, r.rank) for r in out.collect()]
    assert got == [(1, 1), (2, 2)]  # cell-0 members only, cosine order

    # incremental add: new vector lands in cell 0 and is found next query
    idx.add(FeatureTable(
        spark.createDataFrame(
            [(4, [0.95, 0.05])], "vec_id long, embedding array<double>"
        ),
        key="vec_id",
    ))
    got2 = {r.neighbor_id for r in idx.query(q, k=3, nprobe=1).collect()}
    assert got2 == {1, 2, 4}


def test_kmeans_fit_matches_numpy_lloyd(spark):
    """Full Lloyd loop vs an independent numpy implementation: same seeds,
    same nearest-by-cosine assignment with smallest-id ties, same means —
    identical centroids after convergence on a well-separated dataset."""
    import numpy as np

    from ralf_spark.operators.similarity import kmeans_fit
    from ralf_spark.table import FeatureTable

    rng = [
        [1.0, 0.1], [0.9, 0.2], [0.8, 0.0],     # cluster A
        [0.1, 1.0], [0.0, 0.9], [0.2, 0.8],     # cluster B
    ]
    corpus = FeatureTable(
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(rng)],
            "vec_id long, embedding array<double>",
        ),
        key="vec_id",
    )
    seeds = [(0, rng[0]), (1, rng[3])]
    cen = spark.createDataFrame(
        seeds, "centroid_id long, centroid_vec array<double>"
    )
    got = {
        r.centroid_id: list(r.centroid_vec)
        for r in kmeans_fit(corpus, cen, max_iter=10).collect()
    }

    X = np.array(rng)
    C = np.array([s[1] for s in seeds])
    for _ in range(10):
        sims = (X @ C.T) / (
            np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)
        )
        assign = sims.argmax(axis=1)  # argmax takes first (smallest id) tie
        newC = np.array(
            [X[assign == j].mean(axis=0) if (assign == j).any() else C[j]
             for j in range(len(C))]
        )
        if ((newC - C) ** 2).sum(axis=1).max() <= 1e-6:
            C = newC
            break
        C = newC
    for j in range(2):
        assert got[j] == list(C[j]), (j, got[j], C[j])


def test_ensure_parallelism_uses_plan_metadata(spark, tmp_path):
    """A small file-backed frame is repartitioned to the target; a frame
    whose PACKED split estimate already reaches the target is returned
    UNCHANGED (same plan object - proves no repartition and no RDD probe
    needed on the at-scale path). Raw file count is NOT enough: Spark
    packs small files into shared splits (ADVICE r5)."""
    from ralf_spark.operators.util import _parse_bytes, ensure_parallelism

    small = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(small)
    df = spark.read.parquet(small)
    out = ensure_parallelism(df, min_partitions=8)
    assert out is not df and out.rdd.getNumPartitions() == 8

    many = str(tmp_path / "many_files")
    spark.range(100).repartition(8).write.parquet(many)
    df2 = spark.read.parquet(many)
    # 8 tiny files pack into ~1 scan split at the default 128 MB
    # maxPartitionBytes -> the size-aware estimate must repartition
    # (the old raw-file-count shortcut wrongly skipped this)
    assert ensure_parallelism(df2, min_partitions=8) is not df2
    # zero-FS-call packing floor: when n_files * openCost alone covers
    # target * maxPartitionBytes, the frame passes through untouched
    prev_mb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "4m")
    try:
        assert ensure_parallelism(df2, min_partitions=8) is df2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)

    # in-memory frames (no file lineage) still get parallelized
    local = spark.createDataFrame([(i,) for i in range(10)], "x long")
    assert (
        ensure_parallelism(local, min_partitions=64).rdd.getNumPartitions()
        == 64
    )

    assert _parse_bytes("134217728b") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1024**3
    assert _parse_bytes("garbage") == 128 * 1024 * 1024


def test_ensure_parallelism_many_large_files_no_shuffle(spark, tmp_path):
    """ADVICE r6: with > 64 files all comfortably sized, the openCost-only
    floor under-estimates (unsampled files credited ~nothing) and the old
    code repartitioned — a full shuffle of the whole dataset on the
    at-scale path. The min-sampled-size extrapolation must skip it.

    Modeled locally by setting maxPartitionBytes = the measured mean file
    size, so 100 near-uniform files ~= 100 splits: the strict 64-stat
    bound reads ~65 splits < target 96, while min-size extrapolation over
    the remaining 36 near-uniform files reads ~100 >= 96."""
    import pathlib

    from ralf_spark.operators.util import ensure_parallelism

    many = str(tmp_path / "large_files")
    # 100 similar-size files (uniform -> stratified min is representative)
    spark.range(10_000).repartition(100).write.parquet(many)
    df = spark.read.parquet(many)
    sizes = sorted(
        p.stat().st_size for p in pathlib.Path(many).glob("*.parquet")
    )
    assert len(sizes) == 100
    mean = sum(sizes) // len(sizes)
    assert sizes[0] > 0.9 * mean  # uniformity the scenario relies on
    prev_mb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(mean))
    spark.conf.set("spark.sql.files.openCostInBytes", "16")
    try:
        assert ensure_parallelism(df, min_partitions=96) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)


def test_duplicated_spans_xxhash64_matches_md5_stats(spark):
    """Production hash mode: span duplication statistics depend only on
    hash EQUALITY, so the xxhash64 spelling must reproduce the
    oracle-checked md5 results exactly."""
    from ralf_spark.operators.dedup import duplicated_spans

    seg = "one two three four five six seven eight nine ten"
    rows = [
        (1, seg + " alpha beta gamma"),
        (2, seg + " delta epsilon zeta"),   # shares the 10-token span with 1
        (3, "totally different words " * 3),
    ]
    t = _docs(spark, rows)
    md5 = {tuple(r) for r in duplicated_spans(t, n=10).collect()}
    fast = {tuple(r) for r in duplicated_spans(t, n=10, hash_fn="xxhash64").collect()}
    assert md5 == fast
    assert any(r[0] == 1 and r[2] >= 1 for r in md5)  # the shared span counted
    with pytest.raises(ValueError):
        duplicated_spans(t, hash_fn="sha1")


def test_simhash_near_dup_pairs_pigeonhole_recall_and_plan(spark):
    """Any pair within the Hamming radius MUST be found (pigeonhole over
    bands is exact, not probabilistic, given the fingerprints); disjoint
    docs stay unpaired; candidate generation is a bucket equi-join, never
    a cartesian plan. Both hash modes: md5 checked against
    ``add_simhash``'s fingerprints, xxhash64 against
    ``simhash_fingerprints_agg``'s."""
    from ralf_spark.operators.dedup import simhash_near_dup_pairs
    from ralf_spark.operators.text_analysis import (
        add_simhash,
        simhash_fingerprints_agg,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain falls softly on the quiet grey town tonight")
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, "completely different words about catalyst shuffle plans and "
            "arrow batches in a distributed engine running somewhere else"),
    ]
    t = _docs(spark, rows)
    truth = {
        "md5": add_simhash(t.df, out_col="fp", bits=48),
        "xxhash64": simhash_fingerprints_agg(
            t.df, "doc_id", bits=48, hash_fn="xxhash64"
        ),
    }
    for hash_fn, fp_df in truth.items():
        out = simhash_near_dup_pairs(
            t, bits=48, max_hamming=3, hash_fn=hash_fn
        )
        pairs = {(r.id1, r.id2): r.hamming for r in out.collect()}
        # ground truth from the fingerprints themselves
        fps = {r.doc_id: r.fp for r in fp_df.select("doc_id", "fp").collect()}
        assert len(fps) == 3, hash_fn
        for a in fps:
            for b in fps:
                if a < b and fps[a] and fps[b]:
                    h = bin((fps[a] ^ fps[b]) & ((1 << 48) - 1)).count("1")
                    if h <= 3:
                        assert (a, b) in pairs and pairs[(a, b)] == h, hash_fn
                    else:
                        assert (a, b) not in pairs, hash_fn
        plan = explain_str(out, mode="extended")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_simhash_block_tables_equal_default_banding(spark):
    """r8: the Manku block-combination generalization (``blocks`` knob)
    must produce IDENTICAL output to the minimum-band spelling for every
    valid block count — candidates are always popcount-verified, so only
    the candidate set (and its n²/2^keywidth collision floor) changes.
    Invalid block counts are rejected (pigeonhole needs blocks > h)."""
    import pytest

    from ralf_spark.operators.dedup import simhash_near_dup_pairs

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain falls softly on the quiet grey town tonight")
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, base.replace("quick", "rapid").replace("lazy", "idle")),
        (4, "completely different words about catalyst shuffle plans and "
            "arrow batches in a distributed engine running somewhere else"),
    ]
    t = _docs(spark, rows)
    want = sorted(
        (r.id1, r.id2, r.hamming)
        for r in simhash_near_dup_pairs(t, bits=48, max_hamming=3).collect()
    )
    for blocks in (5, 6, 8):
        got = sorted(
            (r.id1, r.id2, r.hamming)
            for r in simhash_near_dup_pairs(
                t, bits=48, max_hamming=3, blocks=blocks
            ).collect()
        )
        assert got == want, blocks
    with pytest.raises(ValueError, match="blocks must be >="):
        simhash_near_dup_pairs(t, bits=48, max_hamming=3, blocks=3)
    with pytest.raises(ValueError, match="blocks must be <="):
        simhash_near_dup_pairs(t, bits=48, max_hamming=3, blocks=49)

    # r9 (VERDICT r8 #7): blocks=None auto-selects from the corpus count
    # (here 4 docs -> the minimum-band spelling) or a passed n_docs
    # estimate — both output-identical to every pinned spelling
    auto = sorted(
        (r.id1, r.id2, r.hamming)
        for r in simhash_near_dup_pairs(t, bits=48, max_hamming=3,
                                        blocks=None).collect()
    )
    assert auto == want
    est = sorted(
        (r.id1, r.id2, r.hamming)
        for r in simhash_near_dup_pairs(t, bits=48, max_hamming=3,
                                        n_docs=1_000_000).collect()
    )
    assert est == want


def test_choose_simhash_blocks_crossover_table():
    """r9: the auto-selection cost model — C(b,h)·n table volume plus the
    n²/2^(bits·(b−h)/b) collision floor — pinned at the documented
    crossovers (bits=48, h=3): minimum-band through ~2.5·10⁴ docs, 5
    blocks through ~6.2·10⁶, 6 beyond; never below the pigeonhole
    minimum, and a tiny corpus always gets the cheapest spelling."""
    from ralf_spark.operators.dedup import choose_simhash_blocks

    assert choose_simhash_blocks(500) == 4
    assert choose_simhash_blocks(5_000) == 4
    assert choose_simhash_blocks(100_000) == 5
    assert choose_simhash_blocks(1_000_000) == 5
    assert choose_simhash_blocks(10_000_000) == 6
    for n in (1, 100, 10**4, 10**6, 10**8):
        b = choose_simhash_blocks(n)
        assert 4 <= b <= 16
    # other geometries stay above their pigeonhole minimum too
    assert choose_simhash_blocks(10**6, bits=60, max_hamming=2) >= 3


def test_shingle_expressions_let_bind_token_pipeline(spark):
    """Regression canary for the r5 shingle blowup: the token pipeline
    (split+filter) must appear EXACTLY ONCE in each shingle expression
    tree. Without the let-binding, every element_at in the per-gram
    lambda embeds its own copy (n copies for n-grams), and interpreted
    evaluation re-runs the split per element - the 20.9s->3.4s
    decontamination regression class (BENCH_NOTES r5)."""
    from ralf_spark.functions.text import (
        distinct_shingles,
        hashed_shingles,
        tokens,
        word_shingles,
    )

    for expr in [
        word_shingles(tokens(F.col("text")), 8),
        distinct_shingles(F.col("text"), 8),
        hashed_shingles(F.col("text"), 8),
    ]:
        s = str(expr)
        assert s.count("split(text") == 1, s[:200]


def test_hash_mode_env_default(spark, monkeypatch):
    """SPARK_GRAFT_HASH_FN flips the whole dedup/fingerprint family to
    production hashing without touching call sites: operators left at
    hash_fn=None plan xxhash64 (and no md5) under the env var, md5
    without it (the oracle-replayable default)."""
    from ralf_spark.functions.hashing import default_hash_fn
    from ralf_spark.operators.dedup import (
        duplicated_spans,
        minhash_signature,
        simhash_near_dup_pairs,
    )
    from ralf_spark.plans.explain import explain_str
    from ralf_spark.table import FeatureTable

    docs = FeatureTable(
        spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
        ),
        key="doc_id",
    )

    def modes(df):
        plan = explain_str(df)
        return "xxhash64" in plan, "md5(" in plan

    monkeypatch.delenv("SPARK_GRAFT_HASH_FN", raising=False)
    assert default_hash_fn() == "md5"
    sig = docs.df.select(minhash_signature(F.col("text"), num_perm=2))
    has_xx, has_md5 = modes(sig)
    assert has_md5 and not has_xx

    monkeypatch.setenv("SPARK_GRAFT_HASH_FN", "xxhash64")
    assert default_hash_fn() == "xxhash64"
    sig = docs.df.select(minhash_signature(F.col("text"), num_perm=2))
    has_xx, has_md5 = modes(sig)
    assert has_xx and not has_md5
    has_xx, has_md5 = modes(duplicated_spans(docs, n=2))
    assert has_xx and not has_md5
    has_xx, has_md5 = modes(simhash_near_dup_pairs(docs, bits=8))
    assert has_xx and not has_md5
    # results still well-formed in production mode (values differ from
    # md5 mode by design; the shed/verify semantics don't)
    rows = duplicated_spans(docs, n=4).collect()
    assert {r.doc_id for r in rows} == {1, 2}

    monkeypatch.setenv("SPARK_GRAFT_HASH_FN", "blake3")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SPARK_GRAFT_HASH_FN"):
        default_hash_fn()


def test_minhash_index_pins_hash_config(spark, tmp_path, monkeypatch):
    """The persisted index records its hashing config; a handle whose
    resolved config disagrees (e.g. SPARK_GRAFT_HASH_FN flipped between
    crawl rounds) must raise instead of silently joining md5 band keys
    against xxhash64 ones (zero collisions = empty pairs)."""
    from ralf_spark.operators.dedup import MinHashIndex

    monkeypatch.delenv("SPARK_GRAFT_HASH_FN", raising=False)  # md5 build
    docs = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e g")])
    path = str(tmp_path / "idx")
    MinHashIndex(path, num_perm=4, bands=2).build(docs)
    # same config reopens and folds fine
    more = _docs(spark, [(3, "a b c d e h")])
    pairs = MinHashIndex(path, num_perm=4, bands=2).add(more, threshold=0.0)
    assert pairs.count() > 0
    # flipped env default -> resolved hash_fn differs -> hard error
    monkeypatch.setenv("SPARK_GRAFT_HASH_FN", "xxhash64")
    with pytest.raises(ValueError, match="hashing or tokenization"):
        MinHashIndex(path, num_perm=4, bands=2).add(more)
    monkeypatch.delenv("SPARK_GRAFT_HASH_FN")
    # different banding shape also rejected
    with pytest.raises(ValueError, match="hashing or tokenization"):
        MinHashIndex(path, num_perm=8, bands=4).add(more)
    # ADVICE r6: a crashed first writer can leave _meta as an empty dir
    # (created, no committed parquet). Treated as ABSENT -> rewritten on
    # the next open, not an opaque read error on every later operation.
    import pathlib
    import shutil

    meta = pathlib.Path(path) / "_meta"
    shutil.rmtree(meta)
    meta.mkdir()
    pairs2 = MinHashIndex(path, num_perm=4, bands=2).add(
        _docs(spark, [(4, "a b c d e i")]), threshold=0.0
    )
    assert pairs2.count() > 0
    # and the rewritten meta pins the config again
    with pytest.raises(ValueError, match="hashing or tokenization"):
        MinHashIndex(path, num_perm=8, bands=4).add(more)


def test_ivf_index_add_replay_idempotent(spark, tmp_path):
    """r7: IvfIndex adds are exactly-once under micro-batch replay — a
    re-applied batch_tag rewrites its own (cell, _batch) directories
    instead of duplicating vectors (the MinHashIndex regime ported to
    the ANN index)."""
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    base = FeatureTable(
        spark.createDataFrame(
            [(1, [0.9, 0.1]), (2, [0.1, 0.9])],
            "vec_id long, embedding array<double>",
        ),
        key="vec_id",
    )
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(base, cen)
    batch = FeatureTable(
        spark.createDataFrame(
            [(3, [0.95, 0.05]), (4, [0.05, 0.95])],
            "vec_id long, embedding array<double>",
        ),
        key="vec_id",
    )
    idx.add(batch, batch_tag="b7")
    idx.add(batch, batch_tag="b7")  # replay: must be a no-op
    cells = spark.read.parquet(str(tmp_path / "ivf" / "cells"))
    ids = sorted(r._id for r in cells.collect())
    assert ids == [1, 2, 3, 4]
    # and query() still sees the folded vectors once
    q = spark.createDataFrame(
        [(100, [1.0, 0.02])], "query_id long, query_vec array<double>"
    )
    got = [(r.neighbor_id, r.rank)
           for r in idx.query(q, k=3, nprobe=1).collect()]
    assert got == [(3, 1), (1, 2)]


@pytest.mark.slow
def test_ivf_index_readd_updated_vector_dedups_all_paths(spark, tmp_path):
    """ADVICE r7: an id re-added under a NEW batch_tag with an UPDATED
    vector exists in two _batch partitions with different values —
    row-level distinct can't collapse the pair, so every query path
    (exact, adc, adc+rerank) must dedup per (query, neighbor), keeping
    the best score, or a neighbor occupies two top-k slots."""
    import numpy as np

    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(7)
    dim, m, kcodes = 4, 2, 3
    books = [rng.randn(kcodes, dim // m).round(3).tolist() for _ in range(m)]
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )

    def ft(rows):
        return FeatureTable(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ),
            key="vec_id",
        )

    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(
        ft([(1, [0.9, 0.1, 0.0, 0.0]), (2, [0.8, 0.2, 0.0, 0.0])]),
        cen,
        codebooks=books,
    )
    # id 1 re-added with an UPDATED embedding under a new tag: both
    # versions now live in cells/ (different _v AND different codes)
    idx.add(ft([(1, [0.7, 0.3, 0.0, 0.0])]), batch_tag="update1")
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])],
        "query_id long, query_vec array<double>",
    )
    for kwargs in (
        {"method": "exact"},
        {"method": "adc"},
        {"method": "adc", "rerank": 10},
    ):
        rows = idx.query(q, k=5, nprobe=1, **kwargs).collect()
        ids = [r.neighbor_id for r in rows]
        assert len(ids) == len(set(ids)) == 2, (kwargs, ids)
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2]


def test_ivf_index_rebuild_replaces_everything(spark, tmp_path):
    """r7 review: a re-build (periodic re-clustering) must clear the
    whole cells tree — the dynamic-overwrite write only touches the
    (cell, _batch=base) partitions of the NEW assignment, so without the
    delete prior add() batches and orphaned cells would survive with
    stale assignments under the OLD centroids."""
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    def ft(rows):
        return FeatureTable(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ),
            key="vec_id",
        )

    cen1 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(ft([(1, [0.9, 0.1]), (2, [0.1, 0.9])]), cen1)
    idx.add(ft([(3, [0.95, 0.05])]), batch_tag="b0")

    # re-cluster: swapped centroids, smaller corpus (no id 2, no add)
    cen2 = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    idx.build(ft([(1, [0.9, 0.1])]), cen2)
    cells = spark.read.parquet(str(tmp_path / "ivf" / "cells"))
    rows = [(r._id, r.cell) for r in cells.collect()]
    # ONLY the new corpus, assigned under the NEW centroids (cell 1 now)
    assert rows == [(1, 1)]
    q = spark.createDataFrame(
        [(100, [1.0, 0.02])], "query_id long, query_vec array<double>"
    )
    got = {r.neighbor_id for r in idx.query(q, k=5, nprobe=1).collect()}
    assert got == {1}  # no stale b0/id-3 or dropped id-2 leaks


def test_minhash_meta_committed_read_failure_raises(spark, tmp_path):
    """r7 review: an UNREADABLE but COMMITTED _meta (corruption, a
    permission blip) must raise, not silently rewrite the stored hash
    config; only a crashed first writer's empty/partial directory (no
    committed part files) is treated as absent."""
    import pytest

    from ralf_spark.operators.dedup import MinHashIndex

    path = tmp_path / "mh"
    meta = path / "_meta"
    meta.mkdir(parents=True)
    # crashed first writer: directory exists, no committed data file
    idx = MinHashIndex(str(path), hash_fn="md5")
    idx._store.pin_meta(spark)  # rewrites _meta, no error
    stored = spark.read.parquet(str(meta)).collect()[0]
    assert stored.hash_fn == "md5"

    # committed-but-unreadable: a non-empty part file that is not parquet
    meta2 = tmp_path / "mh2" / "_meta"
    meta2.mkdir(parents=True)
    (meta2 / "part-00000-garbage.parquet").write_bytes(b"not parquet")
    idx2 = MinHashIndex(str(tmp_path / "mh2"), hash_fn="md5")
    with pytest.raises(Exception):
        idx2._store.pin_meta(spark)


def test_pq_encode_and_adc_match_numpy(spark):
    """PQ (r7): encoding is the per-subspace squared-L2 argmin and ADC
    reproduces the LUT-sum distances — checked against an independent
    numpy implementation; precoded and one-shot spellings agree."""
    import numpy as np

    from ralf_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_precoded,
        pq_encode,
    )
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(7)
    n, dim, m, kcodes = 40, 8, 2, 3
    dsub = dim // m
    X = rng.randn(n, dim).round(3)
    books = [rng.randn(kcodes, dsub).round(3).tolist() for _ in range(m)]
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    codes_np = np.zeros((n, m), dtype=int)
    for j in range(m):
        sub = X[:, j * dsub:(j + 1) * dsub]
        d = ((sub[:, None, :] - np.array(books[j])[None, :, :]) ** 2).sum(-1)
        codes_np[:, j] = d.argmin(1)
    enc = pq_encode(df, books)
    assert enc.columns == ["vec_id", "code_0", "code_1"]  # vector pruned
    got = np.array(
        [[r.code_0, r.code_1] for r in enc.orderBy("vec_id").collect()]
    )
    assert (got == codes_np).all()

    q0 = X[0]
    lut = np.array(
        [
            [((q0[j * dsub:(j + 1) * dsub] - np.array(c)) ** 2).sum()
             for c in books[j]]
            for j in range(m)
        ]
    )
    ad = np.array([lut[range(m), codes_np[i]].sum() for i in range(n)])
    want = [
        (i, round(d, 6))
        for d, i in sorted((ad[i], i) for i in range(1, n))[:5]
    ]
    qdf = df.where("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    one_shot = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in pq_adc_topk(
            FeatureTable(df, key="vec_id"), qdf, books, k=5
        ).orderBy("rank").collect()
    ]
    assert one_shot == want
    precoded = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in pq_adc_topk_precoded(
            enc.withColumnRenamed("vec_id", "neighbor_id"), qdf, books, k=5
        ).orderBy("rank").collect()
    ]
    assert precoded == want


def test_pq_fit_reduces_quantization_error_and_validates(spark):
    """pq_fit is per-subspace Lloyd's: total quantization error must not
    increase; ragged codebooks are rejected."""
    import numpy as np
    import pytest

    from ralf_spark.operators.similarity import pq_encode, pq_fit
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(11)
    n, dim, m, kcodes = 60, 8, 2, 3
    dsub = dim // m
    X = rng.randn(n, dim).round(3)
    books = [rng.randn(kcodes, dsub).round(3).tolist() for _ in range(m)]
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    fitted = pq_fit(FeatureTable(df, key="vec_id"), books, max_iter=3)
    assert len(fitted) == m and all(len(b) == kcodes for b in fitted)

    def qerr(bks):
        e = 0.0
        for j in range(m):
            sub = X[:, j * dsub:(j + 1) * dsub]
            d = (
                (sub[:, None, :] - np.array(bks[j])[None, :, :]) ** 2
            ).sum(-1)
            e += d.min(1).sum()
        return e

    assert qerr(fitted) <= qerr(books) + 1e-9

    with pytest.raises(ValueError):
        pq_encode(df, [books[0], books[1][:1]])  # ragged k
    with pytest.raises(ValueError):
        pq_encode(df, [])


def test_ivf_pq_topk_matches_numpy_composition(spark):
    """IVF-PQ (r7): candidates pruned to the query's max-cosine cell,
    then ADC-scored — checked against an independent numpy composition
    of the same two stages."""
    import numpy as np

    from ralf_spark.operators.similarity import ivf_pq_topk
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(3)
    n, dim, m, kcodes = 50, 8, 2, 3
    dsub = dim // m
    X = rng.randn(n, dim).round(3)
    books = [rng.randn(kcodes, dsub).round(3).tolist() for _ in range(m)]
    cen = rng.randn(3, dim).round(3)  # 3 coarse cells
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cdf = spark.createDataFrame(
        [(c, cen[c].tolist()) for c in range(3)],
        "centroid_id long, centroid_vec array<double>",
    )

    def cell_of(v):
        cos = (cen @ v) / (np.linalg.norm(cen, axis=1) * np.linalg.norm(v))
        return int(cos.argmax())  # ties impossible on random floats

    cells = np.array([cell_of(X[i]) for i in range(n)])
    codes = np.zeros((n, m), dtype=int)
    for j in range(m):
        sub = X[:, j * dsub:(j + 1) * dsub]
        d = ((sub[:, None, :] - np.array(books[j])[None, :, :]) ** 2).sum(-1)
        codes[:, j] = d.argmin(1)

    qi = 0
    q = X[qi]
    lut = np.array(
        [
            [((q[j * dsub:(j + 1) * dsub] - np.array(c)) ** 2).sum()
             for c in books[j]]
            for j in range(m)
        ]
    )
    cand = [
        i for i in range(n) if i != qi and cells[i] == cell_of(q)
    ]
    ad = {i: lut[range(m), codes[i]].sum() for i in cand}
    want = [
        (i, round(d, 6)) for d, i in sorted((ad[i], i) for i in cand)[:5]
    ]

    qdf = df.where(f"vec_id = {qi}").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in ivf_pq_topk(
            FeatureTable(df, key="vec_id"), qdf, cdf, books, k=5, nprobe=1
        ).orderBy("rank").collect()
    ]
    assert got == want


@pytest.mark.slow
def test_exact_rerank_full_shortlist_equals_bruteforce(spark):
    """exact_rerank (r7): re-ranking a shortlist that contains EVERY
    candidate must reproduce the brute-force cosine top-k exactly
    (scores, order, ties) — the refine step adds no approximation of
    its own."""
    import numpy as np

    from ralf_spark.operators.similarity import cosine_topk, exact_rerank
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(5)
    n, dim = 30, 6
    X = rng.randn(n, dim).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    ft = FeatureTable(df, key="vec_id")
    qdf = df.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    want = [
        (r.query_id, r.neighbor_id, round(r.cos_sim, 9), r.rank)
        for r in cosine_topk(ft, qdf, k=4)
        .orderBy("query_id", "rank").collect()
    ]
    # the "shortlist" is every (query, candidate) pair
    full = df.selectExpr("vec_id AS neighbor_id").crossJoin(
        qdf.select("query_id")
    ).where("neighbor_id <> query_id")
    got = [
        (r.query_id, r.neighbor_id, round(r.cos_sim, 9), r.rank)
        for r in exact_rerank(full, ft, qdf, k=4)
        .orderBy("query_id", "rank").collect()
    ]
    assert got == want


@pytest.mark.slow
def test_ivf_index_pq_mode_adc_and_rerank(spark, tmp_path):
    """IVF-PQ persistent index (r7): codes stored next to the vectors,
    adc query equals the one-shot ivf_pq_topk, the adc scan READS ONLY
    the code columns (column pruning — no _v in ReadSchema) inside the
    probed cell partitions, rerank refines by exact cosine, and add()
    encodes with the STORED codebooks."""
    import numpy as np

    from ralf_spark.operators.similarity import IvfIndex, ivf_pq_topk
    from ralf_spark.plans.explain import explain_str
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(13)
    n, dim, m, kcodes = 40, 8, 2, 3
    dsub = dim // m
    X = rng.randn(n, dim).round(3)
    books = [rng.randn(kcodes, dsub).round(3).tolist() for _ in range(m)]
    cen = rng.randn(3, dim).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    ft = FeatureTable(df, key="vec_id")
    cdf = spark.createDataFrame(
        [(c, cen[c].tolist()) for c in range(3)],
        "centroid_id long, centroid_vec array<double>",
    )
    idx = IvfIndex(str(tmp_path / "ivfpq"))
    idx.build(ft, cdf, codebooks=books)
    qdf = df.where("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )

    out = idx.query(qdf, k=5, nprobe=1, method="adc")
    plan = explain_str(out)
    assert "PartitionFilters" in plan
    # column pruning: the adc scan must not read the raw vector
    scan_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "_v" not in scan_schema and "code_0" in scan_schema
    got = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in out.orderBy("rank").collect()
    ]
    want = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in ivf_pq_topk(ft, qdf, cdf, books, k=5, nprobe=1)
        .orderBy("rank").collect()
    ]
    assert got == want and len(got) > 0

    # rerank: exact cosine order within the ADC shortlist
    rer = idx.query(qdf, k=3, nprobe=1, method="adc", rerank=10)
    rows = rer.orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)

    # add() must encode with the stored codebooks
    extra = FeatureTable(
        spark.createDataFrame(
            [(100, X[1].tolist())], "vec_id long, embedding array<double>"
        ),
        key="vec_id",
    )
    idx.add(extra, batch_tag="b1")
    cells = spark.read.parquet(str(tmp_path / "ivfpq" / "cells"))
    row = cells.where("_id = 100").collect()[0]
    ref = cells.where("_id = 1").collect()[0]
    assert (row.code_0, row.code_1) == (ref.code_0, ref.code_1)

    # plain-IVF index refuses adc with a clear message
    import pytest

    plain = IvfIndex(str(tmp_path / "plain"))
    plain.build(ft, cdf)
    with pytest.raises(ValueError, match="codebooks"):
        plain.query(qdf, method="adc")


@pytest.mark.slow
def test_ivf_index_sq8_mode_query_add_rerank(spark, tmp_path):
    """IVF-SQ8 persistent index (r12): bounds frozen at build, sq8 query
    equals the one-shot ivf_sq8_topk, the sq8 scan reads only the code
    column (no _v in ReadSchema), rerank refines by exact cosine, add()
    encodes with the STORED bounds, and the modes are mutually
    exclusive."""
    import numpy as np
    import pytest

    from ralf_spark.operators.similarity import IvfIndex, ivf_sq8_topk
    from ralf_spark.plans.explain import explain_str
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(29)
    n, dim = 40, 8
    X = rng.randn(n, dim).round(3)
    cen = rng.randn(3, dim).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    ft = FeatureTable(df, key="vec_id")
    cdf = spark.createDataFrame(
        [(c, cen[c].tolist()) for c in range(3)],
        "centroid_id long, centroid_vec array<double>",
    )
    idx = IvfIndex(str(tmp_path / "ivfsq8"))
    idx.build(ft, cdf, sq8=True)
    qdf = df.where("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    out = idx.query(qdf, k=5, nprobe=1, method="sq8")
    plan = explain_str(out)
    assert "PartitionFilters" in plan
    scan_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "_v" not in scan_schema and "_sq8" in scan_schema
    got = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in out.orderBy("rank").collect()
    ]
    want = [
        (r.neighbor_id, round(r.approx_dist, 6))
        for r in ivf_sq8_topk(ft, qdf, cdf, k=5, nprobe=1)
        .orderBy("rank").collect()
    ]
    assert got == want and len(got) > 0

    rer = idx.query(qdf, k=3, nprobe=1, method="sq8", rerank=10)
    rows = rer.orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)

    # add() encodes with the STORED bounds: a re-added copy of vec 1
    # carries identical codes
    extra = FeatureTable(
        spark.createDataFrame(
            [(100, X[1].tolist())], "vec_id long, embedding array<double>"
        ),
        key="vec_id",
    )
    idx.add(extra, batch_tag="b1")
    cells = spark.read.parquet(str(tmp_path / "ivfsq8" / "cells"))
    row = cells.where("_id = 100").collect()[0]
    ref = cells.where("_id = 1").collect()[0]
    assert list(row._sq8) == list(ref._sq8)

    # non-SQ8 index refuses method='sq8'; modes are exclusive
    plain = IvfIndex(str(tmp_path / "plain2"))
    plain.build(ft, cdf)
    with pytest.raises(ValueError, match="sq8"):
        plain.query(qdf, method="sq8")
    with pytest.raises(ValueError, match="mutually exclusive"):
        IvfIndex(str(tmp_path / "both")).build(
            ft, cdf, sq8=True,
            codebooks=[[[0.0] * 4, [1.0] * 4]] * 2,
        )


def test_pq_encode_dim_mismatch_raises(spark):
    """r7 review: a vector whose dims don't match m*dsub must raise at
    execution, not silently encode code 0 everywhere (a short slice
    null-pads every distance)."""
    import pytest

    from ralf_spark.operators.similarity import pq_encode

    books = [[[0.0, 0.0], [1.0, 1.0]]] * 2  # m=2, dsub=2 -> expects 4
    bad = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="exactly 4 dims"):
        pq_encode(bad, books).collect()


def test_ivf_index_query_rerank_validation(spark, tmp_path):
    """r7 review: rerank with method='exact' raises (it would silently
    do nothing), rerank < 1 raises, and a ragged-codebook build fails
    BEFORE destroying the existing index."""
    import numpy as np
    import pytest

    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(2)
    X = rng.randn(10, 4).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    ft = FeatureTable(df, key="vec_id")
    cdf = spark.createDataFrame(
        [(0, X[0].tolist()), (1, X[1].tolist())],
        "centroid_id long, centroid_vec array<double>",
    )
    books = [rng.randn(2, 2).round(3).tolist() for _ in range(2)]
    idx = IvfIndex(str(tmp_path / "v"))
    idx.build(ft, cdf, codebooks=books)
    qdf = df.where("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    with pytest.raises(ValueError, match="rerank"):
        idx.query(qdf, method="exact", rerank=10)
    with pytest.raises(ValueError, match="rerank"):
        idx.query(qdf, method="adc", rerank=0)

    # ragged rebuild must fail fast and leave the index intact
    with pytest.raises(ValueError, match="ragged"):
        idx.build(ft, cdf, codebooks=[books[0], books[1][:1]])
    assert idx.query(qdf, k=2, method="adc").count() > 0  # still serving


def test_sign_lsh_bucket_expr_path_equals_column_path(spark):
    """r7: the name-based (parsed-SQL) construction of the LSH bucket
    must equal the Column-API overload bit-for-bit — same planes, same
    fold, same NULL handling."""
    import numpy as np

    from ralf_spark.operators.similarity import sign_lsh_bucket

    rng = np.random.RandomState(4)
    df = spark.createDataFrame(
        [(i, rng.randn(8).round(3).tolist()) for i in range(100)]
        + [(998, None)],  # NULL vector: both paths must bucket it as 0
        "id long, _v array<double>",
    )
    a = df.select(
        "id", sign_lsh_bucket(F.col("_v"), 5, 8).alias("b")
    ).orderBy("id").collect()
    b = df.select(
        "id", sign_lsh_bucket("_v", 5, 8).alias("b")
    ).orderBy("id").collect()
    assert a == b
    assert [r.b for r in b if r.id == 998] == [0]
    # nbits=0 degenerate single-bucket config parses and returns 0
    z = df.select(sign_lsh_bucket("_v", 0, 8).alias("b")).distinct()
    assert [r.b for r in z.collect()] == [0]


def test_nearest_cells_expr_path_equals_column_path(spark):
    """r7: same pin for the quantizer — the F.expr construction path
    (plan-build fast path) must reproduce the Column-API results
    including the (score, id) tie-break."""
    import numpy as np

    from ralf_spark.operators.similarity import nearest_cells

    rng = np.random.RandomState(6)
    cen = [(i, rng.randn(8).round(3).tolist()) for i in range(7)]
    # include an exact duplicate centroid to force a score tie
    cen.append((9, cen[0][1]))
    df = spark.createDataFrame(
        [(i, rng.randn(8).round(3).tolist()) for i in range(60)]
        + [(999, cen[0][1])],  # exact centroid hit -> tie between 0 and 9
        "id long, _v array<double>",
    )
    a = df.select(
        "id", nearest_cells(cen, F.col("_v"), 3).alias("c")
    ).orderBy("id").collect()
    b = df.select(
        "id", nearest_cells(cen, "_v", 3).alias("c")
    ).orderBy("id").collect()
    assert a == b
    tie = [r.c for r in b if r.id == 999][0]
    assert tie[0] == 0  # smallest id wins the tie


def test_sql_literal_builder_rejects_non_finite(spark):
    """r7 review: a NaN/Inf centroid or codebook entry raises a clear
    error at plan build instead of emitting invalid SQL ('nanD')."""
    import pytest

    from ralf_spark.operators.similarity import nearest_cells, pq_encode

    df = spark.createDataFrame(
        [(1, [0.1, 0.2])], "id long, _v array<double>"
    )
    with pytest.raises(ValueError, match="non-finite"):
        df.select(nearest_cells([(0, [float("nan"), 1.0])], "_v", 1))
    with pytest.raises(ValueError, match="non-finite"):
        pq_encode(df, [[[float("inf")], [0.0]], [[0.0], [1.0]]], vec_col="_v")


def test_pq_precoded_parquet_scan_prunes_vector_column(spark, tmp_path):
    """r7: the deployment claim for pq_adc_topk_precoded — searching a
    PERSISTED code table must read only (id, codes) at the parquet scan
    even when the raw vector column is stored alongside (column
    pruning), and the results equal the one-shot spelling."""
    import numpy as np

    from ralf_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_precoded,
        pq_encode,
    )
    from ralf_spark.plans.explain import explain_str
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(17)
    n, dim, m, kcodes = 30, 8, 2, 3
    X = rng.randn(n, dim).round(3)
    books = [
        rng.randn(kcodes, dim // m).round(3).tolist() for _ in range(m)
    ]
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "codes")
    pq_encode(df, books, keep_vec=True).write.parquet(path)
    stored = spark.read.parquet(path).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    qdf = df.where("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    out = pq_adc_topk_precoded(stored, qdf, books, k=5)
    plan = explain_str(out)
    scan_schema = plan.split("ReadSchema", 1)[1][:250]
    assert "embedding" not in scan_schema and "code_0" in scan_schema
    got = [(r.neighbor_id, round(r.approx_dist, 6))
           for r in out.orderBy("rank").collect()]
    want = [(r.neighbor_id, round(r.approx_dist, 6))
            for r in pq_adc_topk(FeatureTable(df, key="vec_id"), qdf,
                                 books, k=5).orderBy("rank").collect()]
    assert got == want


# ------------------------------------------------- r9: two-level cell select

def test_two_level_cells_degenerates_to_exact_scan():
    """coarse_probe >= n_coarse probes every live group, so selection must
    equal the flat nearest_cells_driver scan — over many random vectors
    and a centroid set with duplicate vectors (the live-group edge)."""
    import numpy as np

    from ralf_spark.operators.similarity import (
        TwoLevelCells,
        nearest_cells_driver,
    )

    rng = np.random.RandomState(7)
    cen = [(i, [float(x) for x in rng.randn(8)]) for i in range(100)]
    cen.append((100, list(cen[0][1])))  # duplicate vector, higher id
    tl = TwoLevelCells(cen)
    assert tl.n_coarse == 11  # ceil(sqrt(101))
    for _ in range(25):
        v = [float(x) for x in rng.randn(8)]
        exact = nearest_cells_driver(cen, v, 3)
        assert tl.query(v, 3, coarse_probe=tl.n_coarse) == exact


def test_two_level_cells_restriction_is_deterministic_and_covering():
    """coarse_probe=1 output is a deterministic restriction: selected ids
    are the exact argsort of the probed groups' members, every centroid
    belongs to exactly one group, and repeated structures agree."""
    import numpy as np

    from ralf_spark.operators.similarity import (
        TwoLevelCells,
        nearest_cells_driver,
    )

    rng = np.random.RandomState(11)
    cen = [(i, [float(x) for x in rng.randn(4)]) for i in range(64)]
    a, b = TwoLevelCells(cen), TwoLevelCells(cen)
    assert sum(len(m) for m in a.groups.values()) == 64
    assert {c for m in a.groups.values() for c, _ in m} == set(range(64))
    v = [1.0, -0.5, 0.25, 0.0]
    assert a.query(v, 2, 1) == b.query(v, 2, 1)
    g = nearest_cells_driver(a.live_coarse, v, 1)[0]
    assert a.query(v, 2, 1) == nearest_cells_driver(a.groups[g], v, 2)


@pytest.mark.slow
def test_ivf_index_query_two_level_matches_exact_on_clustered(spark, tmp_path):
    """End-to-end: IvfIndex.query(coarse_probe=...) — wide coarse_probe
    must return EXACTLY the default flat-scan results; coarse_probe=1 on
    well-separated cells also agrees (the true cell's group wins)."""
    import numpy as np

    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(3)
    k, per = 16, 12
    centers = rng.randn(k, 6) * 4
    rows, cen_rows = [], []
    for c in range(k):
        cen_rows.append((c, [float(x) for x in centers[c]]))
        for j in range(per):
            rows.append((c * per + j,
                         [float(x) for x in centers[c] + 0.05 * rng.randn(6)]))
    corpus = FeatureTable(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        key="vec_id",
    )
    cen = spark.createDataFrame(
        cen_rows, "centroid_id long, centroid_vec array<double>"
    )
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(corpus, cen)
    q = spark.createDataFrame(
        [(1000 + i, [float(x) for x in centers[i] + 0.05 * rng.randn(6)])
         for i in range(4)],
        "query_id long, query_vec array<double>",
    )
    base = sorted(map(tuple, idx.query(q, k=5, nprobe=2).collect()))
    wide = sorted(map(tuple, idx.query(
        q, k=5, nprobe=2, coarse_probe=99
    ).collect()))
    narrow = sorted(map(tuple, idx.query(
        q, k=5, nprobe=2, coarse_probe=1
    ).collect()))
    assert wide == base and len(base) == 20
    assert narrow == base  # well-separated: the true group is probed


@pytest.mark.slow
def test_ivf_index_query_auto_two_level_boundary(spark, tmp_path):
    """r10 (VERDICT r9 #2): coarse_probe='auto' (the new default) picks
    the exact flat scan below TWO_LEVEL_AUTO_MIN_K centroids and the
    two-level coarse search at/above it — each side of the boundary must
    equal its PINNED spelling row-for-row, and the explicit args pin
    regardless of k."""
    import numpy as np

    from ralf_spark.operators.similarity import (
        TWO_LEVEL_AUTO_MIN_K,
        TWO_LEVEL_AUTO_PROBE,
        IvfIndex,
    )
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(11)

    def build(n_cen, path):
        cen_rows = [
            (c, [float(x) for x in rng.randn(4)]) for c in range(n_cen)
        ]
        rows = [
            (i, [float(x) for x in rng.randn(4)]) for i in range(200)
        ]
        idx = IvfIndex(str(tmp_path / path))
        idx.build(
            FeatureTable(
                spark.createDataFrame(
                    rows, "vec_id long, embedding array<double>"
                ),
                key="vec_id",
            ),
            spark.createDataFrame(
                cen_rows, "centroid_id long, centroid_vec array<double>"
            ),
        )
        return idx

    q = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(3)],
        "query_id long, query_vec array<double>",
    )

    def res(idx, **kw):
        return sorted(map(tuple, idx.query(q, k=3, nprobe=2, **kw).collect()))

    below = build(TWO_LEVEL_AUTO_MIN_K - 1, "below")
    assert res(below) == res(below, coarse_probe=None)  # auto → exact
    at = build(TWO_LEVEL_AUTO_MIN_K, "at")
    assert res(at) == res(at, coarse_probe=TWO_LEVEL_AUTO_PROBE)
    # explicit args still pin the other spelling on either side
    assert res(below, coarse_probe=TWO_LEVEL_AUTO_PROBE) == res(
        below, coarse_probe=TWO_LEVEL_AUTO_PROBE
    )
    assert res(at, coarse_probe=None) == res(at, coarse_probe=None)
    with pytest.raises(ValueError, match="auto"):
        at.query(q, k=3, coarse_probe="wat")
    # r11 (ADVICE r10): the first AUTO escalation per handle warns once,
    # naming the coarse_probe=None escape hatch; repeats stay silent
    import warnings as _w

    fresh = IvfIndex(str(tmp_path / "at"))
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        res(fresh)
        first = [w for w in rec if "coarse_probe=None" in str(w.message)]
        res(fresh)
        again = [w for w in rec if "coarse_probe=None" in str(w.message)]
    assert len(first) == 1 and len(again) == 1  # warned exactly once
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        res(below)  # under the threshold: auto stays exact, no warning
    assert not [w for w in rec if "coarse_probe" in str(w.message)]


@pytest.mark.slow
def test_ivf_index_rebuild_clears_two_level_cache(spark, tmp_path):
    """ADVICE r9: an equal-cardinality re-build with DIFFERENT centroids
    must not serve queries through the stale coarse grouping."""
    import numpy as np

    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(7)
    k = 32

    def mk(seed_shift):
        r = np.random.RandomState(100 + seed_shift)
        cen = [(c, [float(x) for x in r.randn(4) * 3]) for c in range(k)]
        rows = [
            (i, [float(x) for x in cen[i % k][1] + 0.05 * rng.randn(4)])
            for i in range(160)
        ]
        return cen, rows

    idx = IvfIndex(str(tmp_path / "ivf"))
    cen1, rows1 = mk(0)
    idx.build(
        FeatureTable(
            spark.createDataFrame(
                rows1, "vec_id long, embedding array<double>"
            ),
            key="vec_id",
        ),
        spark.createDataFrame(
            cen1, "centroid_id long, centroid_vec array<double>"
        ),
    )
    q = spark.createDataFrame(
        [(1, [float(x) for x in cen1[3][1]])],
        "query_id long, query_vec array<double>",
    )
    idx.query(q, k=3, nprobe=2, coarse_probe=2).collect()  # warm the cache
    assert idx._two_level is not None
    cen2, rows2 = mk(1)  # SAME cardinality, different vectors
    idx.build(
        FeatureTable(
            spark.createDataFrame(
                rows2, "vec_id long, embedding array<double>"
            ),
            key="vec_id",
        ),
        spark.createDataFrame(
            cen2, "centroid_id long, centroid_vec array<double>"
        ),
    )
    assert idx._two_level is None  # cache died with the quantizer
    # a fresh instance at the same path must agree exactly (no stale
    # grouping could survive to diverge from it)
    q2 = spark.createDataFrame(
        [(1, [float(x) for x in cen2[3][1]])],
        "query_id long, query_vec array<double>",
    )
    got = sorted(map(tuple, idx.query(
        q2, k=3, nprobe=2, coarse_probe=2
    ).collect()))
    fresh = sorted(map(tuple, IvfIndex(str(tmp_path / "ivf")).query(
        q2, k=3, nprobe=2, coarse_probe=2
    ).collect()))
    assert got == fresh and len(got) == 3


@pytest.mark.slow
def test_ivf_recall_clustered_gate_floor(spark):
    """r9 (VERDICT r8 #3): the clustered-recall evidence is now a gate,
    not a script artifact — assert the documented floor so a regression
    that tanks IVF recall on clustered data (broken cell assignment,
    probe filter, ranking) fails HERE even if structureless-fixture
    hashes stay green. Knobs: 16 clusters, dim 8, noise 0.35, nprobe=1."""
    import statistics

    from ralf_spark.queries import QUERIES

    rows = QUERIES["ivf_recall_clustered"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    recalls = [r.recall for r in rows]
    assert len(recalls) == 20
    assert statistics.mean(recalls) >= 0.9
    assert max(recalls) == 1.0  # well-inside-cluster queries are exact


@pytest.mark.slow
def test_kmeans_plusplus_seeding_lifts_recall(spark):
    """r12 (VERDICT r11 #4): k-means++ seeding must (a) spread seeds
    across the true clusters, (b) train a quantizer whose nprobe=1 IVF
    recall@10 clears 0.95 — ABOVE the 0.9 floor the true-center gates
    pin — and (c) strictly beat the same Lloyd loop from a degenerate
    one-cluster init (the local optimum k-means++ exists to escape)."""
    import statistics

    from ralf_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_fit,
        kmeans_plusplus_seeds,
    )
    from ralf_spark.queries import _MOG_K, _mog_corpus

    corpus = _mog_corpus(spark, "/root/testdata/sf0.01")
    qdf = corpus.df.where(F.expr("vec_id % 25 = 0")).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    brute = cosine_topk(corpus, qdf, k=10).select(
        "query_id", "neighbor_id"
    ).collect()
    want = {}
    for r in brute:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)

    def mean_recall(cen_df) -> float:
        got = ivf_topk(corpus, qdf, cen_df, k=10, nprobe=1).select(
            "query_id", "neighbor_id"
        ).collect()
        hits = {}
        for r in got:
            if r.neighbor_id in want[r.query_id]:
                hits[r.query_id] = hits.get(r.query_id, 0) + 1
        return statistics.mean(
            hits.get(q, 0) / 10.0 for q in want
        )

    seeds = kmeans_plusplus_seeds(corpus, k=_MOG_K)
    seed_rows = seeds.collect()
    # (a) seeds spread: >= 14 of the 16 true clusters represented
    # (D^2 weighting measures 15; linear D only reached 13)
    assert len({r.seed_id % _MOG_K for r in seed_rows}) >= 14
    kpp_cen = kmeans_fit(
        corpus,
        seeds.select("centroid_id", "centroid_vec"),
        max_iter=3,
    )
    kpp_recall = mean_recall(kpp_cen)
    # (c) degenerate init: all 16 seeds from true cluster 0
    bad_rows = (
        corpus.df.where(F.expr(f"vec_id % {_MOG_K} = 0"))
        .orderBy("vec_id").limit(_MOG_K)
        .select(F.col("embedding").alias("centroid_vec")).collect()
    )
    bad_init = spark.createDataFrame(
        [(i, [float(x) for x in r.centroid_vec])
         for i, r in enumerate(bad_rows)],
        "centroid_id long, centroid_vec array<double>",
    )
    bad_cen = kmeans_fit(corpus, bad_init, max_iter=3)
    bad_recall = mean_recall(bad_cen)
    # (b) the raised floor + (c) the lift
    assert kpp_recall >= 0.95, (kpp_recall, bad_recall)
    assert kpp_recall > bad_recall, (kpp_recall, bad_recall)


@pytest.mark.slow
def test_pq_rerank_recall_clustered_gate_floor(spark):
    """r9 companion to the IVF recall gate: PQ ADC top-50 + exact rerank
    top-10 on the clustered MoG corpus must keep mean recall@10 >= 0.9 —
    the rerank-width lever's documented operating point. The IVF-PQ
    composition (true centers as cells, nprobe=1, the same codebooks,
    top-50 + exact rerank) must hold the same floor: its ceiling is the
    nprobe=1 IVF recall, so a regression in its cell probe or its ADC
    scoring inside a cell drops it below."""
    import statistics

    from ralf_spark.operators.similarity import (
        cosine_topk,
        exact_rerank,
        ivf_pq_topk,
    )
    from ralf_spark.queries import (
        _MOG_DIM,
        QUERIES,
        _mog_centers,
        _mog_corpus,
    )
    from tests.conftest import SF_DIR_ORACLE

    rows = QUERIES["pq_rerank_recall_clustered"].fn(
        spark, SF_DIR_ORACLE
    ).collect()
    recalls = [r.recall for r in rows]
    assert len(recalls) == 20
    assert statistics.mean(recalls) >= 0.9

    corpus = _mog_corpus(spark, SF_DIR_ORACLE)
    qdf = corpus.df.where(F.expr("vec_id % 25 = 0")).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cen = _mog_centers()
    cen_df = spark.createDataFrame(
        list(enumerate(cen)), "centroid_id long, centroid_vec array<double>"
    )
    dsub = _MOG_DIM // 2
    books = [[v[j * dsub:(j + 1) * dsub] for v in cen] for j in range(2)]
    short = ivf_pq_topk(corpus, qdf, cen_df, books, k=50, nprobe=1)
    want, got = {}, {}
    for r in cosine_topk(corpus, qdf, k=10).collect():
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact_rerank(short, corpus, qdf, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(want) == 20
    ivf_pq = [len(want[q] & got.get(q, set())) / 10.0 for q in want]
    assert statistics.mean(ivf_pq) >= 0.9, ivf_pq


# ------------------------------------------- exact-substring duplicate spans


def _brute_spans(docs: dict[int, str], n: int = 8, min_occ: int = 2):
    """Reference implementation: all duplicated n-gram positions merged
    into maximal spans (merge when gap <= n)."""
    from collections import Counter

    toks = {d: [t for t in s.split() if t] for d, s in docs.items()}
    grams = Counter()
    for tk in toks.values():
        for i in range(len(tk) - n + 1):
            grams[" ".join(tk[i : i + n])] += 1
    out = []
    for d, tk in sorted(toks.items()):
        pos = [
            i + 1
            for i in range(len(tk) - n + 1)
            if grams[" ".join(tk[i : i + n])] >= min_occ
        ]
        spans = []
        for p in pos:
            if spans and p <= spans[-1][1] - n + 1 + n:  # gap <= n
                spans[-1][1] = max(spans[-1][1], p + n - 1)
            else:
                spans.append([p, p + n - 1])
        out += [(d, s, e, e - s + 1) for s, e in spans]
    return sorted(out)


def test_duplicate_spans_matches_bruteforce(spark):
    from ralf_spark.operators.dedup import duplicate_span_ranges

    boiler = " ".join(f"b{i}" for i in range(12))  # 12-token boilerplate
    docs = {
        1: "u1 u2 " + boiler + " tail1 tail2 tail3",
        2: boiler + " other words here x y z w q",
        3: "completely distinct tokens " + " ".join(
            f"d{i}" for i in range(20)
        ),
        # within-doc repeat: same 9 tokens twice in one document
        4: " ".join(f"r{i % 9}" for i in range(18))
        + " filler1 filler2 filler3",
        5: "short doc",  # < 8 tokens -> no grams
    }
    t = _docs(spark, [(d, s) for d, s in docs.items()])
    got = sorted(
        tuple(r)
        for r in duplicate_span_ranges(t, min_tokens=8).collect()
    )
    assert got == _brute_spans(docs, 8)
    # doc 3 (distinct) and doc 5 (too short) contribute no spans
    assert not [r for r in got if r[0] in (3, 5)]
    # doc 1 and 2 share the 12-token boilerplate: one maximal span each
    assert [r for r in got if r[0] == 1] and [r for r in got if r[0] == 2]


@pytest.mark.slow
def test_duplicate_spans_xxhash64_mode_identical(spark):
    from ralf_spark.operators.dedup import duplicate_span_ranges

    rows = [
        (1, "a b c d e f g h i j k"),
        (2, "z a b c d e f g h i j y"),
        (3, "n o p q r s t u v w"),
    ]
    t = _docs(spark, rows)
    md5 = sorted(map(tuple, duplicate_span_ranges(t, hash_fn="md5").collect()))
    xx = sorted(
        map(tuple, duplicate_span_ranges(t, hash_fn="xxhash64").collect())
    )
    assert md5 == xx and md5  # same spans, and the shared 10-gram found


def test_duplicate_spans_plan_no_cartesian_no_python(spark):
    from ralf_spark.operators.dedup import duplicate_span_ranges

    t = _docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h")])
    plan = explain_str(duplicate_span_ranges(t))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------- SQ8 scalar quantization


def _sq8_fixture(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-2.0, 2.0) for _ in range(8)]) for i in range(30)
    ]
    # a degenerate dimension: constant across the corpus
    rows = [(i, v[:3] + [1.5] + v[4:]) for i, v in rows]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return rows, df


def test_sq8_roundtrip_error_bounded_and_degenerate_dim(spark):
    from ralf_spark.operators.similarity import sq8_bounds, sq8_encode

    rows, df = _sq8_fixture(spark)
    bounds = sq8_bounds(df)
    assert len(bounds) == 8
    # exact bounds vs python
    for d in range(8):
        vals = [v[d] for _, v in rows]
        assert bounds[d] == (min(vals), max(vals))
    enc = {r.vec_id: r.codes for r in
           sq8_encode(df, bounds, keep_vec=True).collect()}
    for i, v in rows:
        for d, x in enumerate(v):
            lo, hi = bounds[d]
            c = enc[i][d]
            assert 0 <= c <= 255
            if hi == lo:
                assert c == 0
            else:
                rec = lo + c * (hi - lo) / 255.0
                assert abs(rec - x) <= (hi - lo) / 255.0 / 2 + 1e-12


def test_sq8_adc_matches_numpy_dequantized_ranking(spark):
    import numpy as np

    from ralf_spark.operators.similarity import (
        sq8_adc_topk,
    )
    from ralf_spark.table import FeatureTable

    rows, df = _sq8_fixture(spark)
    corpus = FeatureTable(df, key="vec_id")
    queries = df.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_dist)
        for r in sq8_adc_topk(corpus, queries, k=4).collect()
    }
    # numpy replay: same bounds, same codes, same dequantize, exact L2
    X = np.array([v for _, v in rows])
    lo, hi = X.min(axis=0), X.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    codes = np.clip(np.floor(255 * (X - lo) / span + 0.5), 0, 255)
    codes[:, hi == lo] = 0
    rec = lo + codes * (hi - lo) / 255.0
    for qi in range(3):
        d = ((rec - X[qi]) ** 2).sum(axis=1)
        order = sorted(
            (float(d[j]), j) for j in range(len(rows)) if j != qi
        )
        for rank, (dist, j) in enumerate(order[:4], start=1):
            nb, got_dist = got[(qi, rank)]
            assert nb == j
            assert abs(got_dist - dist) < 1e-9


def test_sq8_encode_dim_guard_raises(spark):
    import pytest as _pytest

    from ralf_spark.operators.similarity import sq8_encode

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    bad = sq8_encode(df, [(0.0, 1.0)] * 8)
    with _pytest.raises(Exception, match="exactly 8 dims"):
        bad.collect()


def test_remove_duplicate_spans_matches_bruteforce(spark):
    from ralf_spark.operators.dedup import remove_duplicate_spans

    boiler = " ".join(f"b{i}" for i in range(12))
    docs = {
        1: "u1 u2 " + boiler + " tail1 tail2 tail3",
        2: boiler + " other words here x y z w q",
        3: "completely distinct " + " ".join(f"d{i}" for i in range(20)),
        5: "short doc",
    }
    t = _docs(spark, [(d, s) for d, s in docs.items()])
    got = {r.doc_id: r for r in remove_duplicate_spans(t).collect()}
    spans = {d: [] for d in docs}
    for d, s, e, _ in _brute_spans(docs, 8):
        spans[d].append((s, e))
    assert set(got) == set(docs)  # every doc survives
    for d, text in docs.items():
        tk = [x for x in text.split() if x]
        keep = [
            x
            for i, x in enumerate(tk, start=1)
            if not any(s <= i <= e for s, e in spans[d])
        ]
        assert got[d].clean_text == " ".join(keep)
        assert got[d].n_kept == len(keep)
        assert got[d].n_removed == len(tk) - len(keep)
    # untouched docs pass through verbatim
    assert got[3].clean_text == docs[3] and got[3].n_removed == 0


# ----------------------------------------------------- GramIndex incremental


def _gram_batches():
    boiler = " ".join(f"g{i}" for i in range(10))
    b1 = {1: "a1 a2 " + boiler, 2: " ".join(f"x{i}" for i in range(15))}
    # doc 3 repeats b1's boilerplate; doc 4 repeats within itself
    b2 = {
        3: boiler + " tail1 tail2",
        4: " ".join(f"r{i % 8}" for i in range(16)),
    }
    # doc 5 repeats doc 2's (previously unique) text
    b3 = {5: b1[2] + " fresh1 fresh2"}
    return b1, b2, b3


@pytest.mark.slow
def test_gram_index_sequential_adds_match_batch_detector(spark, tmp_path):
    from ralf_spark.operators.dedup import GramIndex

    batches = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8)
    idx.build(_docs(spark, list(batches[0].items())))
    seen = dict(batches[0])
    for b in batches[1:]:
        got = sorted(
            tuple(r)
            for r in idx.add(_docs(spark, list(b.items()))).collect()
        )
        seen.update(b)
        want = [
            s for s in _brute_spans(seen, 8) if s[0] in b
        ]  # batch detector over corpus-so-far, restricted to this batch
        assert got == want
    # batch 2 found the cross-batch boilerplate AND the within-doc repeat
    assert any(r[0] == 3 for r in _brute_spans(seen, 8))
    assert any(r[0] == 4 for r in _brute_spans(seen, 8))


@pytest.mark.slow
def test_gram_index_add_replay_is_idempotent(spark, tmp_path):
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, _ = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8)
    idx.build(_docs(spark, list(b1.items())))
    first = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(b2.items())), batch_tag="t1"
        ).collect()
    )
    replay = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(b2.items())), batch_tag="t1"
        ).collect()
    )
    assert first == replay and first
    # the replayed tag rewrote its partition in place: store holds the
    # digests exactly once per batch
    store = spark.read.parquet(str(tmp_path / "gi" / "grams"))
    assert store.count() == store.distinct().count()


def test_gram_index_config_pin_raises(spark, tmp_path):
    import pytest as _pytest

    from ralf_spark.operators.dedup import GramIndex

    b1, _, _ = _gram_batches()
    GramIndex(str(tmp_path / "gi"), min_tokens=8).build(
        _docs(spark, list(b1.items()))
    )
    with _pytest.raises(ValueError, match="min_tokens"):
        GramIndex(str(tmp_path / "gi"), min_tokens=5).add(
            _docs(spark, list(b1.items()))
        )


@pytest.mark.slow
def test_gram_index_maintain_folds_distinct_membership(spark, tmp_path):
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, b3 = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8, auto_maintain=0)
    idx.build(_docs(spark, list(b1.items())))
    idx.add(_docs(spark, list(b2.items()))).collect()
    store = str(tmp_path / "gi" / "grams")
    before = {
        r._dg for r in spark.read.parquet(store).collect()
    }
    res = idx.maintain(spark, keep_last=0, tiered=False)
    assert res["grams"] is not None
    after_rows = spark.read.parquet(store).collect()
    after = {r._dg for r in after_rows}
    assert after == before  # membership identical
    assert len(after_rows) == len(after)  # merging compaction deduped
    # post-maintenance adds still see the full history
    got = sorted(
        tuple(r)
        for r in idx.add(_docs(spark, list(b3.items()))).collect()
    )
    seen = {**b1, **b2, **b3}
    want = [s for s in _brute_spans(seen, 8) if s[0] in b3]
    assert got == want and got  # doc 5 duplicates doc 2's stored text


@pytest.mark.slow
def test_ivf_sq8_full_probe_equals_flat_adc(spark):
    """Probing every cell must reduce IVF-SQ8 to the flat SQ8 ADC search
    (cells partition the corpus; the union of all cells is the corpus)."""
    from ralf_spark.operators.similarity import (
        ivf_sq8_topk,
        sq8_adc_topk,
    )
    from ralf_spark.table import FeatureTable

    rows, df = _sq8_fixture(spark)
    corpus = FeatureTable(df, key="vec_id")
    queries = df.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    cen = spark.createDataFrame(
        [(i, v) for i, v in rows[:4]],
        "centroid_id long, centroid_vec array<double>",
    )
    flat = sorted(
        (r.query_id, r.rank, r.neighbor_id, round(r.approx_dist, 9))
        for r in sq8_adc_topk(corpus, queries, k=4).collect()
    )
    ivf = sorted(
        (r.query_id, r.rank, r.neighbor_id, round(r.approx_dist, 9))
        for r in ivf_sq8_topk(
            corpus, queries, cen, k=4, nprobe=4
        ).collect()
    )
    assert ivf == flat and flat


@pytest.mark.slow
def test_gram_index_auto_maintain_cadence(spark, tmp_path):
    """add() self-compacts once more than auto_maintain batch partitions
    exist, and the compaction never changes what later adds see."""
    from ralf_spark.layout import batch_tag_count
    from ralf_spark.operators.dedup import GramIndex

    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8, auto_maintain=2)
    b1, b2, b3 = _gram_batches()
    idx.build(_docs(spark, list(b1.items())))
    idx.add(_docs(spark, list(b2.items())), batch_tag="t1").collect()
    idx.add(
        _docs(spark, [(9, "f1 f2 f3 f4 f5 f6 f7 f8 f9")]), batch_tag="t2"
    ).collect()
    # 3 tags (base, t1, t2) > auto_maintain=2 -> the next add compacts
    # first (keep_last=1 spares the newest), then appends its own tag
    store = str(tmp_path / "gi" / "grams")
    assert batch_tag_count(spark, store) == 3
    got = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(b3.items())), batch_tag="t3"
        ).collect()
    )
    assert batch_tag_count(spark, store) == 3  # compacted + t2 + t3
    seen = {**b1, **b2, 9: "f1 f2 f3 f4 f5 f6 f7 f8 f9", **b3}
    want = [s for s in _brute_spans(seen, 8) if s[0] in b3]
    assert got == want and got  # doc 5 still matches doc 2 post-compaction


def test_cross_corpus_duplicate_spans(spark):
    """r12 span-level decontamination: only TRAIN substrings that occur
    in the OTHER corpus are flagged — within-train repeats don't count,
    overlapping contaminated grams merge to one maximal span, and the
    positions are 1-based token ranges."""
    from ralf_spark.operators.dedup import cross_corpus_duplicate_spans
    from ralf_spark.table import FeatureTable

    leak = "the quick brown fox jumps"
    train = FeatureTable(
        spark.createDataFrame(
            [
                (1, f"intro words {leak} trailing tail here"),
                # internal repeat, zero overlap with eval -> no spans
                (2, "aa bb cc dd aa bb cc dd"),
                (3, "nothing shared at all in this one"),
            ],
            "doc_id long, text string",
        ),
        key="doc_id",
    )
    eval_t = FeatureTable(
        spark.createDataFrame(
            [(100, f"eval set holds {leak} inside it")],
            "doc_id long, text string",
        ),
        key="doc_id",
    )
    got = sorted(
        tuple(r)
        for r in cross_corpus_duplicate_spans(
            train, eval_t, min_tokens=3
        ).collect()
    )
    # doc 1 tokens: intro(1) words(2) the(3) quick(4) brown(5) fox(6)
    # jumps(7) trailing(8) tail(9) here(10); contaminated 3-grams start
    # at 3,4,5 -> one merged span tokens 3..7
    assert got == [(1, 3, 7, 5)]


@pytest.mark.slow
def test_gram_index_check_is_read_only_and_cross_corpus(spark, tmp_path):
    """r12: check() detects spans vs the STORE without folding the
    batch in — the store is byte-stable across checks, within-batch
    repeats only count with within_batch=True, and a second check of
    the same batch returns the same answer (nothing was learned)."""
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, _ = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8, auto_maintain=0)
    idx.build(_docs(spark, list(b1.items())))
    store = str(tmp_path / "gi" / "grams")
    before = sorted(r._dg for r in spark.read.parquet(store).collect())
    batch = _docs(spark, list(b2.items()))
    first = sorted(tuple(r) for r in idx.check(batch).collect())
    again = sorted(tuple(r) for r in idx.check(batch).collect())
    assert first == again
    after = sorted(r._dg for r in spark.read.parquet(store).collect())
    assert after == before  # nothing folded in
    # cross-corpus only: spans vs store must be a subset of add()'s
    # (which also counts within-batch repeats)
    with_self = sorted(
        tuple(r) for r in idx.check(batch, within_batch=True).collect()
    )
    dup_pos_only = {(d, s) for d, s, _, _ in first}
    assert dup_pos_only <= {(d, s) for d, s, _, _ in with_self}
    # and within_batch=True equals what add() would report
    added = sorted(tuple(r) for r in idx.add(batch).collect())
    assert with_self == added


@pytest.mark.slow
def test_gram_index_tokenizer_pin_and_readonly_meta(spark, tmp_path):
    """r12 review: (a) a store built under the pre-r12 single-space
    tokenizer (meta without the tokenizer column) must be REFUSED — its
    gram digests differ on multi-line text, the silent-zero-duplicates
    class the pin exists for; (b) read-only check()/retro() must not
    stamp a _meta onto a store they never built."""
    import pytest as _pytest

    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    docs = FeatureTable(
        spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        ),
        key="doc_id",
    )
    # simulate a pre-r12 store: meta lacks count_mode AND tokenizer
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame(
        [("md5", 2)], "hash_fn string, min_tokens int"
    ).coalesce(1).write.parquet(f"{legacy}/_meta")
    with _pytest.raises(ValueError, match="tokenizer"):
        GramIndex(legacy, min_tokens=2).add(docs)
    # read-only paths refuse to create _meta on a virgin path
    virgin = GramIndex(str(tmp_path / "virgin"), min_tokens=2)
    with _pytest.raises(ValueError, match="no _meta"):
        virgin.check(docs)
    import os

    assert not os.path.exists(str(tmp_path / "virgin" / "_meta"))
    # MinHashIndex shares the pin
    from ralf_spark.operators.dedup import MinHashIndex

    legacy2 = str(tmp_path / "legacy2")
    spark.createDataFrame(
        [("md5", 64, 16, 3)],
        "hash_fn string, num_perm int, bands int, shingle_n int",
    ).coalesce(1).write.parquet(f"{legacy2}/_meta")
    with _pytest.raises(ValueError, match="tokeniz"):
        MinHashIndex(legacy2).add(docs)


@pytest.mark.slow
def test_gram_index_replay_of_folded_tag_raises(spark, tmp_path):
    """A batch_tag already folded by maintain() must be REFUSED loudly
    (r12): the fold renamed its digests into the compacted partition, so
    a replay would see its own previous digests as 'seen' and misreport
    every position of the batch as duplicated. Tags spared by keep_last
    stay replayable (idempotent rewrite)."""
    import pytest as _pytest

    from ralf_spark.operators.dedup import GramIndex

    b1, b2, _ = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8, auto_maintain=0)
    idx.build(_docs(spark, list(b1.items())))
    idx.add(_docs(spark, list(b2.items())), batch_tag="t1").collect()
    extra = {9: "f1 f2 f3 f4 f5 f6 f7 f8 f9"}
    before = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(extra.items())), batch_tag="t2"
        ).collect()
    )
    idx.maintain(spark, keep_last=1, tiered=False)  # folds base + t1
    with _pytest.raises(ValueError, match="already folded"):
        idx.add(_docs(spark, list(b2.items())), batch_tag="t1")
    # the spared newest tag replays idempotently, same answer
    replay = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(extra.items())), batch_tag="t2"
        ).collect()
    )
    assert replay == before


@pytest.mark.slow
def test_gram_index_count_mode_retro_matches_batch_detector(spark, tmp_path):
    """count_mode (r12): build(A); add(B); retro() must equal the batch
    span detector over A ∪ B for ALL documents — including the earlier
    copies that add() alone cannot flag (full Lee et al. parity)."""
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, b3 = _gram_batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, count_mode=True,
        auto_maintain=0,
    )
    idx.build(_docs(spark, list(b1.items())))
    # add() contract is unchanged in count mode: new-batch spans only
    got_add = sorted(
        tuple(r)
        for r in idx.add(_docs(spark, list(b2.items()))).collect()
    )
    seen = {**b1, **b2}
    assert got_add == [s for s in _brute_spans(seen, 8) if s[0] in b2]
    idx.add(_docs(spark, list(b3.items()))).collect()
    seen.update(b3)
    want_all = _brute_spans(seen, 8)
    got_retro = sorted(tuple(r) for r in idx.retro(spark).collect())
    assert got_retro == want_all and got_retro
    # earlier copies ARE flagged: some retro span belongs to a build/add-1
    # doc that the per-add outputs never reported
    flagged_docs = {s[0] for s in got_retro}
    assert flagged_docs & set(b1), "retro must flag earlier copies"
    # maintain() folds the position log without changing the answer
    idx.maintain(spark, keep_last=1, tiered=False)
    after = sorted(tuple(r) for r in idx.retro(spark).collect())
    assert after == want_all


def test_gram_index_retro_requires_count_mode(spark, tmp_path):
    import pytest as _pytest

    from ralf_spark.operators.dedup import GramIndex

    b1, _, _ = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8)
    idx.build(_docs(spark, list(b1.items())))
    with _pytest.raises(ValueError, match="count_mode"):
        idx.retro(spark)
    # and a count-mode handle refuses a membership store (meta pin)
    with _pytest.raises(ValueError, match="count_mode"):
        GramIndex(
            str(tmp_path / "gi"), min_tokens=8, count_mode=True
        ).add(_docs(spark, list(b1.items())))


def test_remove_duplicate_spans_null_and_empty_text(spark):
    """NULL or empty text must still yield exactly one output row with
    0/0 counts — not NULL arithmetic (the every-doc-once contract)."""
    from ralf_spark.operators.dedup import remove_duplicate_spans
    from ralf_spark.table import FeatureTable

    t = FeatureTable(
        spark.createDataFrame(
            [(1, None), (2, ""), (3, "a b c d e f g h"),
             (4, "a b c d e f g h")],
            "doc_id long, text string",
        ),
        key="doc_id",
    )
    got = {r.doc_id: r for r in remove_duplicate_spans(t).collect()}
    assert set(got) == {1, 2, 3, 4}
    for d in (1, 2):
        assert got[d].clean_text == ""
        assert got[d].n_kept == 0 and got[d].n_removed == 0
    assert got[3].n_removed == 8 and got[4].n_removed == 8


# ------------------------------------------------ content-defined chunking


def test_cdc_chunk_dedup_stats_edit_stability(spark):
    """r12: a document and its one-insertion near-copy must SHARE most
    chunks (edit-stable boundaries localize the re-cut), so both score
    dup_frac > 0.5; an unrelated doc scores 0."""
    from ralf_spark.operators.text_analysis import cdc_chunk_dedup_stats

    base = " ".join(f"tok{i}" for i in range(300))
    toks = base.split()
    edited = " ".join(toks[:150] + ["INSERTED"] + toks[150:])
    other = " ".join(f"zz{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    for hash_fn in ("md5", "xxhash64"):
        got = {
            r.doc_id: r
            for r in cdc_chunk_dedup_stats(df, hash_fn=hash_fn).collect()
        }
        assert got[3].dup_chunks == 0 and got[3].dup_frac == 0.0, hash_fn
        assert got[1].dup_frac > 0.5 and got[2].dup_frac > 0.5, hash_fn
        assert got[1].n_chunks >= 4, hash_fn  # boundaries actually cut
        # counts are consistent: dup_tokens <= total tokens chunked
        for d in (1, 2, 3):
            assert 0 <= got[d].dup_chunks <= got[d].n_chunks


def test_cdc_chunks_partition_and_edit_stability(spark):
    """Chunks tile each document exactly (no gaps/overlaps), and the
    defining CDC property holds: prepending tokens only changes the
    chunks up to the first boundary after the edit — every later chunk
    hash survives (a fixed-window chunker shifts ALL of them). Both hash
    modes: boundary positions differ, the properties do not."""
    import random

    from ralf_spark.operators.text_analysis import cdc_chunks

    rng = random.Random(3)
    body = " ".join(f"t{rng.randint(0, 50)}" for _ in range(400))
    docs = spark.createDataFrame(
        [(1, body), (2, "pre1 pre2 pre3 pre4 pre5 " + body),
         (3, "a b"), (4, "")],
        "doc_id long, text string",
    )
    n_tok = {r.doc_id: len([t for t in r.text.split() if t])
             for r in docs.collect()}
    for hash_fn in ("md5", "xxhash64"):
        rows = cdc_chunks(docs, mask_bits=4, hash_fn=hash_fn).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        # tiling: chunk k ends where k+1 starts - 1; first starts at 1
        for d in (1, 2, 3):
            ch = sorted(by_doc[d], key=lambda r: r.chunk_idx)
            assert ch[0].chunk_start == 1 and ch[-1].chunk_end == n_tok[d]
            for a, b in zip(ch, ch[1:]):
                assert b.chunk_start == a.chunk_end + 1
            assert all(r.chunk_tokens == r.chunk_end - r.chunk_start + 1
                       for r in ch)
        assert 4 not in by_doc  # empty doc -> no chunks
        assert len(by_doc[3]) == 1  # shorter than window -> one chunk
        # edit stability: doc 2 = doc 1 with 5 tokens prepended
        h1 = [r.chunk_hash for r in
              sorted(by_doc[1], key=lambda r: r.chunk_idx)]
        h2 = [r.chunk_hash for r in
              sorted(by_doc[2], key=lambda r: r.chunk_idx)]
        # everything after the first shared boundary is identical: the
        # SUFFIX of chunk hashes matches
        common = 0
        while (common < min(len(h1), len(h2))
               and h1[-1 - common] == h2[-1 - common]):
            common += 1
        assert common >= max(1, len(h1) - 3), (hash_fn, len(h1), common)


@pytest.mark.slow
def test_gram_index_rollback_unrecords_falsely_folded_tags(spark, tmp_path):
    """r13 (ADVICE r12): a maintain() crash BETWEEN the folded-tag record
    and the compaction's done marker rolls the fold back (source
    partitions intact) but left the tags recorded — pre-r13 those
    replays were refused forever. The recovery pass (run by add() and
    maintain()) now un-records the rolled-back sources, so the replay is
    accepted and rewrites its partition idempotently; tags from a
    COMPLETED fold stay refused."""
    import json
    import os

    import pytest as _pytest

    from ralf_spark.operators.dedup import GramIndex

    b1, b2, _ = _gram_batches()
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8, auto_maintain=0)
    idx.build(_docs(spark, list(b1.items())))
    before = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(b2.items())), batch_tag="t1"
        ).collect()
    )
    grams = f"{idx.path}/grams"
    # simulate the crash window: the record callback ran (sidecar names
    # t1 folded), the done marker did NOT (manifest says done=false);
    # t1's source partition is still on disk — exactly the state a kill
    # between layout.py's on_before_done and its done-marker write leaves
    with open(f"{grams}/.compacted_tags.json", "w") as f:
        json.dump({"tags": ["t1"]}, f)
    with open(f"{grams}/.compact_manifest.json", "w") as f:
        json.dump(
            {"ctag": "compacted-deadbeef00", "sources": ["base", "t1"],
             "done": False},
            f,
        )
    # pre-r13 this raised "already folded"; now recovery rolls the
    # attempt back, un-records t1, and the replay lands idempotently
    replay = sorted(
        tuple(r)
        for r in idx.add(
            _docs(spark, list(b2.items())), batch_tag="t1"
        ).collect()
    )
    assert replay == before
    assert not os.path.exists(f"{grams}/.compact_manifest.json")
    # a genuinely COMPLETED fold still refuses the replay
    idx.maintain(spark, keep_last=0, tiered=False)
    with _pytest.raises(ValueError, match="already folded"):
        idx.add(_docs(spark, list(b2.items())), batch_tag="t1")


@pytest.mark.slow
def test_sq8_query_vector_dim_guard_raises(spark, tmp_path):
    """r13 (ADVICE r12): the QUERY side of the SQ8 search is dim-guarded
    like the corpus side — a mis-dimensioned query vector raised loudly
    instead of zip_with-null-padding approx_dist to NULL and returning
    garbage rows at ranks 1..k (Spark orders NULLs FIRST ascending)."""
    import numpy as np
    import pytest as _pytest

    from ralf_spark.operators.similarity import (
        IvfIndex,
        sq8_adc_topk_precoded,
        sq8_encode,
    )
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(31)
    n, dim = 20, 6
    X = rng.randn(n, dim).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    bounds = [(-3.0, 3.0)] * dim
    enc = sq8_encode(
        df.selectExpr("vec_id AS neighbor_id", "embedding"), bounds
    )
    bad_q = spark.createDataFrame(
        [(100, [0.0, 1.0])], "query_id long, query_vec array<double>"
    )
    with _pytest.raises(Exception, match="exactly 6 dims"):
        sq8_adc_topk_precoded(enc, bad_q, bounds, k=3).collect()
    # the persistent index's sq8 mode shares the guard
    cdf = spark.createDataFrame(
        [(0, [0.0] * (dim - 1) + [1.0]), (1, [1.0] + [0.0] * (dim - 1))],
        "centroid_id long, centroid_vec array<double>",
    )
    idx = IvfIndex(str(tmp_path / "g"))
    idx.build(FeatureTable(df, key="vec_id"), cdf, sq8=True)
    bad_q6 = spark.createDataFrame(
        [(100, [0.0, 1.0, 2.0])], "query_id long, query_vec array<double>"
    )
    with _pytest.raises(Exception, match="exactly 6 dims"):
        idx.query(bad_q6, k=3, nprobe=2, method="sq8").collect()
    # well-formed queries are unaffected
    ok_q = df.limit(1).selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    assert sq8_adc_topk_precoded(enc, ok_q, bounds, k=3).count() == 3


def test_kmeans_plusplus_zero_norm_rows_never_truncate_seeds(spark):
    """r13 (ADVICE r12): zero-norm vectors are excluded from k-means++
    selection — a degenerate pick would otherwise put 0 in every later
    round's cosine denominator, NULL d for all rows, and silently
    return fewer than k seeds."""
    import numpy as np

    from ralf_spark.operators.similarity import kmeans_plusplus_seeds
    from ralf_spark.table import FeatureTable

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(4).round(3).tolist()) for i in range(12)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # the degenerate row
    corpus = FeatureTable(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ),
        key="vec_id",
    )
    seeds = kmeans_plusplus_seeds(corpus, k=5).collect()
    assert len(seeds) == 5  # not truncated
    assert 99 not in {r.seed_id for r in seeds}


@pytest.mark.slow
def test_unicode_tokens_normalize_and_split(spark):
    """r13 (VERDICT r12 #2): token_mode='unicode' = NFC + simple
    lowercase + unicode-whitespace boundaries; the default ascii mode is
    byte-identical to r12 (NBSP stays content)."""
    from pyspark.sql import functions as F

    from ralf_spark.functions.text import tokens

    df = spark.createDataFrame(
        [
            (1, "Hello World FOO"),        # NBSP + case
            (2, "Café du　MONDE"),     # decomposed accent + ideo space
            (3, "plain ascii text"),
        ],
        "doc_id long, text string",
    )
    uni = {
        r.doc_id: r.w
        for r in df.select(
            "doc_id", tokens(F.col("text"), "unicode").alias("w")
        ).collect()
    }
    assert uni[1] == ["hello", "world", "foo"]
    assert uni[2] == ["café", "du", "monde"]  # NFC-composed, lowered
    assert uni[3] == ["plain", "ascii", "text"]
    asc = {
        r.doc_id: r.w
        for r in df.select(
            "doc_id", tokens(F.col("text")).alias("w")
        ).collect()
    }
    assert asc[1] == ["Hello World", "FOO"]  # NBSP is content in ascii


@pytest.mark.slow
def test_token_mode_pinned_in_index_meta(spark, tmp_path):
    """A store built under token_mode='unicode' refuses a default-mode
    handle loudly (and vice versa) — same pin discipline as the r12
    tokenizer version."""
    import pytest as _pytest

    from ralf_spark.operators.dedup import GramIndex, MinHashIndex

    docs = _docs(spark, [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")])
    gi = GramIndex(str(tmp_path / "gi"), min_tokens=8, token_mode="unicode")
    gi.build(docs)
    with _pytest.raises(ValueError, match="tokeniz"):
        GramIndex(str(tmp_path / "gi"), min_tokens=8).add(docs)
    mi = MinHashIndex(str(tmp_path / "mi"), num_perm=4, bands=2,
                      token_mode="unicode")
    mi.build(docs)
    with _pytest.raises(ValueError, match="tokeniz"):
        MinHashIndex(str(tmp_path / "mi"), num_perm=4, bands=2).add(docs)
    # matching mode reopens fine
    assert (
        MinHashIndex(str(tmp_path / "mi"), num_perm=4, bands=2,
                     token_mode="unicode")
        .add(docs, threshold=0.0)
        .count()
        >= 0
    )
    with _pytest.raises(ValueError, match="token_mode"):
        GramIndex(str(tmp_path / "x"), token_mode="nfkc")


def test_unicode_mode_collapses_case_nbsp_variants(spark):
    """End-to-end: near_dup_pairs(token_mode='unicode') surfaces an
    UPPERCASED NBSP-separated copy at jaccard 1.0; the ascii tokenizer
    cannot see it (the variant is one giant token -> no shingles)."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.dedup import near_dup_pairs
    from ralf_spark.table import FeatureTable

    text = "the quick brown fox jumps over the lazy dog again and again"
    var = text.upper().replace(" ", " ")
    t = FeatureTable(
        spark.createDataFrame(
            [(1, text), (2, var)], "doc_id long, text string"
        ),
        key="doc_id",
    )
    got = near_dup_pairs(t, num_perm=8, bands=4, threshold=0.5,
                         token_mode="unicode").collect()
    assert [(r.id1, r.id2, r.jaccard) for r in got] == [(1, 2, 1.0)]
    assert near_dup_pairs(t, num_perm=8, bands=4, threshold=0.5).count() == 0


@pytest.mark.slow
def test_gram_index_retro_delta_accumulates_to_full_retro(spark, tmp_path):
    """r13 (VERDICT r12 #3): retro_delta() emits the CURRENT spans of
    documents touched by data since the watermark; folding the per-add
    deltas latest-wins-per-doc equals the one-shot retro() (and the
    batch detector over everything). Untouched cadences emit nothing;
    maintain() keeps the watermark valid across the compaction rename."""
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, b3 = _gram_batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, count_mode=True,
        auto_maintain=0,
    )
    idx.build(_docs(spark, list(b1.items())))
    folded: dict[int, list[tuple]] = {}

    def fold(delta_rows):
        by_doc: dict[int, list[tuple]] = {}
        for r in delta_rows:
            by_doc.setdefault(r.doc_id, []).append(tuple(r))
        folded.update(by_doc)

    d0 = idx.retro_delta(spark).collect()  # covers build's base tag
    idx.commit_retro_delta(spark)  # r14: consume-then-commit
    fold(d0)
    idx.add(_docs(spark, list(b2.items()))).collect()
    fold(idx.retro_delta(spark).collect())
    idx.commit_retro_delta(spark)
    # watermark caught up -> an empty cadence emits nothing
    assert idx.retro_delta(spark).collect() == []
    # compaction between cadences must not break the watermark
    idx.maintain(spark, keep_last=0, tiered=False)
    assert idx.retro_delta(spark).collect() == []
    idx.add(_docs(spark, list(b3.items()))).collect()
    fold(idx.retro_delta(spark).collect())
    idx.commit_retro_delta(spark)
    got = sorted(s for spans in folded.values() for s in spans)
    want_full = sorted(tuple(r) for r in idx.retro(spark).collect())
    seen = {**b1, **b2, **b3}
    assert got == want_full == _brute_spans(seen, 8) and got
    # doc 2 (batch-1, unique then duplicated by batch 3) was retro-flagged
    assert any(s[0] == 2 for s in got)


@pytest.mark.slow
def test_unicode_mode_span_removal_cuts_normalized_stream(spark):
    """r13: remove_duplicate_spans(token_mode='unicode') detects AND cuts
    in the same normalized token stream — an NBSP/uppercase copy of a
    repeated passage is removed from both documents, and the clean text
    is the normalized rejoin."""
    from ralf_spark.operators.dedup import remove_duplicate_spans
    from ralf_spark.table import FeatureTable

    boiler = " ".join(f"w{i}" for i in range(10))
    variant = boiler.upper().replace(" ", " ")
    t = FeatureTable(
        spark.createDataFrame(
            [
                (1, "head1 head2 " + boiler + " tail1 tail2"),
                (2, variant + " other1 other2 other3"),
            ],
            "doc_id long, text string",
        ),
        key="doc_id",
    )
    got = {
        r.doc_id: r
        for r in remove_duplicate_spans(t, token_mode="unicode").collect()
    }
    assert got[1].clean_text == "head1 head2 tail1 tail2"
    assert got[2].clean_text == "other1 other2 other3"
    assert got[1].n_removed == got[2].n_removed == 10
    # ascii mode sees no duplicate at all (the variant is 1 giant token)
    asc = {
        r.doc_id: r for r in remove_duplicate_spans(t).collect()
    }
    assert asc[2].n_removed == 0


def test_retro_delta_scans_are_column_pruned(spark, tmp_path, monkeypatch):
    """Scale contract of the at-scale (fused) spelling, forced with the
    size gate off: the position log is scanned ONCE, column-pruned to
    (_id, _pos, _dg) plus the file path behind the newness flag, and
    every probe stage reads the shared cache instead of the parquet
    files."""
    import re

    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.plans.explain import explain_str

    monkeypatch.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
    docs = _docs(
        spark,
        [
            (i, " ".join(f"w{j}" for j in range(i % 5, i % 5 + 12)))
            for i in range(40)
        ],
    )
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, count_mode=True,
        auto_maintain=0,
    )
    idx.build(docs)
    d = idx.retro_delta(spark)
    plan = explain_str(d)
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert len(schemas) == 1  # one scan of the position log
    assert schemas[0].startswith("struct<_id:bigint,_pos:int,_dg:")
    # the four probe stages read the fused cache
    assert plan.count("InMemoryTableScan") >= 4
    unpersist_cached(d)


def test_retro_delta_fused_store_scan(spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 #4) updated for r16 (VERDICT r15 #1): the
    default cadence on a footer-proved small store is the ONE-PASS
    window spelling — a single full-log scan, no probe joins, no
    broadcasts, no cache — and retro() counts through a window. With
    ``SPARK_GRAFT_SMALL_CORPUS=0`` (the 100 TB regime) the size gate
    refuses GramIndex too: retro_delta takes the fused probe chain,
    which persists ONE (_id, _pos, _dg) store projection and routes all
    four probe joins through it, and retro() the groupBy + rejoin. Both
    regimes emit identical spans."""
    import re

    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.plans.explain import explain_str

    b1, b2, _ = _gram_batches()
    spans = {}
    for mode in ("window", "fused"):
        if mode == "fused":
            monkeypatch.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
        idx = GramIndex(
            str(tmp_path / mode), min_tokens=8, count_mode=True,
            auto_maintain=0,
        )
        idx.build(_docs(spark, list(b1.items())))
        idx.add(_docs(spark, list(b2.items()))).collect()
        d = idx.retro_delta(spark)
        r = idx.retro(spark)
        plan, retro_plan = explain_str(d), explain_str(r)
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
        if mode == "window":
            # one-pass: a single scan pays the position log, and the
            # plan carries no joins and no broadcasts at all
            assert len([s for s in schemas if "_pos" in s]) == 1
            assert "Join" not in plan and "Broadcast" not in plan
            assert "Join" not in retro_plan
        if mode == "fused":
            # the store is read through the cache: at most the one
            # fused projection scan pays the position column, and the
            # cadence plan carries cache nodes and probe joins
            assert len([s for s in schemas if "_pos" in s]) <= 1
            assert "InMemoryTableScan" in plan and "Join" in plan
            assert "Join" in retro_plan and "HashAggregate" in retro_plan
        spans[mode] = sorted(tuple(x) for x in d.collect())
        spans[mode + "_retro"] = sorted(tuple(x) for x in r.collect())
        unpersist_cached(d)
    assert spans["window"] == spans["fused"]
    assert spans["window"]
    assert spans["window_retro"] == spans["fused_retro"]
    assert spans["window_retro"]


def test_retro_delta_two_phase_watermark(spark, tmp_path):
    """r14 (VERDICT r13 #2 / ADVICE r13): the default cadence is
    exactly-once — the watermark advances only at
    ``commit_retro_delta`` (the consume point). A caller that 'crashes'
    between the call and the commit loses nothing: the next cadence
    re-emits the uncommitted tags' spans."""
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, _ = _gram_batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, count_mode=True,
        auto_maintain=0,
    )
    idx.build(_docs(spark, list(b1.items())))
    idx.add(_docs(spark, list(b2.items()))).collect()
    first = sorted(tuple(r) for r in idx.retro_delta(spark).collect())
    assert first
    # no commit: the caller died before persisting its output
    again = sorted(tuple(r) for r in idx.retro_delta(spark).collect())
    assert again == first  # re-emitted in full
    idx.commit_retro_delta(spark)
    assert idx.retro_delta(spark).collect() == []  # now covered
    assert idx.commit_retro_delta(spark) == []  # idempotent no-op


@pytest.mark.slow
def test_retro_delta_shuffle_join_degrade_matches_broadcast(
    spark, tmp_path, monkeypatch, spelling_probe
):
    """retro_delta's three spellings return identical spans: the
    one-pass window cadence on a footer-proved small store (no joins, no
    stats job), the four-stage probe chain with every probe broadcast
    (``SPARK_GRAFT_SMALL_CORPUS=0``), and the same chain degraded to
    shuffle joins past the bound (a pair limit of 0 — the 100 TB batch
    regime)."""
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.operators.util import unpersist_cached

    probes = {"small": set(), "measured": {"broadcast-right"},
              "shuffle": {"shuffle"}}
    b1, b2, _ = _gram_batches()
    spans = {}
    for arm in ("small", "measured", "shuffle"):
        idx = GramIndex(
            str(tmp_path / arm), min_tokens=8, count_mode=True,
            auto_maintain=0,
        )
        idx.build(_docs(spark, list(b1.items())))
        idx.add(_docs(spark, list(b2.items()))).collect()
        spelling_probe.clear()
        with _spelling(monkeypatch, arm):
            d = idx.retro_delta(spark)
        assert bool(spelling_probe) == (arm != "small"), arm
        assert _join_spellings(d, "_dg", "_id") == probes[arm], arm
        spans[arm] = sorted(tuple(r) for r in d.collect())
        unpersist_cached(d, blocking=True)
    assert spans["small"] == spans["measured"] == spans["shuffle"]
    assert spans["small"]


def test_minhash_index_check_is_read_only(spark, tmp_path):
    """r13: MinHashIndex.check() screens a batch against the store
    without folding (cross pairs only by default; within_batch=True
    adds the batch's self-pairs), never writes the store or its meta,
    and refuses a virgin path instead of stamping a config."""
    import os

    import pytest as _pytest

    from ralf_spark.operators.dedup import MinHashIndex

    corpus = _docs(spark, [(2, "a b c d e f g"), (4, "p q r s t u v")])
    batch = _docs(
        spark,
        [(1, "a b c d e f g"), (3, "a b c d e f h"), (5, "z z2 z3 z4")],
    )
    idx = MinHashIndex(str(tmp_path / "mi"), num_perm=8, bands=4)
    idx.build(corpus)

    def tree(p):
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(p)
            for f in fs
        )

    before = tree(str(tmp_path / "mi"))
    cross = sorted(
        (r.id1, r.id2) for r in idx.check(batch, threshold=0.3).collect()
    )
    assert cross and all((a % 2 == 0) != (b % 2 == 0) for a, b in cross)
    assert (1, 2) in cross  # batch doc 1 duplicates corpus doc 2
    both = sorted(
        (r.id1, r.id2)
        for r in idx.check(batch, threshold=0.3,
                           within_batch=True).collect()
    )
    assert (1, 3) in both and set(cross) <= set(both)
    assert tree(str(tmp_path / "mi")) == before  # byte-untouched
    with _pytest.raises(ValueError, match="no _meta"):
        MinHashIndex(str(tmp_path / "virgin"), num_perm=8, bands=4).check(
            batch
        )
    assert not os.path.exists(str(tmp_path / "virgin" / "_meta"))


@pytest.mark.slow
def test_maintain_reports_retro_watermark_coverage(spark, tmp_path):
    """r14 (ADVICE r13): maintain()'s summary says whether the compacted
    tag could be marked retro-covered — covered=False warns the operator
    that the next retro_delta pays a one-time O(store) cadence."""
    from ralf_spark.operators.dedup import GramIndex

    b1, b2, _ = _gram_batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, count_mode=True,
        auto_maintain=0,
    )
    idx.build(_docs(spark, list(b1.items())))
    idx.retro_delta(spark).collect()
    idx.commit_retro_delta(spark)  # base covered
    idx.add(_docs(spark, list(b2.items()))).collect()  # b2 NOT covered
    out = idx.maintain(spark, keep_last=0, tiered=False)
    wm = out["retro_watermark"]
    assert wm is not None and wm["covered"] is False
    assert wm["uncovered_sources"]  # names the never-retro'd tag
    # the cadence after the uncovered fold is O(store) but CORRECT
    spans = sorted(tuple(r) for r in idx.retro_delta(spark).collect())
    idx.commit_retro_delta(spark)
    assert spans == sorted(tuple(r) for r in idx.retro(spark).collect())
    # a fully covered fold reports covered=True
    idx.add(_docs(spark, [(900, "x1 x2 x3 x4 x5 x6 x7 x8 x9")])).collect()
    idx.retro_delta(spark).collect()
    idx.commit_retro_delta(spark)
    out2 = idx.maintain(spark, keep_last=0, tiered=False)
    assert out2["retro_watermark"]["covered"] is True


def test_sq8_bounds_matches_per_dimension_minmax(spark):
    """sq8_bounds is each dimension's exact (min, max) in dimension
    order, bit-identical to a driver-side computation (min/max are
    exact in IEEE doubles); an empty corpus has no bounds."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.similarity import sq8_bounds

    vecs = [[float(i) * 0.5 - 1.0, float((i * 7) % 5), -2.5 + i]
            for i in range(9)]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<double>",
    ).repartition(3)
    ref = [(min(col), max(col)) for col in zip(*vecs)]
    assert sq8_bounds(df) == ref
    assert sq8_bounds(df.where(F.lit(False))) == []
