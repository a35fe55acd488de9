"""Shuffle/scan/python budgets for representative driver-checked queries.

The plan audit (scripts_plan_audit.py / PLANS.md) is a committed artifact;
these tests make the key rows a regression gate: an extra Exchange on a
per-key aggregate, a lost single-scan property, or a Python eval node
sneaking into a JVM-only pipeline fails CI rather than silently shipping
a 100 TB slowdown.

Budgets are written as '<=' against the AQE-off static plan (the same mode
the audit uses): AQE can only coalesce/convert at runtime, never add
exchanges beyond the static plan.

r7 recalibration: the audit now counts DISTINCT node ids from the
FORMATTED explain (cached InMemoryRelation bodies re-print under every
reference, which inflated the old simple-mode string counts — the
curation pipeline's stage persists pushed the naive FileScan count to 41
for 2 executing scans). Budgets below are pinned at the r7 audited
values under the id-deduplicated method.
"""

from __future__ import annotations

import pytest

from scripts_plan_audit import audit

#: query -> (max scans, max shuffles, max python nodes)
BUDGETS = {
    # single-pass per-key aggregates: 1 scan, agg shuffle + output sort
    "per_key_avg": (1, 2, 0),
    "latest_per_key": (1, 2, 0),
    # the serving read: key filter + top-1 sort-limit, never a shuffle
    "point_query_latest_state": (1, 0, 0),
    "event_type_counts": (1, 3, 0),
    # count windows: one key shuffle + output sort (agg reuses partitioning)
    "tumbling_count_window": (1, 2, 0),
    "sliding_count_window": (1, 2, 0),
    "trailing_10min_count": (1, 2, 0),
    # single-scan profiling is the whole point of the operator
    # (3 = explode-distinct partial + final agg + output sort)
    "profile_columns": (1, 3, 0),
    # as-of: union + ONE window shuffle + output sort, zero joins
    "asof_join_latest_state": (2, 2, 0),
    # text analysis is scan-side JVM work: no shuffle before the sort,
    # and NEVER a Python node
    "text_stats": (1, 1, 0),
    "language_id": (1, 2, 0),
    "text_quality": (1, 2, 0),
    "doc_fingerprint_simhash": (1, 2, 0),
    # multimodal decode is exactly one Arrow-batched python op
    "multimodal_image_features": (1, 2, 1),
    # ----- the 100 TB-critical text/dedup pipelines (VERDICT r4 #8):
    # most expensive sweep queries — a future SMJ/cartesian/shuffle
    # regression here is exactly the class that ships a scale cliff.
    # explode 10-gram spans -> scan-side 60-bit hash -> count -> join
    # back: two shuffles of fixed-width ints + output sort, span hashes
    # never carry text
    "duplicate_ngram_spans": (2, 5, 0),
    # iterative PageRank with per-round checkpointing: each round is a
    # bounded (vocab-sized) graph join; the ceiling pins rounds x
    # per-round cost so an accidental lineage blowup (the pre-r4 bug
    # class) or extra per-round shuffle fails here
    "textrank_tokens": (2, 10, 0),
    # full LSH + component closure + one ranking window over ONE scan
    "dedup_keep_best": (1, 5, 0),
    # index add round: batch projections (cached) + stored-side snapshot
    # reads; exactly the bucket equi-join + pair-distinct shuffles,
    # never a corpus x batch join. r8: +1 scan — the chained-broadcast
    # scoring streams the stored signature snapshot through TWO map-side
    # BHJs instead of shuffling it onto both sides of the verify join
    # (scan twice < shuffle once at corpus scale)
    "incremental_minhash_index": (4, 3, 0),
    # ----- the end-to-end composition gates (VERDICT r5 #4): the most
    # regression-prone plans in the registry — 8 chained curation
    # operators resp. the 4-stage feature pipeline. Ceilings pinned at
    # the audited r6 values (12/24/0 and 2/4/0): a lost broadcast, an
    # extra pipeline-stage shuffle, or Python leaking into the chain
    # fails here before it ships as a composed-scan slowdown.
    # r8: the chained-broadcast verification (SCALEPROBE finding 1)
    # embeds the candidate subtree in TWO broadcast builds, so the
    # STATIC distinct-id count rises 13 -> 21 while runtime reuses the
    # exchanges — measured wall 10.3 -> 5.8s at sf0.1 and shuffle
    # 331 -> 139 MB/pass at 48x (BENCH_NOTES r8). The ceiling pins the
    # audited static shape; the python==0 and scans<=2 halves are the
    # load-bearing regressions guards.
    "curation_pipeline_end2end": (2, 21, 0),
    "feature_pipeline_end2end": (2, 4, 0),
    # ----- r11b exact-substring family: the gram table must never carry
    # text into a shuffle or self-join — 2 scans (positions recomputed on
    # both sides of the dup-digest join: scan twice < shuffle fat rows
    # once), digest groupBy + rejoin + island window + output sort
    "exact_substring_spans": (2, 5, 0),
    # detect -> cut adds the token rejoin scan + per-doc agg shuffle
    "exact_substring_removal": (3, 6, 0),
    # GramIndex add round: batch positions + frozen store snapshot; the
    # store only ever SCANS (batch digests broadcast into it)
    "incremental_gram_index": (2, 6, 0),
    # SQ8: encode is one scan + output sort; ADC serving adds only the
    # partial-top-k rank exchange (WindowGroupLimit keeps it k x parts)
    "sq8_encode_codes": (1, 1, 0),
    "sq8_adc_topk": (2, 2, 0),
}

#: r11 (VERDICT r10 #5): driver-prefix queries whose static plans must
#: stay SortMergeJoin-free. Both used to carry 2 SMJs on provably small
#: derived frames — ivf_recall_clustered's per-query top-10 joins (fixed
#: with broadcast hints; subtree size estimates freeze pessimistic under
#: windows/aggs) and feature_drift_psi's FULL OUTER histogram align
#: (fixed by union + re-aggregate — Spark cannot broadcast a full outer).
#: r15: the full-registry audit (scripts_plan_audit.py --all) found the
#: same estimate-freeze class OUTSIDE the prefix — pq_rerank joins two
#: per-query top-10 frames, kmeans_refine joins two k-row aggregates;
#: both now carry the broadcast hints and must stay SMJ-free.
SMJ_FREE = (
    "ivf_recall_clustered", "feature_drift_psi",
    "pq_rerank_recall_clustered", "kmeans_refine_step",
)


@pytest.fixture(scope="module")
def static_spark():
    from ralf_spark.session import get_spark

    spark = get_spark(
        app_name="plan_budget_test",
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    # builder confs are IGNORED when another test module already created
    # the session — under AQE the explain output repeats subtrees
    # (initial + current plan per AdaptiveSparkPlan), double-counting
    # every metric. Force the audit regime at runtime and restore after.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_within_budget(static_spark, name):
    from ralf_spark.queries import QUERIES

    # cache state left by other test modules changes the explain string
    # (a matching persisted subtree becomes an InMemoryRelation whose
    # description embeds ITS OWN nested FileScans, inflating the
    # string-based audit counts) — audit canonical plans only
    static_spark.catalog.clearCache()
    df = QUERIES[name].fn(static_spark, "/root/testdata/sf0.001")
    # physical plan ONLY — queryExecution().toString() concatenates the
    # parsed/analyzed/optimized/physical stages and overcounts every node
    jvm = static_spark._jvm  # type: ignore[attr-defined]
    ex = jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = audit(ex)
    max_scans, max_shuffles, max_python = BUDGETS[name]
    assert m["scans"] <= max_scans, (name, m)
    assert m["shuffles"] <= max_shuffles, (name, m)
    assert m["python"] <= max_python, (name, m)
    # an all-pairs plan is never acceptable in any budgeted query
    assert "CartesianProduct" not in ex, name


@pytest.mark.parametrize("name", SMJ_FREE)
def test_prefix_plan_smj_free(static_spark, name):
    from ralf_spark.queries import QUERIES

    static_spark.catalog.clearCache()
    df = QUERIES[name].fn(static_spark, "/root/testdata/sf0.001")
    jvm = static_spark._jvm  # type: ignore[attr-defined]
    ex = jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in ex, name


@pytest.mark.slow
def test_registry_wide_no_cartesian_no_rowwise_python(static_spark):
    """Global anti-pattern net over EVERY registry query's plan (the
    per-query budgets above pin only representatives): no CartesianProduct
    anywhere (every intentional crossJoin in the engine broadcasts a
    small-by-contract side, which plans as BroadcastNestedLoopJoin), and
    no row-at-a-time Python eval (BatchEvalPython) - Python may appear
    only as Arrow-batched nodes. One test, all queries, so a new query
    with a pathological plan fails CI without needing its own budget."""
    from ralf_spark.queries import QUERIES
    from scripts_plan_audit import SKIP

    jvm = static_spark._jvm  # type: ignore[attr-defined]
    bad = {}
    for name, q in QUERIES.items():
        if name in SKIP:
            continue
        static_spark.catalog.clearCache()
        df = q.fn(static_spark, "/root/testdata/sf0.001")
        ex = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        flags = []
        if "CartesianProduct" in ex:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in ex:
            flags.append("BatchEvalPython")
        if flags:
            bad[name] = flags
    assert not bad, bad


def test_shuffle_mode_verify_join_reuses_store_exchange(
    static_spark, monkeypatch
):
    """ADVICE r9 (verified r10): in the no-hint (shuffle) verification
    spelling, the store/shingle side appears in BOTH half-joins but is
    shuffled by the same key, so exchange reuse serves the second join
    from the first join's shuffle — the one-store-scan-per-projection
    contract holds without persisting the candidate subtree. A lost
    ReusedExchange here means every add/verify pays a second corpus
    shuffle at scale. A pair limit of 0 puts both operators past the
    measured bound, and the plans show the shuffle spelling ran: sort-
    merge joins and no broadcast."""
    import tempfile

    from pyspark.sql import functions as F

    import ralf_spark.plans.sizing as sizing
    from ralf_spark.operators.dedup import MinHashIndex, near_dup_pairs
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.table import FeatureTable

    monkeypatch.setattr(sizing, "BROADCAST_CANDIDATE_LIMIT", 0)

    prev = static_spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    static_spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = static_spark.createDataFrame(
            [(i, f"the quick brown fox jumps over the lazy dog {i % 3}")
             for i in range(40)],
            "doc_id long, text string",
        )
        p = near_dup_pairs(
            FeatureTable(docs, key="doc_id"), hash_fn="xxhash64"
        )
        plan = p._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "BroadcastHashJoin" not in plan, plan[:2000]
        assert plan.count("ReusedExchange") >= 1, plan[:2000]
        unpersist_cached(p)

        idx = MinHashIndex(tempfile.mkdtemp() + "/idx", hash_fn="xxhash64")
        idx.build(FeatureTable(docs.where(F.col("doc_id") < 20),
                               key="doc_id"))
        pairs = idx.add(
            FeatureTable(docs.where(F.col("doc_id") >= 20), key="doc_id"),
            batch_tag="b1",
        )
        plan2 = pairs._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2, plan2[:2000]
        assert "BroadcastHashJoin" not in plan2, plan2[:2000]
        assert plan2.count("ReusedExchange") >= 1, plan2[:2000]
        # each stored projection (sigs, buckets) scans once
        assert plan2.count("Scan parquet") <= 2, plan2[:2000]
        unpersist_cached(pairs)
    finally:
        static_spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prev
        )
