"""Semantic tests for the deterministic sketches — accuracy vs exact
counts (the oracle-parity suite already replays bit-determinism)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ralf_spark.operators.sketches import (
    hll_distinct,
    kmv_distinct,
    weighted_sample,
)
from ralf_spark.sources.fixtures import load_fixture

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return load_fixture(spark, "events", SF_DIR).df


def test_kmv_exact_below_k(spark, events):
    """Groups with fewer than k distinct values are counted exactly."""
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_distinct(
            events, ["event_type"], "user_id", k=1000
        ).collect()
    }
    assert est == exact


def test_kmv_estimation_accuracy(spark, events):
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_distinct(
            events, ["event_type"], "event_id", k=64
        ).collect()
    }
    for t, n in exact.items():
        assert abs(est[t] - n) / n < 0.5, (t, est[t], n)


def test_hll_estimation_accuracy(spark, events):
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_distinct"]
        for r in hll_distinct(events, ["event_type"], "event_id").collect()
    }
    # m=64 → relative error ~1.04/sqrt(64) = 13%; allow 4 sigma
    for t, n in exact.items():
        assert abs(est[t] - n) / n < 0.52, (t, est[t], n)


def test_weighted_sample_deterministic_and_biased(spark):
    docs = load_fixture(spark, "documents", SF_DIR).df.select(
        "doc_id", "n_chars"
    )
    s1 = weighted_sample(docs, "n_chars", 25, on="doc_id")
    s2 = weighted_sample(docs.repartition(7), "n_chars", 25, on="doc_id")
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in s2.collect())
    assert ids1 == ids2  # partitioning-independent
    assert len(ids1) == 25
    # weight-proportional: the sample should skew long
    avg_all = docs.agg(F.avg("n_chars")).first()[0]
    avg_sample = s1.agg(F.avg("n_chars")).first()[0]
    assert avg_sample > avg_all


# ---------------------------------------------------------------- r14: rq
def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rq_exact_below_k(spark, events):
    """Groups whose row count never exceeds k: the sample IS the group,
    so every quantile equals the exact type-1 quantile."""
    from ralf_spark.operators.sketches import reservoir_quantile

    est = {
        r["event_type"]: (r["p50"], r["p99"])
        for r in reservoir_quantile(
            events, ["event_type"], "value", "event_id",
            qs=(0.5, 0.99), k=10**6,
        ).collect()
    }
    import math

    vals = {}
    for r in events.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for t, vs in vals.items():
        vs.sort()
        for q, got in zip((0.5, 0.99), est[t]):
            want = vs[max(1, math.ceil(q * len(vs))) - 1]
            assert got == want, (t, q, got, want)


def test_rq_accuracy_at_small_k(spark, events):
    """k=256 sample: estimated p50/p90 within the DKW rank band of the
    exact quantile (checked in RANK space — value space can be spiky)."""
    from ralf_spark.operators.sketches import reservoir_quantile

    import bisect

    est = {
        r["event_type"]: (r["p50"], r["p90"])
        for r in reservoir_quantile(
            events, ["event_type"], "value", "event_id",
            qs=(0.5, 0.9), k=256,
        ).collect()
    }
    vals = {}
    for r in events.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for t, vs in vals.items():
        vs.sort()
        n = len(vs)
        for q, got in zip((0.5, 0.9), est[t]):
            rank = bisect.bisect_left(vs, got) / n
            assert abs(rank - q) < 0.12, (t, q, rank)  # 4σ at k=256


def test_rq_state_fold_equals_batch(spark, events):
    """The sketch algebra: fold(partial states over ANY row split) ==
    batch state — the property that makes the streaming log sink
    exactly-once by algebra — and replay idempotence (re-merging a
    batch changes nothing)."""
    from ralf_spark.operators.sketches import rq_fold, rq_state_update

    def rq_merge(state, batch):
        return rq_fold(state.unionByName(batch), ["event_type"], k=64)

    ev = events.select("event_type", "event_id", "value")
    batch_state = rq_state_update(ev, ["event_type"], "value", "event_id", k=64)
    a = ev.where(F.col("event_id") % 3 == 0)
    b = ev.where(F.col("event_id") % 3 == 1)
    c = ev.where(F.col("event_id") % 3 == 2)
    sa = rq_state_update(a, ["event_type"], "value", "event_id", k=64)
    sb = rq_state_update(b, ["event_type"], "value", "event_id", k=64)
    sc = rq_state_update(c, ["event_type"], "value", "event_id", k=64)
    folded = rq_merge(rq_merge(sa, sb), sc)
    assert _rows(folded) == _rows(batch_state)
    replayed = rq_merge(folded, sb)
    assert _rows(replayed) == _rows(batch_state)


def test_rq_partitioning_independent(spark, events):
    """Same estimate whatever the physical partitioning (the state is a
    pure function of the row set)."""
    from ralf_spark.operators.sketches import reservoir_quantile

    ev = events.select("event_type", "event_id", "value")
    e1 = reservoir_quantile(
        ev, ["event_type"], "value", "event_id", qs=(0.5, 0.9), k=64
    )
    e2 = reservoir_quantile(
        ev.repartition(13), ["event_type"], "value", "event_id",
        qs=(0.5, 0.9), k=64,
    )
    assert _rows(e1) == _rows(e2)


def test_rq_null_values_excluded(spark):
    """NULL values never enter the sample (cross-engine null-ordering
    is the one replay hazard; the operator filters them up front)."""
    from ralf_spark.operators.sketches import reservoir_quantile

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0), ("a", 4, 20.0)],
        "g string, id int, v double",
    )
    row = reservoir_quantile(
        df, ["g"], "v", "id", qs=(0.5, 1.0), k=16
    ).first()
    assert row["p50"] == 20.0 and row["p100"] == 30.0
