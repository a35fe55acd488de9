"""Point-query serving latency: bucketed vs unbucketed parquet state.

The serving-read half of the reference's table contract
(``ralf/table.py:179-191``: point/bulk queries against maintained state)
has plan-level pruning gates (``connectors.pruned_point_plan``) but no
recorded latency. This script measures it: latest-per-event state from
the sf0.1 events fixture (100k keys), served as

- unbucketed parquet + a full-scan key filter (``FeatureTable.point_query``
  shape), vs
- ``ParquetStateConnector`` key-bucketed layout (``bucket =
  pmod(xxhash64(key), 64)`` directory partitioning) whose point plan
  prunes to ONE bucket directory, vs
- ``FeatureStore.point_query`` on the unbucketed table registered with
  a store: its first (cold) read builds the store's point index, and
  later (warm) reads are driver-side lookups when the index's size gate
  admits the table (the 5M-key state is refused and reads through
  Spark).

Run: ``python scripts_point_bench.py`` — prints a markdown row set for
BENCH_NOTES. Medians over interleaved repeats, warm JVM.
"""

from __future__ import annotations

import statistics
import tempfile
import time

from pyspark.sql import functions as F

from ralf_spark.connectors import ParquetStateConnector
from ralf_spark.session import get_spark
from ralf_spark.sources.fixtures import load_fixture
from ralf_spark.store import FeatureStore
from ralf_spark.table import FeatureTable

SF_DIR = "/root/testdata/sf0.1"
N_KEYS = 20
REPEATS = 5


def _bench_bulk(spark, label, flat, conn):
    """Bulk state read (the training-export path, ``ralf/table.py:
    193-206`` analog: ``StateConnector.bulk_query``) — full scan of the
    same state via both layouts, drained executor-side (a 5M-key export
    feeds a training job, never the driver). n=3 medians, warm JVM."""
    def drain(df):
        df.write.format("noop").mode("overwrite").save()

    drain(flat.df)  # warm listings
    drain(conn.load(spark).df)
    fs, bs = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        drain(flat.df)
        fs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        drain(conn.load(spark).df)
        bs.append(time.perf_counter() - t0)
    print(f"| {label} bulk export, unbucketed | "
          f"{statistics.median(fs)*1000:.0f}ms | - | "
          f"{max(fs)*1000:.0f}ms | {len(fs)} |")
    print(f"| {label} bulk export, bucketed (64) | "
          f"{statistics.median(bs)*1000:.0f}ms | - | "
          f"{max(bs)*1000:.0f}ms | {len(bs)} |")


def _bench(spark, state, key_col, keys, ts=None, seq=None, bulk_label=None):
    flat_path = tempfile.mkdtemp(prefix="pb_flat_") + "/state"
    state.df.write.parquet(flat_path)
    flat = FeatureTable(spark.read.parquet(flat_path), key=key_col, ts=ts,
                    seq=seq)
    conn = ParquetStateConnector(
        tempfile.mkdtemp(prefix="pb_bucket_") + "/state",
        key=key_col, num_buckets=64,
    )
    conn.save(state)
    # warm both paths once (plan compile / file listing)
    flat.point_query(keys[0])
    conn.point_query(spark, keys[0])
    store = FeatureStore(spark)
    store.register("state", flat)
    t0 = time.perf_counter()
    assert len(store.point_query("state", keys[0])) == 1
    cold_ms = (time.perf_counter() - t0) * 1000
    flat_ms, bucket_ms, store_ms = [], [], []
    for _ in range(REPEATS):
        for k in keys:
            t0 = time.perf_counter()
            rows = flat.point_query(k)
            flat_ms.append((time.perf_counter() - t0) * 1000)
            assert len(rows) == 1
            t0 = time.perf_counter()
            rows = conn.point_query(spark, k)
            bucket_ms.append((time.perf_counter() - t0) * 1000)
            assert len(rows) == 1
            t0 = time.perf_counter()
            rows = store.point_query("state", k)
            store_ms.append((time.perf_counter() - t0) * 1000)
            assert len(rows) == 1
    if bulk_label is not None:
        _bench_bulk(spark, bulk_label, flat, conn)
    return flat_ms, bucket_ms, store_ms, cold_ms


def _report(label, flat_ms, bucket_ms, store_ms, cold_ms):
    def row(name, xs):
        med, p90 = statistics.median(xs), sorted(xs)[int(0.9 * len(xs))]
        print(f"| {label} {name} | {med:.1f}ms | {p90:.1f}ms "
              f"| {max(xs):.1f}ms | {len(xs)} |")

    row("unbucketed full-scan filter", flat_ms)
    row("bucketed (64) pruned plan", bucket_ms)
    row("FeatureStore.point_query, first (cold) read", [cold_ms])
    row("FeatureStore.point_query, warm", store_ms)


def main() -> None:
    spark = get_spark(app_name="point_bench",
                      extra_confs={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # --- sf0.1 fixture state: 100k keys (planning-dominated regime)
    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    state = FeatureTable(ev, key="event_id", ts="ts")
    keys = [r.event_id for r in
            ev.select("event_id").orderBy(F.rand(7)).limit(N_KEYS).collect()]

    # --- 5M-key synthetic state with SHUFFLED key layout: md5 string
    # keys are uncorrelated with file order, so row-group min/max stats
    # cannot save the unbucketed scan — the regime where the bucketed
    # layout's directory pruning is load-bearing (any real served state)
    big = (
        spark.range(5_000_000)
        .select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("value"),
        )
        .repartition(64)
    )
    big_state = FeatureTable(big, key="k", seq="value")
    import hashlib

    big_keys = [hashlib.md5(str(i).encode()).hexdigest()
                for i in range(0, N_KEYS * 137, 137)][:N_KEYS]

    print("| state / layout | median | p90 | max | n |")
    print("|---|---|---|---|---|")
    _report("100k-key", *_bench(spark, state, "event_id", keys, ts="ts"))
    _report("5M-key", *_bench(spark, big_state, "k", big_keys,
                          seq="value", bulk_label="5M-key"))
    spark.stop()


if __name__ == "__main__":
    main()
