"""FeatureStore surface tests: CSV source (S4 batch), registry +
point/bulk query, SQL entry, and observe() counters (A4/X10)."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F
from pyspark.sql import Observation

from ralf_spark.store import FeatureStore
from ralf_spark.table import FeatureTable


def test_read_csv_roundtrip(spark, tmp_path):
    path = str(tmp_path / "in_csv")
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, k string, v double"
    ).write.option("header", True).mode("overwrite").csv(path)
    store = FeatureStore(spark)
    t = store.read_csv(path, key="k")
    got = {r.k: (r.id, r.v) for r in t.df.collect()}
    assert got == {"a": (1, 1.5), "b": (2, 2.5)}


def test_csv_streaming_replay(spark, tmp_path):
    """S4's streaming half: the same CSV replayed as a bounded stream."""
    from ralf_spark.streaming import file_events, run_bounded, write_memory

    path = str(tmp_path / "in_csv_s")
    spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "event_id long, user_id long, value double",
    ).write.option("header", True).mode("overwrite").csv(path)
    stream = file_events(
        spark, path, schema="event_id long, user_id long, value double",
        fmt="csv",
    )
    run_bounded(
        write_memory(stream, "csv_replay"),
        checkpoint=str(tmp_path / "ck_csv"),
    )
    # exactly the 30 data rows — the header line must NOT appear as a row
    assert spark.table("csv_replay").count() == 30
    assert spark.table("csv_replay").where(F.col("event_id").isNull()).count() == 0


def test_register_point_and_bulk(spark):
    store = FeatureStore(spark)
    t = FeatureTable(
        spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 9.0), (2, 1, 5.0)], "k long, seq long, v double"
        ),
        key="k", seq="seq",
    )
    store.register("feat", t)
    [row] = store.point_query("feat", 1)
    assert row.v == 9.0
    bulk = store.bulk_query("feat")
    assert hasattr(bulk, "collect")
    assert len(store.bulk_query("feat", collect=True)) == 2
    # registered name also usable from SQL
    assert store.sql("SELECT count(*) AS n FROM feat").df.collect()[0].n == 3


def test_observed_counters(spark):
    t = FeatureTable(
        spark.createDataFrame([(1, 1.0), (2, 2.0), (2, 3.0)], "k long, v double"),
        key="k",
    )
    obs = Observation("state")
    t.observed(
        obs,
        F.count(F.lit(1)).alias("num_records"),
        # DISTINCT aggregates are not allowed in observed metrics; the
        # sketch version is the metrics-safe spelling.
        F.approx_count_distinct("k").alias("num_keys"),
    ).collect()
    assert obs.get["num_records"] == 3
    assert obs.get["num_keys"] == 2


@pytest.mark.slow
def test_metrics_to_parquet_merges_observations(spark, tmp_path):
    """X10 closure: observation counters land in one long-format parquet
    metrics table with label columns, accumulating across runs — the
    reference's sqlite->parquet merge (ralf/v2/utils.py:36-69) as a call."""
    from ralf_spark.metrics import metrics_to_parquet

    path = str(tmp_path / "metrics")

    def run(tag):
        t = FeatureTable(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0), (2, 3.0)], "k long, v double"
            ),
            key="k",
        )
        obs = Observation()
        t.observed(obs, F.count(F.lit(1)).alias("num_records")).collect()
        metrics_to_parquet(
            spark, {"state": obs}, path, labels={"run_id": tag}
        )

    run("r1")
    run("r2")
    got = spark.read.parquet(path)
    assert set(got.columns) == {"observation", "metric", "value", "run_id"}
    rows = {(r.run_id, r.observation, r.metric, r.value) for r in got.collect()}
    assert rows == {
        ("r1", "state", "num_records", 3.0),
        ("r2", "state", "num_records", 3.0),
    }
    # non-numeric metrics are rejected, not silently stringified
    import pytest

    from ralf_spark.metrics import metrics_rows

    t = FeatureTable(
        spark.createDataFrame([(1, "a")], "k long, s string"), key="k"
    )
    obs = Observation()
    t.observed(obs, F.max("s").alias("max_s")).collect()
    with pytest.raises(TypeError, match="max_s"):
        metrics_rows({"state": obs})


def test_read_jsonl_with_schema_and_corrupt_records(spark, tmp_path):
    from ralf_spark.store import FeatureStore

    path = str(tmp_path / "events.jsonl")
    with open(path, "w") as f:
        f.write('{"k": "a", "v": 1.5}\n')
        f.write('{"k": "b", "v": 2.5}\n')
        f.write("not json at all\n")
    store = FeatureStore(spark)
    t = store.read_jsonl(
        path, schema="k string, v double, _corrupt_record string", key="k"
    )
    rows = {r.k: r.v for r in t.df.where("_corrupt_record IS NULL").collect()}
    assert rows == {"a": 1.5, "b": 2.5}
    bad = t.df.where("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record


def test_deploy_run_and_load_state_roundtrip(spark, tmp_path):
    """Reference deploy/run parity: deploy two tables (one derived) with
    connectors, run() materializes both states, load_state serves them
    back without recomputing lineage."""
    from ralf_spark.connectors import MemoryConnector, ParquetStateConnector
    from ralf_spark.store import FeatureStore
    from ralf_spark.table import FeatureTable

    store = FeatureStore(spark)
    events = FeatureTable(
        spark.createDataFrame(
            [(1, 1, 10.0), (1, 2, 20.0), (2, 1, 5.0)],
            "user_id long, seq long, value double",
        ),
        key="user_id", seq="seq",
    )
    totals = events.transform(
        lambda df: df.groupBy("user_id").sum("value")
    )
    store.deploy("events", events,
                 ParquetStateConnector(str(tmp_path / "ev"), key="user_id"))
    store.deploy("totals", FeatureTable(totals.df, key="user_id"),
                 MemoryConnector("totals_state", key="user_id"))
    store.run()

    ev_state = store.load_state("events")
    assert {r.user_id: r.value for r in ev_state.df.collect()} == {
        1: 20.0, 2: 5.0  # latest-per-key upsert semantics
    }
    tot = store.load_state("totals")
    assert {r[0]: r[1] for r in tot.df.collect()} == {1: 30.0, 2: 5.0}


# ------------------------------------------------ point index (store)

def _jobs_of(spark, group, fn):
    """(outcome, jobs) of ``fn`` run in a job group of its own; the
    outcome is the returned rows or the raised error's type and text."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "store.point_query")
    try:
        out = ("rows", fn())
    except Exception as e:  # noqa: BLE001 - compared across the two paths
        out = ("error", type(e).__name__, str(e).splitlines()[0])
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_store_point_index_matches_table(
    spark, tmp_path, monkeypatch, key_type
):
    """The index serves ``FeatureTable.point_query``'s rows for every
    key and for absent keys, on a multi-file parquet table of
    ``point_rows`` (NULL ts, NULL seq and seq ties)."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    from tests.test_core_surface import point_rows

    def key(i):
        return i if key_type == "long" else f"k{i}"

    path = str(tmp_path / "t")
    spark.createDataFrame(
        point_rows(key), f"k {key_type}, ts long, seq long, v double"
    ).repartition(4).write.parquet(path)
    store = FeatureStore(spark)
    t = store.register("t", store.read_parquet(path, key="k", ts="ts", seq="seq"))
    for k in [key(i) for i in range(12)] + [key(50), key(51), key(77)]:
        assert store.point_query("t", k) == t.point_query(k), k
    assert store._indexes["t"] is not None  # served by the index
    assert store.point_query("t", key(77)) == []


def test_store_point_index_payload_types(spark, tmp_path, monkeypatch):
    """Every served column type converts to ``collect()``'s Row."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    import datetime as dt
    from decimal import Decimal

    schema = (
        "k long, ts timestamp, seq int, ntz timestamp_ntz, d date, "
        "dec decimal(12,3), b boolean, bin binary, arr array<string>, "
        "m map<string,int>, st struct<x:double,y:array<long>>, "
        "f float, sh short, by byte, s string"
    )
    rows = []
    for i in range(6):
        for seq in (1, 2):
            rows.append((
                i, dt.datetime(2024, 1, 1, 12, i, 30, 123456), seq,
                dt.datetime(2023, 6, 1, i, 5), dt.date(2020, 2, 1 + i),
                Decimal(f"{i}.{seq}25"), i % 2 == 0, bytes([i, seq]),
                [f"a{i}", None], {"x": i, "y": None},
                (i / 3, [i, seq]), float(i) / 7, i, seq, f"s{i}{seq}",
            ))
    rows.append((9,) + (None,) * 14)
    path = str(tmp_path / "payload")
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(path)
    store = FeatureStore(spark)
    t = store.register(
        "p", store.read_parquet(path, key="k", ts="ts", seq="seq")
    )
    for k in [*range(6), 9, 42]:
        assert store.point_query("p", k) == t.point_query(k), k
    assert store._indexes["p"] is not None


def _upserted(spark, tmp_path, batches):
    from ralf_spark.connectors import upsert_into

    path = str(tmp_path / "state")
    for rows in batches:
        upsert_into(path, FeatureTable(
            spark.createDataFrame(
                rows, "user_id long, ts long, seq long, value double"
            ),
            key="user_id", ts="ts", seq="seq",
        ))
    return path


def test_store_point_index_job_budget(spark, tmp_path, monkeypatch):
    """On ``upsert_into`` state the first read builds the index in at
    most one Spark job, and the next five run none."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    path = _upserted(spark, tmp_path, [
        [(i, 10, i, float(i)) for i in range(50)],
        [(i, 20, 100 + i, -float(i)) for i in range(0, 80, 2)],
    ])
    store = FeatureStore(spark)
    meta = dict(key="user_id", ts="ts", seq="seq")
    store.register("state", store.read_parquet(path, **meta))
    reads = [
        _jobs_of(spark, f"index_read_{n}", lambda k=k: store.point_query("state", k))
        for n, k in enumerate([4, 5, 4, 60, 7, 200])
    ]
    assert reads[0][1] <= 1, reads[0]
    assert [jobs for _, jobs in reads[1:]] == [0] * 5
    values = [out[1][0].value if out[1] else None for out, _ in reads]
    assert values == [-4.0, 5.0, -4.0, -60.0, 7.0, None]


def test_store_point_index_snapshot_and_invalidation(spark, tmp_path):
    """A registration is a snapshot: after an upsert appends beside its
    files the index still serves the copied row, and so does a Spark
    read of the old registration (its files are still there).
    ``register`` and ``deploy`` drop the index, and the same key reads
    the new row."""
    path = _upserted(spark, tmp_path, [[(i, 10, i, float(i)) for i in range(10)]])
    store = FeatureStore(spark)
    meta = dict(key="user_id", ts="ts", seq="seq")
    old = store.register("state", store.read_parquet(path, **meta))
    [row] = store.point_query("state", 3)
    assert row.value == 3.0
    _upserted(spark, tmp_path, [[(3, 20, 50, -3.0)]])
    [row] = store.point_query("state", 3)
    assert row.value == 3.0  # the snapshot
    [row] = old.point_query(3)
    assert row.value == 3.0  # its files are still there
    store.register("state", store.read_parquet(path, **meta))
    [row] = store.point_query("state", 3)
    assert row.value == -3.0
    _upserted(spark, tmp_path, [[(3, 30, 60, -30.0)]])
    store.deploy("state", store.read_parquet(path, **meta))
    [row] = store.point_query("state", 3)
    assert row.value == -30.0


_CATALOG_TABLE = "point_index_catalog_table"


def _refusal_case(spark, tmp_path, case, monkeypatch):
    """(table, key looked up, warm-up key or None) for one refusal."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    store = FeatureStore(spark)
    rows = [(i, 10 + i % 3, i, float(i)) for i in range(20)]
    rows += [(i, 30, 100 + i, -float(i)) for i in range(0, 20, 3)]
    ddl = "k long, ts long, seq long, v double"
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, ddl).write.parquet(path)
    meta = dict(key="k", ts="ts", seq="seq")
    if case == "small_corpus_off":
        monkeypatch.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
        return store, store.read_parquet(path, **meta), 3, None
    if case == "catalog_table":
        spark.sql(
            f"CREATE TABLE {_CATALOG_TABLE} USING parquet LOCATION '{path}'"
        )
        return store, FeatureTable(spark.table(_CATALOG_TABLE), **meta), 3, None
    if case == "in_memory":
        return store, FeatureTable(spark.createDataFrame(rows, ddl), **meta), 3, None
    if case == "rand_column":
        df = spark.read.parquet(path).withColumn("r", F.rand(7))
        return store, FeatureTable(df, **meta), 3, None
    if case == "float_ts":
        df = spark.read.parquet(path).withColumn("ts", F.col("ts").cast("double"))
        df.write.parquet(path + "_f")
        return store, store.read_parquet(path + "_f", **meta), 3, None
    if case == "bool_key":
        return store, store.read_parquet(path, **meta), True, 4
    if case == "str_key_on_long":
        return store, store.read_parquet(path, **meta), "3", 4
    if case == "pyarrow_dictionary_strings":
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path + "_pa")
        pq.write_table(pa.table({
            "k": pa.array(range(200), pa.int64()),
            "ts": pa.array([7] * 200, pa.int64()),
            "text": pa.array(["the same long document " * 20] * 200),
        }), path + "_pa/part-0.parquet")
        return store, FeatureTable(
            spark.read.parquet(path + "_pa"), key="k", ts="ts"
        ), 3, None
    raise AssertionError(case)


@pytest.mark.parametrize("case", [
    "small_corpus_off", "catalog_table", "in_memory", "rand_column",
    "float_ts", "bool_key", "str_key_on_long", "pyarrow_dictionary_strings",
])
def test_store_point_index_refusals_take_spark_path(
    spark, tmp_path, monkeypatch, case
):
    """Every refused condition reads through ``FeatureTable.point_query``:
    one Spark job, and its rows or its error."""
    store, t, k, warm = _refusal_case(spark, tmp_path, case, monkeypatch)
    try:
        store.register("t", t)
        if warm is not None:  # the value, not the table, is refused
            store.point_query("t", warm)
            assert store._indexes["t"] is not None
        got, jobs = _jobs_of(spark, f"refused_{case}", lambda: store.point_query("t", k))
        want, _ = _jobs_of(spark, f"spark_{case}", lambda: t.point_query(k))
        assert got == want
        if got[0] == "rows":
            assert jobs == 1, (case, jobs)
        if warm is None:
            assert store._indexes["t"] is None, case
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_CATALOG_TABLE}")


def test_index_expansion_bounds_driver_bytes(spark, tmp_path, monkeypatch):
    """The index's two expansion entries bound what building it
    allocates on the driver — Python objects and the Arrow buffers
    ``toArrow`` reads (tracemalloc's peak, plus any Arrow pool growth) —
    on narrow worst cases: long and string keys, unique and repeated,
    and empty and 1-char strings."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    import gc
    import tracemalloc

    import pyarrow as pa

    from ralf_spark.plans import sizing
    from ralf_spark.store import _KeyIndex

    n = 20_000
    key = F.col("id") % (n // 2)
    cases = {
        "long_unique": spark.range(n).select(F.col("id").alias("k"), F.col("id").alias("ts")),
        "long_repeated": spark.range(n).select(key.alias("k"), F.col("id").alias("ts")),
        "string_unique": spark.range(n).select(
            F.col("id").cast("string").alias("k"), F.col("id").alias("ts")),
        "string_repeated": spark.range(n).select(
            key.cast("string").alias("k"), F.col("id").alias("ts")),
        "short_strings": spark.range(n).select(
            F.col("id").alias("k"), F.col("id").alias("ts"), F.lit("").alias("a"),
            F.lit("x").alias("b"), F.lit(True).alias("c")),
    }
    x = sizing.EXPANSION
    for name, df in cases.items():
        path = str(tmp_path / name)
        df.coalesce(2).write.parquet(path)
        t = FeatureTable(spark.read.parquet(path), key="k", ts="ts")
        assert sizing.provably_small_snapshot(
            t.df, per_byte=x["index_byte"], per_row=x["index_row"]
        ), name
        sized = [sizing._decoded_bytes(f, spark)
                 for f in sizing._bounded_input_files(t.df)]
        bound = sum(
            d * x["index_byte"] + r * x["index_row"] for r, d in sized
        )
        gc.collect()
        arrow0 = pa.total_allocated_bytes()
        tracemalloc.start()
        try:
            index = _KeyIndex.build(t)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert index is not None and len(index.pos) == n // (
            2 if "repeated" in name else 1), name
        used = peak + max(0, pa.total_allocated_bytes() - arrow0)
        assert used <= bound, (name, used, bound)
        del index
