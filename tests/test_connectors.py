"""State-connector CRUD contract, mirroring the reference's connector tests
(``ralf/tests/test_state.py:35-73``: update -> point -> bulk -> overwrite ->
delete -> count), parametrized over all connectors, plus the scale property
that makes ParquetStateConnector the at-scale choice: partition-pruned
point reads."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ralf_spark.connectors import (
    InMemoryKVClient,
    KVStateConnector,
    MemoryConnector,
    ParquetStateConnector,
    RedisKVClient,
    SqliteStateConnector,
)
from ralf_spark.plans.explain import explain_str
from ralf_spark.table import FeatureTable


class _FakeRedisServer:
    """Server double with the redis-py hash API surface RedisKVClient
    drives (redis-typed returns: bytes values, int counts) — validates the
    adapter's call mapping without a server. Swapped for ``fakeredis``
    when that package is installed."""

    def __init__(self):
        self._h: dict[str, dict[str, bytes]] = {}

    def hset(self, name, key, value):
        self._h.setdefault(name, {})[key] = bytes(value)
        return 1

    def hget(self, name, key):
        return self._h.get(name, {}).get(key)

    def hdel(self, name, *keys):
        t = self._h.get(name, {})
        return sum(t.pop(k, None) is not None for k in keys)

    def hvals(self, name):
        return list(self._h.get(name, {}).values())

    def hlen(self, name):
        return len(self._h.get(name, {}))

    def delete(self, *names):
        return sum(self._h.pop(n, None) is not None for n in names)


def _redis_server():
    try:
        import fakeredis

        return fakeredis.FakeRedis()
    except ImportError:
        return _FakeRedisServer()


def _events(spark, rows):
    return FeatureTable(
        spark.createDataFrame(rows, "user_id long, ts long, seq long, value double"),
        key="user_id", ts="ts", seq="seq",
    )


def _make(kind, tmp_path):
    if kind == "memory":
        return MemoryConnector(f"state_{tmp_path.name}", key="user_id")
    if kind == "parquet":
        return ParquetStateConnector(
            str(tmp_path / "state"), key="user_id", num_buckets=8
        )
    if kind == "kv":
        return KVStateConnector(InMemoryKVClient(), "state", key="user_id")
    if kind == "kv-redis":
        return KVStateConnector(
            RedisKVClient(client=_redis_server()), "state", key="user_id"
        )
    return SqliteStateConnector(
        str(tmp_path / "state.db"), "state", key="user_id"
    )


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["memory", "parquet", "sqlite", "kv", "kv-redis"])
def test_connector_crud_contract(spark, tmp_path, kind):
    con = _make(kind, tmp_path)
    t = _events(
        spark,
        [(1, 10, 1, 1.0), (1, 20, 2, 2.0), (2, 10, 3, 7.0), (3, 5, 4, 9.0)],
    )
    # update: saves latest-per-key state
    con.save(t)
    assert con.count(spark) == 3

    # point query
    [row] = con.point_query(spark, 1)
    assert (row.ts, row.value) == (20, 2.0)
    assert con.point_query(spark, 999) == []

    # bulk query
    bulk = {r.user_id: r.value for r in con.bulk_query(spark)}
    assert bulk == {1: 2.0, 2: 7.0, 3: 9.0}

    # overwrite with newer state
    con.save(_events(spark, [(1, 30, 5, 5.0), (2, 30, 6, 6.0), (3, 30, 7, 8.0)]))
    [row] = con.point_query(spark, 1)
    assert (row.ts, row.value) == (30, 5.0)

    # delete
    con.delete(spark, [1, 3])
    assert con.count(spark) == 1
    assert con.point_query(spark, 1) == []
    [row2] = con.point_query(spark, 2)
    assert row2.value == 6.0


def test_parquet_point_query_prunes_partitions(spark, tmp_path):
    con = ParquetStateConnector(
        str(tmp_path / "state"), key="user_id", num_buckets=8
    )
    con.save(
        _events(spark, [(i, 1, i, float(i)) for i in range(100)])
    )
    plan = explain_str(con.pruned_point_plan(spark, 42))
    assert "PartitionFilters: [isnotnull(bucket" in plan.replace("#", " #") or (
        "PartitionFilters" in plan and "bucket" in plan
    )
    # and the read itself is correct
    [row] = con.point_query(spark, 42)
    assert row.value == 42.0


def test_bulk_query_returns_dataframe_by_default(spark):
    t = _events(spark, [(1, 10, 1, 1.0), (1, 20, 2, 2.0)])
    df = t.bulk_query()
    assert hasattr(df, "collect")  # a DataFrame, not a list
    assert t.bulk_query(collect=True)[0].value == 2.0


def test_sqlite_rejects_unsupported_types(spark, tmp_path):
    con = SqliteStateConnector(str(tmp_path / "x.db"), "state", key="k")
    t = FeatureTable(
        spark.createDataFrame([(1, [1.0])], "k long, arr array<double>"),
        key="k",
    )
    with pytest.raises(TypeError):
        con.save(t)


@pytest.mark.slow
def test_sqlite_roundtrips_timestamp_state(spark, tmp_path):
    """The engine's canonical event state carries a TimestampType ts column;
    sqlite stores it as epoch micros and restores the type on load."""
    import datetime as dt

    con = SqliteStateConnector(str(tmp_path / "ts.db"), "state", key="k")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 5, 1, 12, 0, 0, 123456), 1.0)],
        "k long, ts timestamp, v double",
    )
    con.save(FeatureTable(df, key="k"))
    t = con.load(spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    [row] = t.df.collect()
    assert row.ts == dt.datetime(2024, 5, 1, 12, 0, 0, 123456)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key join with no
    Exchange in the plan — the pay-the-shuffle-once storage layout."""
    import pyspark.sql.functions as F

    from ralf_spark.plans.explain import explain_str

    left = FeatureTable(
        spark.range(0, 1000).select(
            F.col("id").alias("user_id"), (F.col("id") * 2.0).alias("a")
        ),
        key="user_id",
    )
    right = FeatureTable(
        spark.range(0, 1000).select(
            F.col("id").alias("user_id"), (F.col("id") * 3.0).alias("b")
        ),
        key="user_id",
    )
    lb = left.materialize_bucketed("bk_left_t", num_buckets=8)
    rb = right.materialize_bucketed("bk_right_t", num_buckets=8)
    try:
        joined = lb.df.hint("merge").join(rb.df, "user_id")
        plan = explain_str(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        # contrast: the un-bucketed join of the same data does shuffle
        plain = left.df.hint("merge").join(right.df, "user_id")
        assert "Exchange" in explain_str(plain)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_left_t")
        spark.sql("DROP TABLE IF EXISTS bk_right_t")


@pytest.mark.slow
def test_kv_roundtrips_timestamp_state(spark):
    import datetime as dt

    con = KVStateConnector(InMemoryKVClient(), "ts_state", key="k")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 5, 1, 12, 0, 0, 123456), 1.0)],
        "k long, ts timestamp, v double",
    )
    con.save(FeatureTable(df, key="k"))
    t = con.load(spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    [row] = t.df.collect()
    assert row.ts == dt.datetime(2024, 5, 1, 12, 0, 0, 123456)
    [prow] = con.point_query(spark, 1)
    assert prow.ts == dt.datetime(2024, 5, 1, 12, 0, 0, 123456)


@pytest.mark.parametrize("kind", ["sqlite", "kv"])
def test_connector_roundtrips_timestamp_ntz(spark, tmp_path, kind):
    """A TIMESTAMP_NTZ column survives save/load through the epoch-micros
    encoding: NULL, pre-1970 (negative micros) and sub-second values."""
    import datetime as dt

    if kind == "sqlite":
        con = SqliteStateConnector(str(tmp_path / "ntz.db"), "s", key="k")
    else:
        con = KVStateConnector(InMemoryKVClient(), "s", key="k")
    rows = [
        (1, None),
        (2, dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
        (3, dt.datetime(1900, 1, 1, 0, 0, 0, 1)),
        (4, dt.datetime(2024, 5, 1, 12, 0, 0, 123456)),
    ]
    con.save(FeatureTable(
        spark.createDataFrame(rows, "k long, ts timestamp_ntz"), key="k"
    ))
    t = con.load(spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(tuple(r) for r in t.df.collect()) == rows


def test_kv_upsert_keeps_absent_keys_serving(spark):
    """upsert (the streaming edge) must NOT evict keys missing from the
    batch — unlike save, which is a full refresh."""
    con = KVStateConnector(InMemoryKVClient(), "state", key="user_id")
    con.save(_events(spark, [(1, 10, 1, 1.0), (2, 10, 2, 2.0)]))
    con.upsert(_events(spark, [(1, 20, 3, 9.0)]))
    assert con.count(spark) == 2
    assert con.point_query(spark, 1)[0].value == 9.0
    assert con.point_query(spark, 2)[0].value == 2.0
    con.save(_events(spark, [(1, 30, 4, 5.0)]))  # full refresh evicts 2
    assert con.count(spark) == 1


def test_upsert_into_cleans_staging_dir(spark, tmp_path):
    """ADVICE r2: the .__staging__ directory must not leak disk on every
    upsert, and repeated upserts must merge with existing state."""
    import os

    from ralf_spark.connectors import upsert_into

    path = str(tmp_path / "state")
    upsert_into(path, _events(spark, [(1, 10, 1, 1.0)]))
    upsert_into(path, _events(spark, [(2, 10, 2, 2.0)]))
    assert not os.path.exists(path + ".__staging__")
    assert not os.path.exists(path + ".__retired__")
    got = {r.user_id: r.value for r in _upsert_state(spark, path).collect()}
    assert got == {1: 1.0, 2: 2.0}


def _upsert_state(spark, path):
    """The ``upsert_into`` state at ``path``: ``latest()`` of its store
    read."""
    from ralf_spark.store import FeatureStore

    return FeatureStore(spark).read_parquet(
        path, key="user_id", ts="ts", seq="seq"
    ).latest().df


def test_parquet_delete_cleans_staging_dir(spark, tmp_path):
    import os

    path = str(tmp_path / "st")
    con = ParquetStateConnector(path, key="user_id", num_buckets=4)
    con.save(_events(spark, [(1, 10, 1, 1.0), (2, 10, 2, 2.0)]))
    con.delete(spark, [1])
    assert not os.path.exists(path + ".__staging__")
    assert not os.path.exists(path + ".__retired__")
    assert con.count(spark) == 1
    # the renamed publish keeps the bucket= layout the point read prunes on
    plan = explain_str(con.pruned_point_plan(spark, 2))
    assert "PartitionFilters" in plan and "bucket" in plan
    [row] = con.point_query(spark, 2)
    assert row.value == 2.0


def test_upsert_into_existing_state_job_budget(spark, tmp_path):
    """An upsert into existing state appends the batch's per-key
    winners and reads no state: at most 2 Spark jobs for an in-memory
    batch, the ``latest()`` shuffle and the write (the full-rewrite
    state's ``latest()`` over state ∪ batch and staged rename ran 4)."""
    from ralf_spark.connectors import upsert_into

    path = str(tmp_path / "state")
    upsert_into(path, _events(spark, [(i, 10, i, float(i)) for i in range(50)]))
    batch = _events(spark, [(i, 20, 100 + i, -float(i)) for i in range(0, 80, 2)])
    sc = spark.sparkContext
    sc.setJobGroup("upsert_budget", "upsert_into into existing state")
    try:
        upsert_into(path, batch)
    finally:
        sc.setJobGroup(None, None)
    jobs = list(sc.statusTracker().getJobIdsForGroup("upsert_budget"))
    assert 0 < len(jobs) <= 2, f"upsert_into ran {len(jobs)} jobs: {jobs}"
    want = {i: float(i) for i in range(50)}
    want.update({i: -float(i) for i in range(0, 80, 2)})
    got = {r.user_id: r.value for r in _upsert_state(spark, path).collect()}
    assert got == want


def test_point_query_on_upserted_state_is_one_job(spark, tmp_path):
    """A point read of persisted state is a key filter and a top-1
    sort-limit: exactly 1 Spark job (a grouped ``max_by`` aggregate ran
    2, with a shuffle and an AQE re-plan between them), planned as
    ``TakeOrderedAndProject`` with no ``Exchange`` or ``HashAggregate``."""
    from ralf_spark.connectors import upsert_into

    path = str(tmp_path / "state")
    upsert_into(path, _events(spark, [(i, 10, i, float(i)) for i in range(50)]))
    batch = [(i, 20, 100 + i, -float(i)) for i in range(0, 80, 2)]
    upsert_into(path, _events(spark, batch))
    t = FeatureTable(spark.read.parquet(path), key="user_id", ts="ts", seq="seq")
    sc = spark.sparkContext
    sc.setJobGroup("point_budget", "FeatureTable.point_query on parquet state")
    try:
        [row] = t.point_query(4)
    finally:
        sc.setJobGroup(None, None)
    jobs = list(sc.statusTracker().getJobIdsForGroup("point_budget"))
    assert len(jobs) == 1, f"point_query ran {len(jobs)} jobs: {jobs}"
    assert row.value == -4.0
    df = t.point_query_df(4)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan and "HashAggregate" not in plan, plan


class _Crash(RuntimeError):
    """Stands in for a writer killed mid-publish."""


def _crash_before_staging_rename(real_rename):
    """``connectors._rename`` that dies instead of moving staging onto
    ``path``: the writer stops between the two publish renames, with
    ``path`` already parked at ``__retired__``."""
    from ralf_spark.connectors import STAGING_SUFFIX

    def rename(fs, src, dst):
        if src.getName().endswith(STAGING_SUFFIX):
            raise _Crash("killed between the publish renames")
        real_rename(fs, src, dst)

    return rename


def _crash_second_publish(spark, tmp_path, monkeypatch, case, write):
    """Publish batch 1 with ``write(path, 1)``, then kill the publish of
    batch 2 between its renames and leave the disk in the state ``case``
    names:

    - ``staging_complete``: ``path`` parked at ``__retired__``, the full
      new state in staging (roll forward to batch 2);
    - ``staging_gone``: as above, staging lost too (roll back to batch 1);
    - ``stale_retired``: a ``__retired__`` from an earlier run sat next to
      ``path`` before the crash and staging is lost — the rollback must
      restore batch 1, not the stale copy.
    """
    import os
    import shutil

    import ralf_spark.connectors as conn

    path = str(tmp_path / "state")
    write(path, 1)
    if case == "stale_retired":
        stale = str(tmp_path / "stale")
        write(stale, 1)
        write(stale, 3)
        shutil.copytree(stale, path + conn.RETIRED_SUFFIX)
    with monkeypatch.context() as m:
        m.setattr(conn, "_rename", _crash_before_staging_rename(conn._rename))
        with pytest.raises(_Crash):
            write(path, 2)
    assert not os.path.exists(path)
    assert os.path.exists(path + conn.RETIRED_SUFFIX)
    if case != "staging_complete":
        shutil.rmtree(path + conn.STAGING_SUFFIX)
    return path


_CRASH_CASES = ["staging_complete", "staging_gone", "stale_retired"]

_UPSERT_BATCHES = {
    1: [(1, 10, 1, 1.0), (2, 10, 2, 2.0)],
    2: [(1, 20, 3, 9.0), (3, 10, 4, 3.0)],
    3: [(2, 30, 5, 7.0), (4, 10, 6, 4.0)],
}


def _legacy_upsert(spark, path, i):
    """Batch ``i`` upserted in the full-rewrite layout: ``latest()`` over
    state ∪ batch, published by ``_staged_overwrite`` — how ``upsert_into``
    wrote state before it appended, and the layout it migrates."""
    from ralf_spark.connectors import _staged_overwrite, _try_read_parquet

    batch = _events(spark, _UPSERT_BATCHES[i])
    current = _try_read_parquet(spark, path)
    if current is not None:
        batch = batch._with(current.unionByName(batch.df))
    _staged_overwrite(spark, batch.latest().df, path)


@pytest.mark.parametrize("case", _CRASH_CASES)
def test_upsert_crash_between_publish_renames_recovers(
    spark, tmp_path, monkeypatch, case
):
    """A full-rewrite state whose publish was killed between the renames
    has no ``path``; ``read_parquet`` rolls it forward from a complete
    staging directory or back from ``__retired__`` — never "no state" —
    and the migrating ``upsert_into`` of the replayed batch and the next
    one equal an uninterrupted run."""
    import os

    from ralf_spark.connectors import (
        RETIRED_SUFFIX,
        STAGING_SUFFIX,
        upsert_into,
        upsert_state_meta,
    )
    from ralf_spark.store import FeatureStore

    def write(path, i):
        _legacy_upsert(spark, path, i)

    def rows(path):
        return sorted(map(tuple, _upsert_state(spark, path).collect()))

    ref = str(tmp_path / "ref")
    want = {}
    for i in (1, 2, 3):
        write(ref, i)
        want[i] = rows(ref)

    path = _crash_second_publish(spark, tmp_path, monkeypatch, case, write)
    recovered = FeatureStore(spark).read_parquet(path)
    got = sorted(map(tuple, recovered.df.collect()))
    assert got == (want[2] if case == "staging_complete" else want[1])
    # the stream replays the batch it never saw committed
    upsert_into(path, _events(spark, _UPSERT_BATCHES[2]))
    assert upsert_state_meta(spark, path) is not None  # migrated
    assert rows(path) == want[2]
    upsert_into(path, _events(spark, _UPSERT_BATCHES[3]))
    assert rows(path) == want[3]
    assert not os.path.exists(path + STAGING_SUFFIX)
    assert not os.path.exists(path + RETIRED_SUFFIX)


@pytest.mark.parametrize("case", _CRASH_CASES)
def test_fold_sink_load_state_survives_publish_crash(
    spark, tmp_path, monkeypatch, case
):
    """The fold sinks' replay marker lives in the state table, so after a
    crash between the publish renames ``_load_state`` must return the
    pre- or post-crash table (marker 1 or 2), never ``None`` — which would
    re-fold every batch from the start — and the replay converges."""
    from ralf_spark.streaming.sinks import _load_state, moments_upsert_batch

    batches = {
        i: spark.createDataFrame(
            [(k, float(k * i + j)) for k in (1, 2, 3) for j in range(i + 1)],
            "k long, v double",
        )
        for i in (1, 2, 3)
    }

    def write(path, i):
        moments_upsert_batch(path, "k", "v")(batches[i], i)

    def rows(path):
        state, last = _load_state(spark, path)
        return last, sorted(
            (r.k, r.n, round(r.mean, 9), round(r.m2, 9))
            for r in state.collect()
        )

    ref = str(tmp_path / "ref")
    want = {}
    for i in (1, 2):
        write(ref, i)
        want[i] = rows(ref)

    path = _crash_second_publish(spark, tmp_path, monkeypatch, case, write)
    assert rows(path) == (want[2] if case == "staging_complete" else want[1])
    write(path, 2)  # replayed: skipped if rolled forward, folded if back
    assert rows(path) == want[2]


@pytest.mark.parametrize("case", _CRASH_CASES)
def test_parquet_connector_reads_survive_publish_crash(
    spark, tmp_path, monkeypatch, case
):
    """After a ``ParquetStateConnector.save`` killed between the publish
    renames, ``load`` and ``point_query`` each recover the pre- or
    post-crash state instead of failing on the missing ``path``."""

    def con(path):
        return ParquetStateConnector(path, key="user_id", num_buckets=4)

    def write(path, i):
        con(path).save(_events(spark, _UPSERT_BATCHES[i]))

    batch = _UPSERT_BATCHES[2 if case == "staging_complete" else 1]
    loaded = _crash_second_publish(
        spark, tmp_path / "load", monkeypatch, case, write
    )
    assert sorted(map(tuple, con(loaded).load(spark).df.collect())) == \
        sorted(batch)
    pointed = _crash_second_publish(
        spark, tmp_path / "point", monkeypatch, case, write
    )
    assert [tuple(r) for r in con(pointed).point_query(spark, 1)] == \
        [r for r in batch if r[0] == 1]


@pytest.mark.parametrize("case", _CRASH_CASES)
def test_state_readers_survive_publish_crash(
    spark, tmp_path, monkeypatch, case
):
    """``FeatureStore.read_parquet`` over full-rewrite ``upsert_into``
    state and ``read_bucketed_state`` over an unbucketed fold sink's
    state recover a publish killed between its renames: each returns the
    pre- or post-crash state instead of failing on the missing ``path``,
    and the migrating ``upsert_into`` of the next batch lands on it."""
    from ralf_spark.connectors import upsert_into
    from ralf_spark.store import FeatureStore
    from ralf_spark.streaming.sinks import (
        moments_upsert_batch,
        read_bucketed_state,
    )

    i = 2 if case == "staging_complete" else 1

    def upsert(path, j):
        _legacy_upsert(spark, path, j)

    ref = str(tmp_path / "ref")
    for j in range(1, i + 1):
        upsert(ref, j)
    want = sorted(map(tuple, spark.read.parquet(ref).collect()))
    path = _crash_second_publish(
        spark, tmp_path / "upsert", monkeypatch, case, upsert
    )
    fs = FeatureStore(spark)
    table = fs.register(
        "state", fs.read_parquet(path, key="user_id", ts="ts", seq="seq")
    )
    assert sorted(map(tuple, table.df.collect())) == want
    assert [tuple(r) for r in fs.point_query("state", 1)] == \
        [r for r in want if r[0] == 1]
    upsert(ref, 3)
    upsert_into(path, _events(spark, _UPSERT_BATCHES[3]))
    assert sorted(map(tuple, _upsert_state(spark, path).collect())) == \
        sorted(map(tuple, spark.read.parquet(ref).collect()))

    batches = {
        j: spark.createDataFrame(
            [(k, float(k * j)) for k in (1, 2)], "k long, v double"
        )
        for j in (1, 2, 3)
    }

    def fold(path, j):
        moments_upsert_batch(path, "k", "v")(batches[j], j)

    ref = str(tmp_path / "fold_ref")
    for j in range(1, i + 1):
        fold(ref, j)
    want = sorted(map(tuple, read_bucketed_state(spark, ref).collect()))
    path = _crash_second_publish(
        spark, tmp_path / "fold", monkeypatch, case, fold
    )
    assert sorted(map(tuple, read_bucketed_state(spark, path).collect())) == \
        want


# ------------------------------------------------------------ snapshot diff
def test_snapshot_diff_classifies_all_four_statuses(spark):
    from ralf_spark.connectors import snapshot_diff
    import pyspark.sql.functions as F

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, 20.0), (3, 99.0), (4, 40.0)], "k long, v double"
    )
    rows = {r.k: r for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    assert rows[1].status == "removed" and rows[1].new_v is None
    assert rows[2].status == "unchanged"
    assert rows[3].status == "changed" and (rows[3].old_v, rows[3].new_v) == (30.0, 99.0)
    assert rows[4].status == "added" and rows[4].old_v is None


def test_snapshot_diff_null_value_still_counts_as_present(spark):
    from ralf_spark.connectors import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k long, v double")
    new = spark.createDataFrame([(1, None), (2, None)], "k long, v double")
    rows = {r.k: r.status for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # key 1 exists in both with NULL value -> unchanged (null-safe compare);
    # key 2's NULL value must not mask its 'added' status
    assert rows == {1: "unchanged", 2: "added"}


def test_redis_client_requires_redis_package_or_injected_client():
    """Without redis-py installed, constructing from host/port must fail
    loudly with the dependency named; an injected client needs nothing."""
    try:
        import redis  # noqa: F401

        has_redis = True
    except ImportError:
        has_redis = False
    if not has_redis:
        with pytest.raises(RuntimeError, match="redis"):
            RedisKVClient(host="localhost")
    c = RedisKVClient(client=_FakeRedisServer())
    c.hset("t", "k", b"v")
    assert c.hget("t", "k") == b"v" and c.hget("t", "missing") is None
    assert c.hvals("t") == [b"v"] and c.hlen("t") == 1
    c.hdel("t", "k")
    assert c.hlen("t") == 0
    c.hset("t", "k2", b"v2")
    c.delete("t")
    assert c.hlen("t") == 0


@pytest.mark.slow
def test_parquet_sidecar_roundtrip_and_tristate(spark, tmp_path):
    """r15 driver-side sidecar IO: the helpers that replaced the
    per-open Spark jobs on config pins / quantizer sidecars must (a)
    round-trip rows bit-exactly, (b) keep the tri-state read semantics
    (missing -> None, empty dir -> [], committed garbage -> raise), and
    (c) stay byte-compatible with Spark's parquet reader/writer in BOTH
    directions — old stores keep opening, new stores stay readable by
    spark.read.parquet."""
    from ralf_spark.connectors import (
        read_parquet_sidecar,
        write_parquet_sidecar,
    )

    p = str(tmp_path / "side")
    # missing path
    assert read_parquet_sidecar(spark, p) is None
    # crashed writer: directory exists, no committed part file
    (tmp_path / "side").mkdir()
    assert read_parquet_sidecar(spark, p) == []
    # round-trip, overwriting the empty dir
    rows = [("md5", 8, None, True, 0.5, [1.0, 2.0])]
    ddl = ("a string, b int, c bigint, d boolean, e double, "
           "f array<double>")
    write_parquet_sidecar(spark, p, rows, ddl)
    got = read_parquet_sidecar(spark, p)
    assert got == [
        {"a": "md5", "b": 8, "c": None, "d": True, "e": 0.5,
         "f": [1.0, 2.0]}
    ]
    # Spark can read what the driver-side writer committed
    svals = spark.read.parquet(p).collect()[0]
    assert (svals.a, svals.b, svals.c, svals.d, svals.e, list(svals.f)) \
        == ("md5", 8, None, True, 0.5, [1.0, 2.0])
    # and the driver-side reader can read what Spark committed
    sp = str(tmp_path / "sparkside")
    spark.createDataFrame([(1, "x")], "k int, v string").coalesce(
        1
    ).write.parquet(sp)
    assert read_parquet_sidecar(spark, sp) == [{"k": 1, "v": "x"}]
    # committed-but-unparseable raises (corruption stays loud)
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000-garbage.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        read_parquet_sidecar(spark, str(bad))


def test_store_epoch_roundtrip_and_fence(spark, tmp_path):
    """r16 (ADVICE r15 low): the store-generation fence — exclusive ops
    bump, concurrent adds compare at publish. A bump between the two
    aborts even when every lease involved has expired/been released."""
    from ralf_spark.connectors import (
        ConcurrentWriterError,
        bump_store_epoch,
        check_store_epoch,
        read_store_epoch,
    )

    p = str(tmp_path / "store")
    assert read_store_epoch(spark, p) == 0
    check_store_epoch(spark, p, 0)       # unchanged: publish proceeds
    check_store_epoch(spark, p, None)    # single-writer mode: skipped
    assert bump_store_epoch(spark, p) == 1
    assert read_store_epoch(spark, p) == 1
    with pytest.raises(ConcurrentWriterError):
        check_store_epoch(spark, p, 0)   # rewrite happened: abort
    check_store_epoch(spark, p, 1)
    assert bump_store_epoch(spark, p) == 2


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["minhash", "gram", "ivf"])
def test_exclusive_ops_bump_store_epoch(spark, tmp_path, kind):
    """Rebuilds and folding maintains advance the generation the publish
    fence compares; a maintain with nothing to fold does not."""
    from ralf_spark.connectors import read_store_epoch
    from ralf_spark.operators.dedup import GramIndex, MinHashIndex
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    def docs(lo):
        return FeatureTable(
            spark.createDataFrame(
                [(lo + i, "alpha beta gamma delta epsilon zeta eta theta "
                  f"iota w{lo + i}") for i in range(4)],
                "doc_id bigint, text string",
            ),
            key="doc_id",
        )

    def vecs(lo):
        return FeatureTable(
            spark.createDataFrame(
                [(lo + i, [float(i), 1.0]) for i in range(4)],
                "id bigint, embedding array<double>",
            ),
            key="id",
        )

    p = str(tmp_path / kind)
    if kind == "ivf":
        idx = IvfIndex(p, auto_maintain=0)
        cents = spark.createDataFrame(
            [(0, [0.0, 1.0]), (1, [3.0, 1.0])],
            "centroid_id long, centroid_vec array<double>",
        )
        build = lambda: idx.build(vecs(0), cents)  # noqa: E731
        add = lambda: idx.add(vecs(10), batch_tag="b1")  # noqa: E731
    else:
        idx = (
            GramIndex(p, min_tokens=8, auto_maintain=0)
            if kind == "gram"
            else MinHashIndex(p, num_perm=16, bands=8, auto_maintain=0)
        )
        build = lambda: idx.build(docs(0))  # noqa: E731
        add = lambda: idx.add(docs(10), batch_tag="b1").collect()  # noqa: E731
    assert read_store_epoch(spark, p) == 0
    build()
    assert read_store_epoch(spark, p) == 1
    build()  # re-build bumps again
    assert read_store_epoch(spark, p) == 2
    idx.maintain(spark)  # one tag: nothing to fold
    assert read_store_epoch(spark, p) == 2
    add()
    idx.maintain(spark, keep_last=0, tiered=False)  # base + b1 fold
    assert read_store_epoch(spark, p) == 3


def test_footer_rows_via_file_scheme_hadoop_path(
    spark, tmp_path, monkeypatch
):
    """r16 (VERDICT r15 #5): the size gate must read parquet footer rows
    through the Hadoop FS API under an explicit scheme (the
    remote-filesystem code path), not only from a bare local path, and
    both paths must agree — a row bound of 1234 admits the file, 1233
    refuses it."""
    import ralf_spark.plans.sizing as sizing

    p = str(tmp_path / "t.parquet")
    spark.range(0, 1234).coalesce(1).write.parquet(p)
    files = [
        f for f in __import__("os").listdir(p) if f.endswith(".parquet")
    ]
    local = f"{p}/{files[0]}"
    size = __import__("os").path.getsize(local)
    for limit, admitted in ((1234, True), (1233, False)):
        monkeypatch.setattr(sizing, "BROADCAST_CANDIDATE_LIMIT", limit)
        # bare local path (fast path)
        assert sizing.provably_small([(local, size)], spark) is admitted
        # file:// scheme -> local fast path still works
        assert sizing.provably_small(
            [(f"file://{local}", size)], spark
        ) is admitted
    # force the remote (seek-to-tail Hadoop stream) path directly
    assert sizing._footer_meta_remote(
        spark, f"file://{local}"
    ).num_rows == 1234


def test_jvm_handles_resolved_once_per_context(monkeypatch):
    """The filesystem helpers' JVM handles are looked up once per live
    SparkContext, shared by its sessions, and looked up again for a
    context started after a stop: a dead context's Configuration is
    never reused."""
    from ralf_spark import connectors

    lookups = []

    class Package:
        def __getattr__(self, name):
            lookups.append(name)
            return Package()

    class Context:
        def hadoopConfiguration(self):
            lookups.append("conf")
            return object()

    class Session:
        def __init__(self, jsc):
            self._jsc, self._jvm = jsc, Package()

    monkeypatch.setattr(connectors, "_JVM_HANDLES", None)
    first = Context()
    handles = connectors._jvm_handles(Session(first))
    n = len(lookups)
    assert n > 0
    assert connectors._jvm_handles(Session(first)) is handles  # same context
    assert len(lookups) == n
    restarted = connectors._jvm_handles(Session(Context()))
    assert len(lookups) == 2 * n
    assert restarted.conf is not handles.conf
