"""The driver-side spelling of ``connectors.upsert_into``: a batch
whose decoded rows are shown small is collected as Arrow, its per-key
winners are picked on the driver and appended as one plain-encoded
file, with no shuffle and no write job.

Both spellings must leave the same state whatever wrote the batch; the
Spark spelling must run for every batch the gate refuses; a writer
killed before its rename must leave the state as it was; and the
appended file must keep the point index serving."""

from __future__ import annotations

import datetime as dt
import os
from contextlib import contextmanager
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ralf_spark import connectors, layout
from ralf_spark.connectors import upsert_into
from ralf_spark.plans import sizing
from ralf_spark.store import FeatureStore
from ralf_spark.table import FeatureTable
from tests.test_upsert_state import BATCHES, META

DDL = "k long, ts long, seq long, v double"

#: every type of ``store._SERVED_TYPES``, nested ones included
TYPES_DDL = (
    "k long, ts timestamp, seq int, ntz timestamp_ntz, d date, "
    "dec decimal(12,3), b boolean, bin binary, arr array<string>, "
    "m map<string,int>, st struct<x:double,y:array<long>>, "
    "f float, sh short, by byte, s string"
)


def _typed_rows(batch: int) -> list[tuple]:
    rows = []
    for i in range(5):
        for seq in (1, 2):
            j = i + batch
            rows.append((
                i % 4, dt.datetime(2024, 1, 1, 12, j % 60, 30, 123456),
                None if (i, seq) == (3, 1) else seq,
                dt.datetime(2023, 6, 1, j % 24, 5),
                dt.date(2020, 2, 1 + j), Decimal(f"{j}.{seq}25"), j % 2 == 0,
                bytes([j, seq]), [f"a{j}", None, "a"], {"x": j, "y": None},
                (j / 3, [j, seq]), float(j) / 7, j, seq, f"s{j}{seq}",
            ))
    rows.append((9 + batch,) + (None,) * 14)
    return rows


#: name -> (schema, batches): out-of-order rows, NULL ts and seq and a
#: replay (BATCHES), a NULL key, a string key, every served type
CASES = {
    "mixed": (DDL, BATCHES),
    "null_key": (DDL, [
        [(1, 10, 1, 1.0), (None, 5, 1, 2.0)],
        [(None, 7, 0, 3.0), (None, 4, 9, 4.0), (None, None, 3, 5.0),
         (1, 9, 9, 6.0)],
        [(None, 7, None, 7.0), (2, 1, 1, 8.0)],
        [(None, 7, 1, 9.0)],
    ]),
    "string_key": (
        "k string, ts long, seq long, v double",
        [[(f"k{r[0]}",) + tuple(r[1:]) for r in rows] for rows in BATCHES],
    ),
    "types": (TYPES_DDL, [_typed_rows(b) for b in range(4)]),
}


@contextmanager
def _timestamps(spark, kind):
    """Spark writes timestamps as ``kind``: TIMESTAMP_MICROS or INT96."""
    conf = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(conf)
    spark.conf.set(conf, kind)
    try:
        yield
    finally:
        spark.conf.set(conf, old)


def _batch(spark, tmp_path, name, rows, ddl=DDL, files=2, writer="spark"):
    """The rows as a parquet batch of ``files`` files that Spark wrote
    (with size statistics), or of one file pyarrow wrote
    (dictionary-encoded, with none), opened as the benchmark opens its
    batches."""
    df = spark.createDataFrame(rows, ddl)
    path = str(tmp_path / "batches" / name)
    if writer == "pyarrow":
        os.makedirs(path)
        pq.write_table(df.toArrow(), f"{path}/part-0.parquet")
    else:
        df.repartition(files).write.parquet(path)
    return FeatureStore(spark).read_parquet(path, **META)


class _Spellings:
    """Counts the Spark spelling's writes; the driver-side one runs
    none."""

    def __init__(self, monkeypatch):
        self.spark = 0
        real = layout.write_batch

        def write_batch(df, root, tag, partition_by=("_batch",)):
            self.spark += 1
            real(df, root, tag, partition_by)

        monkeypatch.setattr(layout, "write_batch", write_batch)


def _state(spark, path):
    t = FeatureStore(spark).read_parquet(path, **META)
    return sorted(map(tuple, t.latest().df.collect()), key=repr)


@pytest.mark.parametrize("case,writer,timestamps", [
    (case, "spark", "TIMESTAMP_MICROS") for case in sorted(CASES)
] + [
    ("types", "spark", "INT96"),
    ("types", "pyarrow", None),
    ("mixed", "pyarrow", None),
    ("string_key", "pyarrow", None),
])
def test_small_upsert_matches_spark_spelling(
    spark, tmp_path, monkeypatch, case, writer, timestamps
):
    """The driver-side and the Spark spelling leave equal ``latest()``
    states after every batch, for batches Spark wrote (with INT96
    timestamps too) or pyarrow wrote. The first upsert
    is the migration, which writes the base, in both arms; under
    ``SPARK_GRAFT_SMALL_CORPUS=0`` both arms run the Spark spelling."""
    ddl, batches = CASES[case]
    small_regime = os.environ.get("SPARK_GRAFT_SMALL_CORPUS", "1") != "0"
    spellings = _Spellings(monkeypatch)
    small, big = str(tmp_path / "small"), str(tmp_path / "spark")
    for i, rows in enumerate(batches):
        with _timestamps(spark, timestamps or "TIMESTAMP_MICROS"):
            b = _batch(spark, tmp_path, f"b{i}", rows, ddl, writer=writer)
        before = spellings.spark
        upsert_into(small, b)
        took_spark = spellings.spark - before
        assert took_spark == (0 if small_regime or not i else 1), i
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
            upsert_into(big, b)
        assert _state(spark, small) == _state(spark, big), i


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_upsert_job_budget(spark, tmp_path, monkeypatch):
    """A small batch Spark wrote upserts with one Spark job, the
    collect: its footers prove the decoded bytes, and a batch that needs
    a cast takes the same spelling. A batch pyarrow wrote, whose
    dictionary-encoded strings carry no size statistics, adds one
    aggregate job that measures them. An in-memory batch (of unknown
    size), a nondeterministic one, one whose repeated 8 KB string keys
    decode past the byte budget, and any batch under
    ``SPARK_GRAFT_SMALL_CORPUS=0`` take the Spark spelling."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    path, spath = str(tmp_path / "state"), str(tmp_path / "string_state")
    upsert_into(path, _batch(spark, tmp_path, "b0", BATCHES[0]))
    sddl, srows = CASES["string_key"]
    upsert_into(spath, _batch(spark, tmp_path, "s0", srows[0], sddl))
    spellings = _Spellings(monkeypatch)
    small = {
        "spark": (path, _batch(spark, tmp_path, "b1", BATCHES[1]), 1),
        "cast": (path, _batch(
            spark, tmp_path, "cast", [(8, 3, 1, 1.0)],
            "k long, ts int, seq long, v double",
        ), 1),
        "pyarrow": (spath, _batch(
            spark, tmp_path, "s1", srows[1], sddl, writer="pyarrow"
        ), 2),
    }
    for name, (state, batch, jobs) in small.items():
        got = _jobs(spark, f"small_{name}", lambda: upsert_into(state, batch))
        assert (got, spellings.spark) == (jobs, 0), name
    refused = {
        "in_memory": FeatureTable(
            spark.createDataFrame(BATCHES[2], DDL), **META
        ),
        "nondeterministic": FeatureTable(
            _batch(spark, tmp_path, "nd", BATCHES[3]).df
            .withColumn("v", F.rand() * 0 + F.col("v")), **META
        ),
    }
    for name, batch in refused.items():
        before = spellings.spark
        upsert_into(path, batch)
        assert spellings.spark == before + 1, name
    # two 8 KB string keys repeated over 16 rows: a tiny dictionary, so
    # the footer proof passes, but the rows decode past the byte budget
    ddl = "k string, ts long, seq long, v double"
    rows = [("x" * 8192 + str(i % 2), i, 1, 1.0) for i in range(16)]
    for writer in ("spark", "pyarrow"):
        wide = str(tmp_path / f"wide_{writer}")
        upsert_into(wide, _batch(spark, tmp_path, f"w0_{writer}", [
            ("", 0, 0, 0.0)
        ], ddl))
        big = _batch(
            spark, tmp_path, f"w1_{writer}", rows, ddl, files=1,
            writer=writer,
        )
        before = spellings.spark
        with monkeypatch.context() as m:
            m.setattr(sizing, "SMALL_INPUT_BYTES", 64 * 1024)
            upsert_into(wide, big)
        assert spellings.spark == before + 1, f"decoded keys, {writer}"
    monkeypatch.setenv("SPARK_GRAFT_SMALL_CORPUS", "0")
    before = spellings.spark
    upsert_into(path, _batch(spark, tmp_path, "b4", BATCHES[4]))
    assert spellings.spark == before + 1, "gate off"
    assert _state(spark, path) == _state_of(
        spark, BATCHES[:5] + [[(8, 3, 1, 1.0)]]
    )


def test_small_upsert_serves_streaming_micro_batches(
    spark, tmp_path, monkeypatch
):
    """``foreach_batch_latest_upsert`` over a file stream hands each
    micro-batch over as an RDD-backed frame whose size the source
    reports: every micro-batch after the first, which writes the base,
    takes the driver-side spelling, and the state is the batches'
    ``latest()``."""
    from ralf_spark.streaming import foreach_batch_latest_upsert

    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    src = tmp_path / "in"
    src.mkdir()
    for i, rows in enumerate(BATCHES[:4]):
        f = src / f"b{i}.parquet"
        pq.write_table(spark.createDataFrame(rows, DDL).toArrow(), str(f))
        os.utime(f, (i, i))  # the stream's file order
    spellings = _Spellings(monkeypatch)
    stream = spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1) \
        .parquet(str(src))
    path = str(tmp_path / "state")
    query = foreach_batch_latest_upsert(stream, path, **META) \
        .option("checkpointLocation", str(tmp_path / "ck")) \
        .trigger(availableNow=True).start()
    query.awaitTermination()
    assert spellings.spark == 0
    assert len([d for d in os.listdir(path) if d.startswith("_batch=")]) == 4
    assert _state(spark, path) == _state_of(spark, BATCHES[:4])


def _state_of(spark, batches):
    rows = [r for b in batches for r in b]
    t = FeatureTable(spark.createDataFrame(rows, DDL), **META)
    return sorted(map(tuple, t.latest().df.collect()), key=repr)


class _Killed(RuntimeError):
    """Stands in for a writer killed before its rename."""


def test_small_upsert_killed_before_rename(spark, tmp_path, monkeypatch):
    """A driver-side append killed before its rename leaves a batch
    directory with no committed file: the state reads as before, the
    replay converges, and the directory counts as one more tag until a
    compaction folds it away."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    path = str(tmp_path / "state")
    for i in range(2):
        upsert_into(path, _batch(spark, tmp_path, f"b{i}", BATCHES[i]))
    before = _state(spark, path)

    def killed(fs, src, dst):
        raise _Killed("killed before the rename")

    b2 = _batch(spark, tmp_path, "b2", BATCHES[2])
    with monkeypatch.context() as m:
        m.setattr(connectors, "_rename", killed)
        with pytest.raises(_Killed):
            upsert_into(path, b2)
    assert _state(spark, path) == before
    tags = sorted(d for d in os.listdir(path) if d.startswith("_batch="))
    empty = [t for t in tags if not any(
        f.endswith(".parquet") and not f.startswith(".")
        for f in os.listdir(os.path.join(path, t))
    )]
    assert len(empty) == 1 and len(tags) == 3, tags
    upsert_into(path, b2)  # the replay
    assert _state(spark, path) == _state_of(spark, BATCHES[:3])
    # the next upsert compacts every tag but the newest, the empty one
    # included: it is folded away like any other
    monkeypatch.setattr(layout, "AUTO_MAINTAIN_BATCHES", 4)
    upsert_into(path, _batch(spark, tmp_path, "b3", BATCHES[3]))
    assert not os.path.exists(os.path.join(path, empty[0]))
    assert _state(spark, path) == _state_of(spark, BATCHES[:4])


def test_small_upsert_keeps_point_index_serving(spark, tmp_path, monkeypatch):
    """After a driver-side append, the re-registered table's first point
    read folds the new file into the index with one Spark job that
    reads only its rows, and warm reads run no job: the appended file is
    plain-encoded, so the index's footer proof admits its strings."""
    from tests.test_upsert_state import _input_records

    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    path = str(tmp_path / "state")
    ddl = DDL + ", kind string"
    upsert_into(path, _batch(spark, tmp_path, "b0", [
        (i, 10, i, float(i), "view") for i in range(50)
    ], ddl))
    store = FeatureStore(spark)
    store.register("state", store.read_parquet(path, **META))
    assert store.point_query("state", 4)[0].v == 4.0  # builds the index
    upsert_into(path, _batch(spark, tmp_path, "b1", [
        (i, 20, 100 + i, -float(i), "click") for i in range(0, 80, 2)
    ] + [(1, 5, 1, 99.0, "view")], ddl))
    store.register("state", store.read_parquet(path, **META))
    sc = spark.sparkContext
    sc.setJobGroup("small_fold", "first point read after an append")
    try:
        [row] = store.point_query("state", 4)
    finally:
        sc.setJobGroup(None, None)
    assert _input_records(spark, "small_fold") == (1, 41)
    assert row.v == -4.0
    sc.setJobGroup("small_warm", "warm point reads")
    try:
        got = [store.point_query("state", k) for k in (1, 5, 60, 200)]
    finally:
        sc.setJobGroup(None, None)
    assert _input_records(spark, "small_warm") == (0, 0)
    assert [r[0].v if r else None for r in got] == [1.0, 5.0, -60.0, None]
