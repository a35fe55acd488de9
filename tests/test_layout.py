"""Storage-layout operators: partitioned writes, clustering, compaction.

The clustering test verifies the actual parquet footer min/max stats —
the thing readers use for file/row-group skipping — via pyarrow, not
just Spark-side behavior."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ralf_spark.layout import (
    cluster_by_range,
    compact,
    file_stats,
    write_partitioned,
)
from ralf_spark.sources.fixtures import load_fixture

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return load_fixture(spark, "events", SF_DIR).df


def _data_files(path: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "__" not in os.path.basename(f)
    ]


def test_write_partitioned_layout_and_file_cap(spark, events, tmp_path):
    out = str(tmp_path / "by_type")
    write_partitioned(
        events, out, ["event_type"], files_per_partition=3,
        split_on="user_id", order_within=["ts"],
    )
    dirs = sorted(
        d for d in os.listdir(out) if d.startswith("event_type=")
    )
    assert len(dirs) == 5 and dirs[0] == "event_type=click"
    for d in dirs:
        n = len(_data_files(os.path.join(out, d)))
        assert 1 <= n <= 3, (d, n)
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # partition pruning: a filtered scan only lists the matching dir
    pruned = back.where(F.col("event_type") == "click")
    files = {
        r["f"]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert all("event_type=click" in f for f in files)


def test_write_partitioned_deterministic(spark, events, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_partitioned(
        events, a, ["event_type"], files_per_partition=2, split_on="user_id"
    )
    write_partitioned(
        events.repartition(13), b, ["event_type"],
        files_per_partition=2, split_on="user_id",
    )
    # same rows land in the same splitter bucket regardless of input
    # partitioning → per-file row multisets match
    rows_a = sorted(s.rows for s in file_stats(spark, a))
    rows_b = sorted(s.rows for s in file_stats(spark, b))
    assert rows_a == rows_b


def test_cluster_by_range_disjoint_minmax(spark, events, tmp_path):
    out = str(tmp_path / "clustered")
    cluster_by_range(events, ["user_id"], num_files=8, path=out)
    ranges = []
    for f in _data_files(out):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo = min(
            md.row_group(g).column(idx["user_id"]).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(idx["user_id"]).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 8
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert lo_next > hi_prev  # disjoint → point lookups skip 7/8 files


def test_compact_reduces_files_preserves_rows(spark, events, tmp_path):
    out = str(tmp_path / "fragmented")
    events.repartition(32).write.parquet(out)
    assert len(_data_files(out)) == 32
    n = events.count()
    new_files = compact(spark, out, target_file_bytes=10 * 1024 * 1024)
    assert new_files < 32
    assert len(_data_files(out)) == new_files
    assert spark.read.parquet(out).count() == n


def test_compact_publish_failure_keeps_every_row(
    spark, events, tmp_path, monkeypatch
):
    """``compact`` publishes through the staged rename: when the rename
    onto the table fails, it raises, and the next read still returns
    every original row (rolled forward from the complete staging copy)
    instead of a deleted table."""
    from ralf_spark import connectors

    out = str(tmp_path / "fragmented")
    events.repartition(8).write.parquet(out)
    want = sorted(map(tuple, spark.read.parquet(out).collect()))
    real = connectors._rename

    def fail_publish(fs, src, dst):
        if src.toString().endswith(connectors.STAGING_SUFFIX):
            raise IOError("injected: publish rename failed")
        real(fs, src, dst)

    monkeypatch.setattr(connectors, "_rename", fail_publish)
    with pytest.raises(IOError, match="injected"):
        compact(spark, out, target_file_bytes=10 * 1024 * 1024)
    monkeypatch.setattr(connectors, "_rename", real)
    back = connectors._try_read_parquet(spark, out)
    assert back is not None
    assert sorted(map(tuple, back.collect())) == want


def test_dynamic_overwrite_spelled_once():
    """The dynamic partition overwrite is written once per module:
    ``layout.write_batch`` for every ``_batch`` store and log, and the
    bucketed fold sink's first write in ``streaming/sinks.py``."""
    import ralf_spark.layout as layout_mod
    import ralf_spark.streaming.sinks as sinks_mod

    for mod in (layout_mod, sinks_mod):
        with open(mod.__file__) as f:
            assert f.read().count("partitionOverwriteMode") == 1, mod.__name__


def test_file_stats(spark, events, tmp_path):
    out = str(tmp_path / "stats")
    events.repartition(4).write.parquet(out)
    stats = file_stats(spark, out)
    assert len(stats) == 4
    assert sum(s.rows for s in stats) == events.count()
    assert all(s.bytes > 0 for s in stats)


def test_cluster_by_zorder_prunes_both_dims(spark, tmp_path):
    """Z-order (r7): on a uniform 64x64 grid written as 16 z-clustered
    files, each file's footer min/max must cover a small sub-range of
    BOTH columns (a Morton block), where range-clustering on (a, b)
    leaves column b spanning ~its full domain in every file — the
    multi-column file-skipping property the operator exists for."""
    from ralf_spark.layout import cluster_by_range, cluster_by_zorder

    rows = [(i % 64, i // 64, float(i)) for i in range(4096)]
    df = spark.createDataFrame(rows, "a long, b long, v double")

    def spans(path, col):
        out = []
        for f in _data_files(path):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            lo = min(md.row_group(g).column(idx[col]).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx[col]).statistics.max
                     for g in range(md.num_row_groups))
            out.append((hi - lo) / 63.0)
        return out

    zpath = str(tmp_path / "z")
    cluster_by_zorder(df, ["a", "b"], num_files=16, path=zpath)
    rpath = str(tmp_path / "r")
    cluster_by_range(df, ["a", "b"], num_files=16, path=rpath)

    za, zb = spans(zpath, "a"), spans(zpath, "b")
    rb = spans(rpath, "b")
    assert len(za) == 16
    # z-order: every file covers a fraction of BOTH dims
    assert sum(za) / len(za) < 0.5, za
    assert sum(zb) / len(zb) < 0.5, zb
    # range clustering's trailing column spans ~everything per file
    assert sum(rb) / len(rb) > 0.9, rb
    # lossless + deterministic re-run
    back = spark.read.parquet(zpath)
    assert back.count() == 4096
    assert back.agg({"v": "sum"}).first()[0] == sum(float(i) for i in range(4096))
    cluster_by_zorder(df, ["a", "b"], num_files=16, path=str(tmp_path / "z2"))
    s1 = [(s.rows, s.bytes) for s in
          __import__("ralf_spark.layout", fromlist=["file_stats"])
          .file_stats(spark, zpath)]
    s2 = [(s.rows, s.bytes) for s in
          __import__("ralf_spark.layout", fromlist=["file_stats"])
          .file_stats(spark, str(tmp_path / "z2"))]
    assert s1 == s2

    with pytest.raises(ValueError):
        cluster_by_zorder(df, ["a"], num_files=4, path=str(tmp_path / "x"))


def test_batch_dirs_globs_once_on_a_flat_store(spark, tmp_path, monkeypatch):
    """A flat ``_batch=`` store is listed with one ``globStatus``; a
    cell tree, which the flat glob misses, is found by the nested glob
    and still counts and compacts its tags."""
    from ralf_spark import layout

    globs = []
    real = layout._hadoop_fs

    class Counting:
        def __init__(self, fs):
            self.fs = fs

        def globStatus(self, pattern):
            globs.append(pattern.toString())
            return self.fs.globStatus(pattern)

        def __getattr__(self, name):
            return getattr(self.fs, name)

    def hadoop_fs(spark_, path):
        fs, jpath = real(spark_, path)
        return Counting(fs), jpath

    monkeypatch.setattr(layout, "_hadoop_fs", hadoop_fs)
    df = spark.createDataFrame([(i, i % 2) for i in range(6)], "v long, cell int")
    flat, tree = str(tmp_path / "flat"), str(tmp_path / "tree")
    for tag in ("a", "b", "c"):
        layout.write_batch(df.drop("cell"), flat, tag)
        layout.write_batch(df, tree, tag, ("cell", "_batch"))
    assert layout.batch_tag_count(spark, flat) == 3
    assert len(globs) == 1
    globs.clear()
    assert layout.batch_tag_count(spark, tree) == 3
    assert len(globs) == 2
    out = layout.compact_batch_partitions(spark, tree, keep_last=1)
    assert out is not None and sorted(out["sources"]) == ["a", "b"]
    assert layout.batch_tag_count(spark, tree) == 2
    assert sorted(glob.glob(f"{tree}/cell=*/_batch=c")) == [
        f"{tree}/cell=0/_batch=c", f"{tree}/cell=1/_batch=c"
    ]
    rows = spark.read.parquet(tree).groupBy("cell").count().collect()
    assert sorted(map(tuple, rows)) == [(0, 9), (1, 9)]
