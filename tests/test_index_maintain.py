"""Index maintenance cadence (r10, VERDICT r9 #4): maintain() compacts
per-batch partition accretion in MinHashIndex and IvfIndex without
changing a single stored row, and the manifest transaction makes an
interrupted compaction heal instead of duplicating rows.
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from ralf_spark.operators.dedup import MinHashIndex
from ralf_spark.operators.similarity import IvfIndex
from ralf_spark.table import FeatureTable


def _docs(spark, ids, text="the quick brown fox jumps over the lazy dog"):
    return FeatureTable(
        spark.createDataFrame(
            [(i, f"{text} {i % 3}") for i in ids], "doc_id long, text string"
        ),
        key="doc_id",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
def test_minhash_index_maintain_preserves_rows_and_pairs(spark, tmp_path):
    path = str(tmp_path / "idx")
    twin = str(tmp_path / "twin")
    idx = MinHashIndex(path, num_perm=16, bands=8, hash_fn="xxhash64")
    ref = MinHashIndex(twin, num_perm=16, bands=8, hash_fn="xxhash64")
    idx.build(_docs(spark, range(0, 6)))
    ref.build(_docs(spark, range(0, 6)))
    for b in range(4):
        ids = range(6 + b * 4, 10 + b * 4)
        idx.add(_docs(spark, ids), threshold=0.3, batch_tag=f"b{b}")
        ref.add(_docs(spark, ids), threshold=0.3, batch_tag=f"b{b}")
    before_sigs = _rows(idx._store.snapshot(spark, "sigs"))
    dirs_before = len(glob.glob(f"{path}/sigs/_batch=*"))
    assert dirs_before == 5  # build + 4 adds
    out = idx.maintain(spark)
    assert out["sigs"]["compacted_tags"] == 4  # keep_last=1 spares b3
    assert len(glob.glob(f"{path}/sigs/_batch=*")) == 2
    assert len(glob.glob(f"{path}/buckets/_batch=*")) == 2
    # stored rows identical, fresh handle
    idx2 = MinHashIndex(path, num_perm=16, bands=8, hash_fn="xxhash64")
    assert _rows(idx2._store.snapshot(spark, "sigs")) == before_sigs
    # a post-maintenance add returns the same pairs as the uncompacted twin
    batch = _docs(spark, range(100, 104))
    got = _rows(idx2.add(batch, threshold=0.3, batch_tag="post"))
    want = _rows(ref.add(batch, threshold=0.3, batch_tag="post"))
    assert got == want and len(got) > 0
    # idempotent: nothing left to compact beyond keep_last
    again = idx2.maintain(spark)
    assert again["sigs"] is None or again["sigs"]["compacted_tags"] >= 2


@pytest.mark.slow
def test_ivf_index_maintain_preserves_query_results(spark, tmp_path):
    import numpy as np

    rng = np.random.RandomState(5)
    cen = [(c, [float(x) for x in rng.randn(4) * 3]) for c in range(8)]

    def vecs(ids):
        return FeatureTable(
            spark.createDataFrame(
                [(i, [float(x) for x in cen[i % 8][1] + 0.1 * rng.randn(4)])
                 for i in ids],
                "vec_id long, embedding array<double>",
            ),
            key="vec_id",
        )

    path = str(tmp_path / "ivf")
    idx = IvfIndex(path)
    idx.build(
        vecs(range(0, 40)),
        spark.createDataFrame(
            cen, "centroid_id long, centroid_vec array<double>"
        ),
    )
    for b in range(4):
        idx.add(vecs(range(40 + b * 10, 50 + b * 10)), batch_tag=f"b{b}")
    q = spark.createDataFrame(
        [(i, [float(x) for x in cen[i % 8][1]]) for i in range(5)],
        "query_id long, query_vec array<double>",
    )
    before = _rows(idx.query(q, k=5, nprobe=2))
    n_dirs = len(glob.glob(f"{path}/cells/cell=*/_batch=*"))
    out = idx.maintain(spark)
    assert out is not None and out["compacted_tags"] == 4
    assert len(glob.glob(f"{path}/cells/cell=*/_batch=*")) < n_dirs
    # every per-cell dir set is now {compacted, b3}
    tags = {
        os.path.basename(p).split("=", 1)[1]
        for p in glob.glob(f"{path}/cells/cell=*/_batch=*")
    }
    assert len(tags) == 2 and "b3" in tags
    idx2 = IvfIndex(path)
    assert _rows(idx2.query(q, k=5, nprobe=2)) == before
    # the sidecars survived
    assert os.path.exists(f"{path}/centroids")
    # and a post-maintenance add + query still accumulates
    idx2.add(vecs(range(200, 210)), batch_tag="post")
    after_add = idx2.query(q, k=5, nprobe=2)
    assert after_add.count() == 25


def test_compaction_manifest_recovery(spark, tmp_path):
    """Interrupted compactions heal: a not-done manifest rolls back the
    partial compacted partition; a done manifest finishes the source
    deletes. Row sets are exact either way."""
    import shutil

    from ralf_spark.connectors import write_json_sidecar
    from ralf_spark.layout import recover_compaction

    path = str(tmp_path / "idx")
    idx = MinHashIndex(path, num_perm=16, bands=8, hash_fn="xxhash64")
    idx.build(_docs(spark, range(0, 4)))
    idx.add(_docs(spark, range(4, 8)), batch_tag="b0")
    idx.add(_docs(spark, range(8, 12)), batch_tag="b1")
    root = f"{path}/sigs"
    want = _rows(idx._store.snapshot(spark, "sigs"))

    # crash BEFORE done: partial compacted dir exists, sources intact
    shutil.copytree(f"{root}/_batch=b0", f"{root}/_batch=ctag1")
    write_json_sidecar(
        spark, f"{root}/.compact_manifest.json",
        {"ctag": "ctag1", "sources": ["__base__", "b0"], "done": False},
    )
    recover_compaction(spark, root)
    assert not os.path.exists(f"{root}/_batch=ctag1")
    assert os.path.exists(f"{root}/_batch=b0")
    assert not os.path.exists(f"{root}/.compact_manifest.json")
    assert _rows(idx._store.snapshot(spark, "sigs")) == want

    # crash AFTER done: compacted dir holds the rows, a source remains
    shutil.copytree(f"{root}/_batch=b0", f"{root}/_batch=ctag2")
    write_json_sidecar(
        spark, f"{root}/.compact_manifest.json",
        {"ctag": "ctag2", "sources": ["b0"], "done": True},
    )
    recover_compaction(spark, root)
    assert os.path.exists(f"{root}/_batch=ctag2")
    assert not os.path.exists(f"{root}/_batch=b0")
    # ctag2 replaced b0
    assert _rows(idx._store.snapshot(spark, "sigs")) == want


@pytest.mark.slow
def test_minhash_auto_maintain_cadence(spark, tmp_path):
    """r11 (VERDICT r10 #1): with auto_maintain=N, a feed loop with ZERO
    manual maintain() calls keeps the batch-partition count bounded at
    ~N, and every add's pairs equal the never-compacted twin's."""
    path = str(tmp_path / "idx")
    twin = str(tmp_path / "twin")
    idx = MinHashIndex(
        path, num_perm=16, bands=8, hash_fn="xxhash64", auto_maintain=3
    )
    ref = MinHashIndex(
        twin, num_perm=16, bands=8, hash_fn="xxhash64", auto_maintain=0
    )
    idx.build(_docs(spark, range(0, 4)))
    ref.build(_docs(spark, range(0, 4)))
    max_dirs = 0
    for b in range(8):
        ids = range(10 + b * 4, 14 + b * 4)
        got = _rows(idx.add(_docs(spark, ids), threshold=0.3,
                            batch_tag=f"b{b}"))
        want = _rows(ref.add(_docs(spark, ids), threshold=0.3,
                             batch_tag=f"b{b}"))
        assert got == want, b
        max_dirs = max(max_dirs, len(glob.glob(f"{path}/sigs/_batch=*")))
    # bounded by the cadence: raw tags never exceed the threshold + the
    # in-flight one; compacted partitions accumulate only up to the
    # tier-2 limit (r11 tiered compaction)
    from ralf_spark.layout import COMPACTED_TIER_LIMIT

    raw = [
        p for p in glob.glob(f"{path}/sigs/_batch=*")
        if "compacted-" not in os.path.basename(p)
    ]
    assert len(raw) <= 4
    assert max_dirs <= 4 + COMPACTED_TIER_LIMIT
    assert len(glob.glob(f"{twin}/sigs/_batch=*")) == 9  # never compacted
    # stored rows identical across the two lifecycles
    assert _rows(idx._store.snapshot(spark, "sigs")) == _rows(
        ref._store.snapshot(spark, "sigs")
    )


@pytest.mark.slow
def test_ivf_auto_maintain_cadence(spark, tmp_path):
    import numpy as np

    rng = np.random.RandomState(6)
    cen = [(c, [float(x) for x in rng.randn(4) * 3]) for c in range(4)]

    def vec_rows(ids):  # ONE rng draw per id, shared by both indexes
        return [
            (i, [float(x) for x in cen[i % 4][1] + 0.1 * rng.randn(4)])
            for i in ids
        ]

    base = vec_rows(range(0, 20))
    feeds = [vec_rows(range(20 + b * 8, 28 + b * 8)) for b in range(7)]

    def ft(rows):
        return FeatureTable(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ),
            key="vec_id",
        )

    path = str(tmp_path / "ivf")
    idx = IvfIndex(path, auto_maintain=3)
    idx.build(
        ft(base),
        spark.createDataFrame(
            cen, "centroid_id long, centroid_vec array<double>"
        ),
    )
    for b, rows in enumerate(feeds):
        idx.add(ft(rows), batch_tag=f"b{b}")
    from ralf_spark.layout import COMPACTED_TIER_LIMIT

    tags = {
        os.path.basename(p).split("=", 1)[1]
        for p in glob.glob(f"{path}/cells/cell=*/_batch=*")
    }
    # bounded by the cadence + the compacted tier, not the feed length
    assert len([t for t in tags if not t.startswith("compacted-")]) <= 4
    assert len(tags) <= 4 + COMPACTED_TIER_LIMIT
    # result equality vs a never-compacted twin over the same feed
    ref = IvfIndex(str(tmp_path / "ivf_ref"), auto_maintain=0)
    ref.build(
        ft(base),
        spark.createDataFrame(
            cen, "centroid_id long, centroid_vec array<double>"
        ),
    )
    for b, rows in enumerate(feeds):
        ref.add(ft(rows), batch_tag=f"b{b}")
    q = spark.createDataFrame(
        [(i, [float(x) for x in cen[i % 4][1]]) for i in range(4)],
        "query_id long, query_vec array<double>",
    )
    assert _rows(idx.query(q, k=5, nprobe=2)) == _rows(
        ref.query(q, k=5, nprobe=2)
    )


@pytest.mark.slow
def test_append_log_auto_maintain_cadence(spark, tmp_path):
    """The sketch append log self-compacts past the threshold; estimates
    stay exact and the dir count stays bounded with zero manual calls."""
    from ralf_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_register_update,
    )
    from ralf_spark.streaming.sinks import (
        _append_log_batch,
        hll_log_merge,
        hll_log_state,
    )

    d = str(tmp_path)
    ev = spark.range(0, 8000).select(
        (F.col("id") % 50).alias("k"), (F.col("id") * 31 % 811).alias("v"),
        F.col("id").alias("seq"),
    )
    batches = [ev.where((F.col("seq") >= i * 1000) & (F.col("seq") < (i + 1) * 1000))
               for i in range(8)]
    cb = _append_log_batch(
        f"{d}/log", lambda b: hll_register_update(b, ["k"], "v"),
        merge=hll_log_merge(["k"]), auto_maintain=3,
    )
    for i, b in enumerate(batches):
        cb(b, i)
    assert len(glob.glob(f"{d}/log/_batch=*")) <= 4  # bounded
    got = hll_estimate(hll_log_state(spark, f"{d}/log", ["k"]), ["k"])
    want = hll_distinct(ev, ["k"], "v")  # one-shot over every batch
    assert _rows(got.select("k", "est_distinct")) == _rows(
        want.select("k", "est_distinct")
    )


@pytest.mark.slow
def test_pairs_log_auto_maintain_and_replay_guard(spark, tmp_path):
    """r11: the streaming dedup sink's pairs log self-compacts past the
    threshold (plain concatenation — pair rows need no merge), folded
    tags are replay-guarded via the compacted-tags sidecar, and the
    total pair set equals the never-compacted twin's."""
    from ralf_spark.layout import batch_tag_count, folded_tags
    from ralf_spark.streaming.sinks import foreach_batch_index_add

    def batches(n_per=5):
        return [
            _docs(spark, range(b * n_per, (b + 1) * n_per))
            for b in range(6)
        ]

    # capture the foreachBatch callback through a writer shim so the
    # test drives the EXACT code path the streaming sink installs
    class _FakeWS:
        def __init__(self):
            self.fn = None

        def foreachBatch(self, fn):
            self.fn = fn
            return self

    class _FakeDF:
        def __init__(self):
            self.writeStream = _FakeWS()

    def run(base, auto):
        idx = MinHashIndex(
            f"{base}/idx", num_perm=16, bands=8, hash_fn="xxhash64",
            auto_maintain=0,
        )
        pairs_path = f"{base}/pairs"
        w = foreach_batch_index_add(
            _FakeDF(), idx, pairs_path, key="doc_id", threshold=0.3,
            auto_maintain=auto,
        )
        cb = w.fn
        for b, docs in enumerate(batches()):
            cb(docs.df, b)
        return idx, pairs_path, cb

    idx_a, pairs_a, cb_a = run(str(tmp_path / "auto"), 2)
    idx_b, pairs_b, _ = run(str(tmp_path / "plain"), 0)
    got = _rows(spark.read.parquet(pairs_a).select("id1", "id2"))
    want = _rows(spark.read.parquet(pairs_b).select("id1", "id2"))
    assert got == want and len(got) > 0
    from ralf_spark.layout import COMPACTED_TIER_LIMIT

    assert batch_tag_count(spark, pairs_a) <= 3 + COMPACTED_TIER_LIMIT
    assert batch_tag_count(spark, pairs_b) == 6  # never compacted
    folded = folded_tags(spark, pairs_a)
    assert folded  # sidecar recorded the folded tags
    # replay of a FOLDED tag: no-op (no partition recreated, pairs equal)
    tag = sorted(folded)[0]
    b_id = int(tag[1:])
    cb_a(batches()[b_id].df, b_id)
    import glob as _g

    assert not _g.glob(f"{pairs_a}/_batch={tag}")
    assert _rows(
        spark.read.parquet(pairs_a).select("id1", "id2")
    ) == want


def test_tiered_compaction_sources_selection(spark, tmp_path):
    """r11 tiered compaction: tier 1 folds only raw batch tags (prior
    compacted partitions are never rewritten), tier 2 folds everything
    once COMPACTED_TIER_LIMIT compacted partitions exist; the newest
    keep_last tag is always spared."""
    import time as _t

    from ralf_spark.layout import (
        COMPACTED_TIER_LIMIT,
        tiered_compaction_sources,
    )

    root = str(tmp_path / "store")

    def mkdirs(tags):
        for i, t in enumerate(tags):
            p = f"{root}/_batch={t}"
            os.makedirs(p, exist_ok=True)
            ts = _t.time() - (len(tags) - i) * 10  # older first
            os.utime(p, (ts, ts))

    # tier 1: two compacted + raw tags; newest (b3) spared, compacted kept
    mkdirs(["compacted-aa", "compacted-bb", "b1", "b2", "b3"])
    assert tiered_compaction_sources(spark, root) == ["b1", "b2"]
    # below two raw candidates: nothing useful to fold
    import shutil

    shutil.rmtree(f"{root}/_batch=b1")
    assert tiered_compaction_sources(spark, root) is None
    # tier 2: the compacted tier is full -> full fold (all but newest)
    shutil.rmtree(root)
    comp = [f"compacted-{i:02d}" for i in range(COMPACTED_TIER_LIMIT)]
    mkdirs(comp + ["b1", "b2"])
    assert tiered_compaction_sources(spark, root) == comp + ["b1"]


@pytest.mark.slow
def test_minhash_tier2_full_fold(spark, tmp_path):
    """Driving maintain(tiered=True) repeatedly collapses to ONE
    compacted partition once the tier fills — the full fold really
    fires and rows survive it exactly."""
    from ralf_spark.layout import COMPACTED_TIER_LIMIT

    path = str(tmp_path / "idx")
    idx = MinHashIndex(
        path, num_perm=16, bands=8, hash_fn="xxhash64", auto_maintain=0
    )
    idx.build(_docs(spark, range(0, 4)))
    want_rows = None
    b = 0
    # alternate add-add-maintain so each maintain folds 2 raw tags into
    # one compacted partition, filling the tier
    for _ in range(COMPACTED_TIER_LIMIT + 1):
        for _ in range(2):
            idx.add(_docs(spark, range(10 + b * 4, 14 + b * 4)),
                    threshold=0.3, batch_tag=f"b{b}")
            b += 1
        idx.maintain(spark)
    want_rows = _rows(idx._store.snapshot(spark, "sigs"))
    tags = {
        os.path.basename(p).split("=", 1)[1]
        for p in glob.glob(f"{path}/sigs/_batch=*")
    }
    comp = [t for t in tags if t.startswith("compacted-")]
    # the tier filled and a full fold collapsed it back to one
    assert len(comp) <= COMPACTED_TIER_LIMIT
    idx2 = MinHashIndex(path, num_perm=16, bands=8, hash_fn="xxhash64")
    assert _rows(idx2._store.snapshot(spark, "sigs")) == want_rows


def test_minhash_add_and_check_list_sigs_once(spark, tmp_path, monkeypatch):
    """``MinHashIndex.add`` and ``check`` of a parquet batch, whose gate
    sizes the stored signatures too, take that size from the snapshot's
    own listing: ``sigs/`` is listed once per call."""
    from ralf_spark import connectors

    listed = []
    real = connectors._list_parquet_files_sized

    def listing(spark_, path):
        listed.append(path.rstrip("/").rsplit("/", 1)[-1])
        return real(spark_, path)

    def docs(ids):
        p = str(tmp_path / f"docs{ids[0]}")
        _docs(spark, ids).df.write.parquet(p)
        return FeatureTable(spark.read.parquet(p), key="doc_id")

    idx = MinHashIndex(
        str(tmp_path / "idx"), num_perm=16, bands=8, hash_fn="xxhash64"
    )
    idx.build(docs(range(0, 4)))
    batches = docs(range(4, 8)), docs(range(8, 10))
    monkeypatch.setattr(connectors, "_list_parquet_files_sized", listing)
    idx.add(batches[0]).collect()
    assert listed.count("sigs") == 1
    listed.clear()
    idx.check(batches[1]).collect()
    assert listed.count("sigs") == 1
