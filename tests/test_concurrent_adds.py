"""r14 (VERDICT r13 #1): concurrent multi-writer ingest into the
persistent index family. ``concurrent_adds=True`` puts ``add()`` under a
TAG-scoped lease (``<store>/_addleases/<tag>``) instead of the store
root, so N crawl workers fold disjoint batches in parallel; exclusive
operations (build/maintain/retro cadence) take the root lease, refuse
while foreign adds are in flight, and release the root on completion.
The fold is serialization-independent by algebra (digest/bucket/cell
unions commute), pinned here against serial ingest."""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
import pytest

from ralf_spark.connectors import (
    ConcurrentWriterError,
    acquire_add_lease,
    acquire_writer_lease,
    release_add_lease,
    release_writer_lease,
)
from ralf_spark.table import FeatureTable


def _docs(spark, rows):
    return FeatureTable(
        spark.createDataFrame(rows, "doc_id long, text string"),
        key="doc_id",
    )


def _batches():
    base = [(i, f"base b{i} " + " ".join(f"w{j}" for j in range(10)))
            for i in range(6)]
    # batch A shares a run with base doc 0; batch B shares one with doc 1
    a = [(10 + i, " ".join(f"w{j}" for j in range(10)) + f" ax{i}")
         for i in range(4)]
    b = [(20 + i, " ".join(f"w{j}" for j in range(10)) + f" bx{i}")
         for i in range(4)]
    return base, a, b


def _run_concurrently(*fns):
    """Run callables in threads; re-raise the first exception."""
    errors: list[BaseException] = []

    def wrap(fn):
        def run():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors.append(e)

        return run

    threads = [threading.Thread(target=wrap(fn)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    if errors:
        raise errors[0]


@pytest.mark.slow
def test_gram_concurrent_adds_fold_equals_serial(spark, tmp_path):
    """Two workers add disjoint batches to one GramIndex concurrently:
    both land (no ConcurrentWriterError), and the folded store — and a
    read-only check() served from it — equals serial ingest."""
    from ralf_spark.operators.dedup import GramIndex

    base, a, b = _batches()
    conc = GramIndex(
        str(tmp_path / "conc"), min_tokens=8, auto_maintain=0,
        concurrent_adds=True,
    )
    conc.build(_docs(spark, base))
    ta = _docs(spark, a)
    tb = _docs(spark, b)
    _run_concurrently(
        lambda: conc.add(ta, batch_tag="tA", writer_id="worker-a")
        .collect(),
        lambda: conc.add(tb, batch_tag="tB", writer_id="worker-b")
        .collect(),
    )
    serial = GramIndex(
        str(tmp_path / "serial"), min_tokens=8, auto_maintain=0,
    )
    serial.build(_docs(spark, base))
    serial.add(ta).collect()
    serial.add(tb).collect()
    got = sorted(
        r["_dg"]
        for r in conc._store.snapshot(spark, "grams")
        .select("_dg").distinct().collect()
    )
    want = sorted(
        r["_dg"]
        for r in serial._store.snapshot(spark, "grams")
        .select("_dg").distinct().collect()
    )
    assert got == want and got
    probe = _docs(spark, base + a + b)
    got_spans = sorted(tuple(r) for r in conc.check(probe).collect())
    want_spans = sorted(tuple(r) for r in serial.check(probe).collect())
    assert got_spans == want_spans and got_spans
    # the coordinator's maintain() runs cleanly after the adds settle
    # (their tag leases were released on completion)
    conc.maintain(spark, keep_last=0, tiered=False)
    after = sorted(
        r["_dg"]
        for r in conc._store.snapshot(spark, "grams")
        .select("_dg").distinct().collect()
    )
    assert after == want


def test_gram_concurrent_add_refused_during_exclusive_op(spark, tmp_path):
    """An add must not start while a foreign exclusive operation holds
    the store root; a clean handoff (root release) unblocks it."""
    from ralf_spark.operators.dedup import GramIndex

    base, a, _ = _batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, auto_maintain=0,
        concurrent_adds=True,
    )
    idx.build(_docs(spark, base))  # releases the root on completion
    acquire_writer_lease(spark, idx.path, writer_id="coordinator")
    with pytest.raises(ConcurrentWriterError, match="exclusive"):
        idx.add(_docs(spark, a), batch_tag="tA", writer_id="worker-a")
    # the refused add left no stale tag lease behind
    from ralf_spark.connectors import live_foreign_add_leases

    assert live_foreign_add_leases(spark, idx.path, writer_id="x") == []
    release_writer_lease(spark, idx.path, writer_id="coordinator")
    idx.add(
        _docs(spark, a), batch_tag="tA", writer_id="worker-a"
    ).collect()


def test_gram_exclusive_ops_refused_during_inflight_add(spark, tmp_path):
    """maintain()/build() must refuse while a foreign add is in flight
    (folding partitions under a frozen snapshot breaks the adder)."""
    from ralf_spark.operators.dedup import GramIndex

    base, a, _ = _batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, auto_maintain=0,
        concurrent_adds=True,
    )
    idx.build(_docs(spark, base))
    acquire_add_lease(spark, idx.path, "tX", writer_id="worker-a")
    with pytest.raises(ConcurrentWriterError, match="in-flight"):
        idx.maintain(spark, keep_last=0, tiered=False)
    with pytest.raises(ConcurrentWriterError, match="in-flight"):
        idx.build(_docs(spark, base))
    release_add_lease(spark, idx.path, "tX", writer_id="worker-a")
    idx.maintain(spark, keep_last=0, tiered=False)


def test_gram_same_tag_concurrent_writers_conflict(spark, tmp_path):
    """Two workers racing the SAME batch tag: the tag lease makes the
    second fail loudly instead of interleaving one partition write."""
    from ralf_spark.operators.dedup import GramIndex

    base, a, _ = _batches()
    idx = GramIndex(
        str(tmp_path / "gi"), min_tokens=8, auto_maintain=0,
        concurrent_adds=True,
    )
    idx.build(_docs(spark, base))
    acquire_add_lease(spark, idx.path, "tA", writer_id="worker-a")
    with pytest.raises(ConcurrentWriterError):
        idx.add(_docs(spark, a), batch_tag="tA", writer_id="worker-b")
    release_add_lease(spark, idx.path, "tA", writer_id="worker-a")


@pytest.mark.slow
def test_minhash_concurrent_adds_fold_equals_serial(spark, tmp_path):
    """Two workers add disjoint batches to one MinHashIndex: the folded
    store serves the same read-only check() as serial ingest."""
    from ralf_spark.operators.dedup import MinHashIndex

    base, a, b = _batches()
    kw = dict(num_perm=16, bands=8, shingle_n=3, auto_maintain=0)
    conc = MinHashIndex(
        str(tmp_path / "conc"), concurrent_adds=True, **kw
    )
    conc.build(_docs(spark, base))
    ta, tb = _docs(spark, a), _docs(spark, b)
    _run_concurrently(
        lambda: conc.add(ta, batch_tag="tA", writer_id="worker-a")
        .collect(),
        lambda: conc.add(tb, batch_tag="tB", writer_id="worker-b")
        .collect(),
    )
    serial = MinHashIndex(str(tmp_path / "serial"), **kw)
    serial.build(_docs(spark, base))
    serial.add(ta).collect()
    serial.add(tb).collect()
    probe = _docs(spark, base + a + b)
    got = sorted(
        (r.id1, r.id2, r.est_jaccard)
        for r in conc.check(probe, threshold=0.3).collect()
    )
    want = sorted(
        (r.id1, r.id2, r.est_jaccard)
        for r in serial.check(probe, threshold=0.3).collect()
    )
    assert got == want and got
    conc.maintain(spark, keep_last=0, tiered=False)
    after = sorted(
        (r.id1, r.id2, r.est_jaccard)
        for r in conc.check(probe, threshold=0.3).collect()
    )
    assert after == want


@pytest.mark.slow
def test_ivf_concurrent_adds_fold_equals_serial(spark, tmp_path):
    """Two workers fold vector batches into one IvfIndex: assignment
    under the frozen quantizer is deterministic and each batch owns its
    (cell, _batch) directories, so query() equals serial ingest."""
    from ralf_spark.operators.similarity import IvfIndex

    def vecs(lo, n):
        return FeatureTable(
            spark.createDataFrame(
                [
                    (lo + i, [float((lo + i) % 7), float((lo + i) % 5), 1.0])
                    for i in range(n)
                ],
                "id long, embedding array<double>",
            ),
            key="id",
        )

    cents = None

    def build(idx):
        c = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0]), (1, [3.0, 2.0, 1.0]), (2, [6.0, 4.0, 1.0])],
            "centroid_id long, centroid_vec array<double>",
        )
        idx.build(vecs(0, 12), c)

    conc = IvfIndex(
        str(tmp_path / "conc"), vec_col="embedding", auto_maintain=0,
        concurrent_adds=True,
    )
    build(conc)
    _run_concurrently(
        lambda: conc.add(vecs(100, 8), batch_tag="tA", writer_id="worker-a"),
        lambda: conc.add(vecs(200, 8), batch_tag="tB", writer_id="worker-b"),
    )
    serial = IvfIndex(
        str(tmp_path / "serial"), vec_col="embedding", auto_maintain=0,
    )
    build(serial)
    serial.add(vecs(100, 8), batch_tag="tA")
    serial.add(vecs(200, 8), batch_tag="tB")
    q = spark.createDataFrame(
        [(1, [2.9, 2.1, 1.0]), (2, [0.1, 0.2, 1.0])],
        "query_id long, query_vec array<double>",
    )
    got = sorted(
        tuple(r) for r in conc.query(q, k=4, nprobe=3).collect()
    )
    want = sorted(
        tuple(r) for r in serial.query(q, k=4, nprobe=3).collect()
    )
    assert got == want and got


@pytest.mark.slow
def test_multi_stream_index_ingest_needs_unique_tag_prefixes(
    spark, tmp_path
):
    """r14: N crawl workers each run their own stream into ONE shared
    MinHashIndex. Every stream's checkpoint counts batch ids from 0, so
    per-stream ``tag_prefix``es keep the tags writer-unique — without
    them the second stream's b0 would dynamically overwrite the
    first's partition. Two bounded streams with distinct prefixes +
    writer ids must fold to the same store as one-shot ingest."""
    from ralf_spark.operators.dedup import MinHashIndex
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_index_add,
        run_bounded,
    )

    base, a, b = _batches()
    kw = dict(num_perm=16, bands=8, shingle_n=3, auto_maintain=0)
    idx = MinHashIndex(
        str(tmp_path / "shared"), concurrent_adds=True, **kw
    )
    idx.build(_docs(spark, base))
    for name, rows in (("wa", a), ("wb", b)):
        src = str(tmp_path / f"src_{name}")
        _docs(spark, rows).df.repartition(1).write.parquet(src)
        stream = file_events(
            spark, src, schema="doc_id long, text string",
            max_files_per_trigger=1,
        )
        run_bounded(
            foreach_batch_index_add(
                stream, idx, str(tmp_path / f"pairs_{name}"),
                key="doc_id", threshold=0.3, auto_maintain=0,
                tag_prefix=f"{name}-", writer_id=f"writer-{name}",
            ),
            checkpoint=str(tmp_path / f"ck_{name}"),
        )
    # both streams' batch-0 partitions coexist (no tag collision)
    from ralf_spark.connectors import _list_parquet_files

    tags = {
        f.split("/_batch=", 1)[1].split("/", 1)[0]
        for f in _list_parquet_files(spark, str(tmp_path / "shared/sigs"))
    }
    assert {"wa-0", "wb-0"} <= tags
    serial = MinHashIndex(str(tmp_path / "serial"), **kw)
    serial.build(_docs(spark, base))
    serial.add(_docs(spark, a)).collect()
    serial.add(_docs(spark, b)).collect()
    probe = _docs(spark, base + a + b)
    got = sorted(
        (r.id1, r.id2, r.est_jaccard)
        for r in idx.check(probe, threshold=0.3).collect()
    )
    want = sorted(
        (r.id1, r.id2, r.est_jaccard)
        for r in serial.check(probe, threshold=0.3).collect()
    )
    assert got == want and got


_WORKER_SRC = """
import os, sys, time
from pyspark.sql import SparkSession

sys.path.insert(0, os.environ["RALF_REPO"])
from ralf_spark.connectors import acquire_add_lease, release_add_lease
from ralf_spark.operators.dedup import GramIndex
from ralf_spark.table import FeatureTable

store = os.environ["XP_STORE"]
tag = os.environ["XP_TAG"]
off = int(os.environ["XP_OFF"])
ready = os.environ["XP_READY"]
stop = os.environ["XP_STOP"]

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "4g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
rows = [
    (off + i, " ".join(f"w{j}" for j in range(10)) + f" {tag}x{i}")
    for i in range(4)
]
docs = FeatureTable(
    spark.createDataFrame(rows, "doc_id long, text string"), key="doc_id"
)
# phase 1: announce from THIS process identity, signal, hold until told
acquire_add_lease(spark, store, tag + "-hold", writer_id=f"xp-{os.getpid()}")
open(ready, "w").close()
for _ in range(600):
    if os.path.exists(stop):
        break
    time.sleep(0.1)
release_add_lease(spark, store, tag + "-hold", writer_id=f"xp-{os.getpid()}")
# phase 2: the real concurrent add (tag lease, publish fence, epoch
# compare all exercised through real per-process lease files)
idx = GramIndex(store, min_tokens=8, auto_maintain=0, concurrent_adds=True)
idx.add(docs, batch_tag=tag).collect()
spark.stop()
"""


@pytest.mark.slow
def test_gram_cross_process_concurrent_adds(spark, tmp_path):
    """r16 (VERDICT r15 #9, carried weak item): the lease/fence machinery
    validated with REAL process isolation — two subprocess drivers (own
    JVMs, own process identities) contend one store. While their
    announces are live the parent coordinator's maintain() must refuse
    across the process boundary; after release both adds fold
    concurrently and the store equals serial single-process ingest."""
    import os
    import subprocess
    import sys
    import time

    from ralf_spark.connectors import ConcurrentWriterError
    from ralf_spark.operators.dedup import GramIndex

    base, _, _ = _batches()
    store = str(tmp_path / "shared")
    kw = dict(min_tokens=8, auto_maintain=0, concurrent_adds=True)
    idx = GramIndex(store, **kw)
    idx.build(_docs(spark, base))

    env = dict(
        os.environ,
        RALF_REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    procs = []
    readies = []
    stops = []
    for tag, off in (("wa", 100), ("wb", 200)):
        ready = str(tmp_path / f"{tag}.ready")
        stop = str(tmp_path / f"{tag}.stop")
        readies.append(ready)
        stops.append(stop)
        wenv = dict(env, XP_STORE=store, XP_TAG=tag, XP_OFF=str(off),
                    XP_READY=ready, XP_STOP=stop)
        procs.append(subprocess.Popen(
            [sys.executable, "-c", _WORKER_SRC], env=wenv,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        ))
    try:
        deadline = time.time() + 180
        while not all(os.path.exists(r) for r in readies):
            assert time.time() < deadline, "workers never announced"
            for p in procs:
                assert p.poll() is None, p.communicate()[1].decode()[-2000:]
            time.sleep(0.2)
        # both foreign processes hold live announces: the coordinator's
        # exclusive op must refuse ACROSS the process boundary
        with pytest.raises(ConcurrentWriterError, match="in-flight"):
            idx.maintain(spark, keep_last=0, tiered=False)
        for s in stops:
            open(s, "w").close()
        for p in procs:
            out, err = p.communicate(timeout=240)
            assert p.returncode == 0, err.decode()[-2000:]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()

    # the concurrently-folded store equals serial single-process ingest
    serial = GramIndex(str(tmp_path / "serial"), **kw)
    serial.build(_docs(spark, base))
    for tag, off in (("wa", 100), ("wb", 200)):
        rows = [
            (off + i, " ".join(f"w{j}" for j in range(10)) + f" {tag}x{i}")
            for i in range(4)
        ]
        serial.add(_docs(spark, rows), batch_tag=tag).collect()

    def grams(path):
        df = spark.read.parquet(f"{path}/grams")
        return sorted((r["_batch"], r["_dg"]) for r in df.collect())

    assert grams(store) == grams(str(tmp_path / "serial"))
    assert grams(store)
    # with the foreign processes gone, the exclusive op succeeds
    out = idx.maintain(spark, keep_last=0, tiered=False)
    assert out["grams"]


def _handoff_index(spark, kind, path):
    """(index, build, add) for one index class in concurrent-adds mode:
    ``build()`` rebuilds from a fixed corpus, ``add(tag, writer_id)``
    folds one small batch and drains what it returns."""
    from ralf_spark.operators.dedup import GramIndex, MinHashIndex
    from ralf_spark.operators.similarity import IvfIndex

    base, a, _ = _batches()
    if kind == "ivf":
        def vecs(lo, n):
            return FeatureTable(
                spark.createDataFrame(
                    [(lo + i, [float((lo + i) % 7), 1.0, 0.0])
                     for i in range(n)],
                    "id long, embedding array<double>",
                ),
                key="id",
            )

        idx = IvfIndex(
            path, vec_col="embedding", auto_maintain=0, concurrent_adds=True
        )
        cents = spark.createDataFrame(
            [(0, [0.0, 1.0, 0.0]), (1, [5.0, 1.0, 0.0])],
            "centroid_id long, centroid_vec array<double>",
        )
        return (
            idx,
            lambda: idx.build(vecs(0, 8), cents),
            lambda n, tag, wid: idx.add(
                vecs(100 * n, 4), batch_tag=tag, writer_id=wid
            ),
        )
    if kind == "minhash":
        idx = MinHashIndex(
            path, num_perm=16, bands=8, auto_maintain=0,
            concurrent_adds=True,
        )
    else:
        idx = GramIndex(
            path, min_tokens=8, auto_maintain=0, count_mode=True,
            concurrent_adds=True,
        )

    def add(n, tag, wid):
        rows = [(100 * n + i, t) for i, (_, t) in enumerate(a)]
        idx.add(_docs(spark, rows), batch_tag=tag, writer_id=wid).collect()

    return idx, lambda: idx.build(_docs(spark, base)), add


@pytest.mark.parametrize("kind", ["minhash", "gram", "ivf"])
def test_exclusive_ops_hand_back_the_root(spark, tmp_path, kind):
    """Every exit of an exclusive operation hands the store root back:
    no root lease file is left, and a FOREIGN writer's add goes through
    right away instead of waiting out the lease TTL. The exits: build,
    a maintain with nothing to fold, a folding maintain, a build refused
    under a live foreign add lease, and GramIndex's retro_delta with no
    new tags and commit_retro_delta with nothing pending."""
    import os

    from ralf_spark.connectors import WRITER_LEASE_SUFFIX

    path = str(tmp_path / kind)
    idx, build, add = _handoff_index(spark, kind, path)
    adds = iter(range(1, 100))

    def assert_handed_back():
        assert not os.path.exists(path + WRITER_LEASE_SUFFIX)
        n = next(adds)
        add(n, f"f{n}", f"foreign-{n}")

    def folded(summary) -> bool:
        # IvfIndex returns the compaction summary, the others one per
        # projection
        return bool(summary) and (
            "sources" in summary or any(summary.values())
        )

    build()
    assert_handed_back()
    assert not folded(idx.maintain(spark))  # base + f1: nothing to fold
    assert_handed_back()
    assert folded(idx.maintain(spark))  # base + f1 fold, f2 is kept
    assert_handed_back()
    acquire_add_lease(spark, path, "tX", writer_id="worker-x")
    with pytest.raises(ConcurrentWriterError, match="in-flight"):
        build()
    release_add_lease(spark, path, "tX", writer_id="worker-x")
    assert_handed_back()
    if kind == "gram":
        idx.retro_delta(spark).collect()
        assert idx.commit_retro_delta(spark)  # covers every tag
        idx.retro_delta(spark).collect()  # every tag covered: no new tags
        assert_handed_back()
        assert idx.commit_retro_delta(spark) == []  # nothing pending
        assert_handed_back()


def test_index_modules_name_no_lease_primitives():
    """The index classes reach the store protocol only through
    ``layout.BatchStore``: no lease or epoch primitive is named in the
    operator modules."""
    import pathlib
    import re

    names = (
        "acquire_writer_lease", "verify_writer_lease", "hold_writer_lease",
        "release_writer_lease", "held_add_lease",
        "assert_no_concurrent_adds", "check_no_foreign_root_lease",
        "read_store_epoch", "check_store_epoch", "bump_store_epoch",
    )
    ops = pathlib.Path(__file__).resolve().parents[1] / "ralf_spark"
    ops = ops / "operators"
    for module in ("dedup.py", "similarity.py"):
        text = (ops / module).read_text()
        found = [n for n in names if re.search(rf"\b{n}\b", text)]
        assert not found, f"{module} names {found}"
