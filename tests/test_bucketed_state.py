"""Bucketed fold state sinks (r10, VERDICT r9 #1): per-batch cost ∝
touched buckets instead of total group count, same state values. The
sketch sinks persist as append logs instead (tested here against the
one-shot sketch operators).

Contract pinned here:
- every fold sink's bucketed output equals the full-rewrite output
  row-for-row (the merge algebra is layout-independent);
- replay of a committed batch is a no-op (per-bucket marker skip) for
  the non-idempotent moments/EWMA/decayed folds;
- the bucket count is pinned in the layout sidecar (reopening with a
  different value raises) and a legacy table cannot be adopted in place;
- a partially-committed batch (crash mid dynamic overwrite) heals on
  replay: committed buckets skip, missed buckets fold — no double-count,
  no loss. This is strictly stronger than the legacy global marker.
"""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from ralf_spark.streaming.sinks import (
    STATE_BUCKET_COL,
    decayed_upsert_batch,
    ewma_upsert_batch,
    moments_upsert_batch,
    read_bucketed_state,
)


@pytest.fixture()
def batches(spark):
    ev = spark.range(0, 9000).select(
        (F.col("id") % 200).alias("k"),
        (F.col("id") * 37 % 997).alias("v"),
        F.col("id").alias("seq"),
        (F.col("id").cast("double") / 7.0).alias("x"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    return [
        ev.where(F.col("seq") < 3000),
        ev.where((F.col("seq") >= 3000) & (F.col("seq") < 6000)),
        ev.where(F.col("seq") >= 6000),
    ]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _moments(spark, path):
    """A moments state's rows; the mean is rounded because a refold may
    sum the batch in another order."""
    return _rows(
        read_bucketed_state(spark, path),
        ["k", "n", F.round("mean", 6).alias("mean")],
    )


@pytest.mark.slow
def test_bucketed_fold_sinks_equal_legacy(spark, tmp_path, batches):
    d = str(tmp_path)
    for i, b in enumerate(batches):
        moments_upsert_batch(f"{d}/ml", "k", "x")(b, i)
        moments_upsert_batch(f"{d}/mb", "k", "x", buckets=8)(b, i)
        ewma_upsert_batch(f"{d}/el", "k", "ts", "x", 0.3, "seq")(b, i)
        ewma_upsert_batch(f"{d}/eb", "k", "ts", "x", 0.3, "seq", buckets=8)(
            b, i
        )
        decayed_upsert_batch(f"{d}/dl", "k", "ts", "x", 3600.0, "seq")(b, i)
        decayed_upsert_batch(
            f"{d}/db", "k", "ts", "x", 3600.0, "seq", buckets=8
        )(b, i)
    for leg, buc, cols in [
        ("ml", "mb", ["k", "n", "mean", "m2"]),
        ("el", "eb", ["k", "n_events", "ewma"]),
        ("dl", "db", ["k", "n_events", "decayed_sum", "last_ts_us"]),
    ]:
        assert _rows(
            spark.read.parquet(f"{d}/{leg}").drop("_last_batch_id"), cols
        ) == _rows(read_bucketed_state(spark, f"{d}/{buc}"), cols)
    # the layout really is partitioned by the state bucket
    assert any(
        p.name.startswith(f"{STATE_BUCKET_COL}=")
        for p in (tmp_path / "mb").iterdir()
    )


@pytest.mark.slow
def test_bucketed_replay_skips_nonidempotent_folds(spark, tmp_path, batches):
    """A replayed batch id leaves every fold sink's state rows unchanged,
    in both layouts: the global marker skips it (unbucketed), the
    per-bucket stamps skip it (bucketed) — the moments/EWMA/decayed
    folds are all non-idempotent."""
    d = str(tmp_path)
    sinks = {
        "moments": lambda p, n: moments_upsert_batch(p, "k", "x", buckets=n),
        "ewma": lambda p, n: ewma_upsert_batch(
            p, "k", "ts", "x", 0.3, "seq", buckets=n
        ),
        "decayed": lambda p, n: decayed_upsert_batch(
            p, "k", "ts", "x", 3600.0, "seq", buckets=n
        ),
    }

    def state(path):
        df = read_bucketed_state(spark, path)
        return _rows(df, sorted(df.columns))

    for name, make in sinks.items():
        for buckets in (None, 4):
            path = f"{d}/{name}_{buckets}"
            cb = make(path, buckets)
            for i, b in enumerate(batches):
                cb(b, i)
            before = state(path)
            cb(batches[1], 1)  # replayed batch — must be skipped
            assert state(path) == before, (name, buckets)


def test_bucket_count_pinned_and_legacy_refused(spark, tmp_path, batches):
    d = str(tmp_path)
    moments_upsert_batch(f"{d}/b", "k", "x", buckets=8)(batches[0], 0)
    with pytest.raises(ValueError, match="buckets=8"):
        moments_upsert_batch(f"{d}/b", "k", "x", buckets=16)(batches[1], 1)
    moments_upsert_batch(f"{d}/l", "k", "x")(batches[0], 0)
    with pytest.raises(ValueError, match="not bucketed"):
        moments_upsert_batch(f"{d}/l", "k", "x", buckets=8)(batches[1], 1)


def test_partial_commit_heals_on_replay(spark, tmp_path, batches):
    """Crash window: batch N committed some buckets, not others. The
    replay folds exactly the missed buckets (per-bucket stamps)."""
    d = str(tmp_path)
    cb = moments_upsert_batch(f"{d}/m", "k", "x", buckets=4)
    cb(batches[0], 0)
    saved = tmp_path / "saved_bucket0"
    shutil.copytree(f"{d}/m/{STATE_BUCKET_COL}=0", saved)
    cb(batches[1], 1)
    full = _moments(spark, f"{d}/m")
    # roll bucket 0 back to its pre-batch-1 contents = the crash left it
    # unwritten while buckets 1-3 committed
    shutil.rmtree(f"{d}/m/{STATE_BUCKET_COL}=0")
    shutil.copytree(saved, f"{d}/m/{STATE_BUCKET_COL}=0")
    spark.catalog.clearCache()
    cb(batches[1], 1)  # checkpoint replay
    assert _moments(spark, f"{d}/m") == full


@pytest.mark.slow
def test_append_log_sinks_equal_legacy(spark, tmp_path, batches):
    """r10 append-log spelling: O(batch) writes, merge-on-read estimates
    equal the one-shot sketch of the union of the batches exactly;
    replay rewrites its own partition (no marker needed); merging
    compaction preserves the estimates and shrinks the log to
    O(state)."""
    import functools
    import glob

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from ralf_spark.operators.sketches import (
        cms_counter_update,
        hll_distinct,
        hll_estimate,
        hll_register_update,
        kmv_distinct,
        kmv_estimate,
        kmv_state_update,
    )
    from ralf_spark.streaming.sinks import (
        _append_log_batch,
        cms_log_state,
        hll_log_state,
        kmv_log_state,
        maintain_sketch_log,
    )

    d = str(tmp_path)
    # drive the raw callbacks directly (same ones the foreach_batch_*
    # writers wrap)
    hll_cb = _append_log_batch(
        f"{d}/hl", lambda b: hll_register_update(b, ["k"], "v"))
    kmv_cb = _append_log_batch(
        f"{d}/kl", lambda b: kmv_state_update(b, ["k"], "v", 16))
    cms_cb = _append_log_batch(
        f"{d}/cl", lambda b: cms_counter_update(b, "k", 4, 32))
    for i, b in enumerate(batches):
        hll_cb(b, i)
        kmv_cb(b, i)
        cms_cb(b, i)
    union = functools.reduce(DataFrame.unionByName, batches)

    def est(df):
        return _rows(df, ["k", "est_distinct"])

    hll_want = est(hll_distinct(union, ["k"], "v"))
    assert est(
        hll_estimate(hll_log_state(spark, f"{d}/hl", ["k"]), ["k"])
    ) == hll_want
    assert est(
        kmv_estimate(kmv_log_state(spark, f"{d}/kl", ["k"], 16), ["k"], 16)
    ) == est(kmv_distinct(union, ["k"], "v", k=16))
    cms_want = _rows(
        cms_counter_update(union, "k", 4, 32).select(
            "r", "bucket", F.col("c").cast("long").alias("c")
        ),
        ["r", "bucket", "c"],
    )
    assert _rows(
        cms_log_state(spark, f"{d}/cl").select(
            "r", "bucket", F.col("c").cast("long").alias("c")
        ),
        ["r", "bucket", "c"],
    ) == cms_want

    # replay of a committed batch: rewrites its own partition — no change
    cms_cb(batches[1], 1)
    assert _rows(
        cms_log_state(spark, f"{d}/cl").select(
            "r", "bucket", F.col("c").cast("long").alias("c")
        ),
        ["r", "bucket", "c"],
    ) == cms_want

    # merging compaction: estimates unchanged, log shrinks, dirs fold
    before_dirs = len(glob.glob(f"{d}/cl/_batch=*"))
    assert before_dirs == 3
    out = maintain_sketch_log(
        spark, f"{d}/cl",
        merge=lambda df: df.groupBy("r", "bucket").agg(
            F.sum("c").alias("c")
        ),
    )
    assert out is not None and out["compacted_tags"] == 2
    assert len(glob.glob(f"{d}/cl/_batch=*")) == 2
    assert _rows(
        cms_log_state(spark, f"{d}/cl").select(
            "r", "bucket", F.col("c").cast("long").alias("c")
        ),
        ["r", "bucket", "c"],
    ) == cms_want
    out2 = maintain_sketch_log(
        spark, f"{d}/hl",
        merge=lambda df: df.groupBy("k", "bucket").agg(
            F.max("reg").alias("reg")
        ),
    )
    assert out2 is not None
    assert est(
        hll_estimate(hll_log_state(spark, f"{d}/hl", ["k"]), ["k"])
    ) == hll_want


def test_publish_crash_recovers_from_staged_swap(spark, tmp_path, batches):
    """r11 (ADVICE r10): the stage-then-swap publish never loses a
    bucket's prior state. Simulate the worst crash point — a bucket's
    final directory deleted, its replacement still in staging, manifest
    present — and assert the next upsert completes the swap from the
    staged copy (old contents preserved IN the merged rows), instead of
    re-initializing the bucket from the replayed batch alone."""
    import json
    import shutil

    from ralf_spark.streaming.sinks import _PUBLISH_MANIFEST_NAME

    d = str(tmp_path)
    cb = moments_upsert_batch(f"{d}/m", "k", "x", buckets=4)
    cb(batches[0], 0)
    cb(batches[1], 1)
    full = _moments(spark, f"{d}/m")

    # reconstruct the crash: bucket 0's post-batch-1 dir is "the staged
    # copy", its final dir deleted mid-swap, manifest naming the swap
    staging = f"{d}/m/.staging_b1"
    shutil.copytree(
        f"{d}/m/{STATE_BUCKET_COL}=0", f"{staging}/{STATE_BUCKET_COL}=0"
    )
    shutil.rmtree(f"{d}/m/{STATE_BUCKET_COL}=0")
    with open(f"{d}/m/{_PUBLISH_MANIFEST_NAME}", "w") as f:
        json.dump({"staging": ".staging_b1", "buckets": [0], "batch": 1}, f)
    spark.catalog.clearCache()

    cb(batches[1], 1)  # checkpoint replay after the crash
    assert _moments(spark, f"{d}/m") == full
    import os

    assert not os.path.exists(staging)
    assert not os.path.exists(f"{d}/m/{_PUBLISH_MANIFEST_NAME}")


def test_publish_sweeps_premanifest_staging_garbage(spark, tmp_path, batches):
    """A crash BEFORE the manifest leaves only a stray .staging_ dir —
    pre-commit garbage the next upsert sweeps; state unaffected."""
    import os

    d = str(tmp_path)
    mb = moments_upsert_batch(f"{d}/m", "k", "x", buckets=8)
    mb(batches[0], 0)
    os.makedirs(f"{d}/m/.staging_b1/{STATE_BUCKET_COL}=3")
    with open(f"{d}/m/.staging_b1/{STATE_BUCKET_COL}=3/junk.parquet", "w") as f:
        f.write("partial")
    before = _rows(read_bucketed_state(spark, f"{d}/m"), ["k", "n"])
    mb(batches[1], 1)
    assert not os.path.exists(f"{d}/m/.staging_b1")
    after = _rows(read_bucketed_state(spark, f"{d}/m"), ["k", "n"])
    assert after != before and len(after) == len(before)  # batch folded


def test_heal_refuses_inconsistent_bucket_count(spark, tmp_path, batches):
    """r11 (ADVICE r10): the data-no-meta self-heal must refuse when the
    observed _state_bucket= values contradict the requested count (a
    bucket id >= buckets proves a different layout)."""
    import os

    d = str(tmp_path)
    moments_upsert_batch(f"{d}/b", "k", "x", buckets=8)(batches[0], 0)
    os.remove(f"{d}/b/_ralf_state_meta.json")  # simulate pre-r11 crash
    with pytest.raises(ValueError, match="inconsistent"):
        moments_upsert_batch(f"{d}/b", "k", "x", buckets=4)(batches[1], 1)
    # a CONSISTENT count heals (observed ids all < buckets)
    moments_upsert_batch(f"{d}/b", "k", "x", buckets=8)(batches[1], 1)
    assert os.path.exists(f"{d}/b/_ralf_state_meta.json")


def test_compacted_tag_replay_is_ignored(spark, tmp_path, batches):
    """r11 (ADVICE r10): once maintain_sketch_log folds a batch tag, a
    replay of that tag must NOT recreate its partition — the CMS counter
    sums would double-count on top of the merged state. The compaction
    records folded tags in a sidecar inside its transaction; the append
    callback ignores them."""
    import glob

    from pyspark.sql import functions as F

    from ralf_spark.operators.sketches import cms_counter_update
    from ralf_spark.streaming.sinks import (
        _append_log_batch,
        cms_log_state,
        maintain_sketch_log,
    )

    d = str(tmp_path)
    cb = _append_log_batch(
        f"{d}/cl", lambda b: cms_counter_update(b, "k", 4, 32))
    for i, b in enumerate(batches):
        cb(b, i)
    out = maintain_sketch_log(
        spark, f"{d}/cl",
        merge=lambda df: df.groupBy("r", "bucket").agg(
            F.sum("c").alias("c")),
    )
    assert sorted(out["sources"]) == ["b0", "b1"]
    want = _rows(
        cms_log_state(spark, f"{d}/cl").select(
            "r", "bucket", F.col("c").cast("long").alias("c")),
        ["r", "bucket", "c"],
    )
    cb(batches[0], 0)  # checkpoint rollback replays a FOLDED batch
    spark.catalog.clearCache()
    assert not glob.glob(f"{d}/cl/_batch=b0")  # partition not recreated
    assert _rows(
        cms_log_state(spark, f"{d}/cl").select(
            "r", "bucket", F.col("c").cast("long").alias("c")),
        ["r", "bucket", "c"],
    ) == want
    cb(batches[2], 2)  # the kept (newest) tag still replays in place
    assert _rows(
        cms_log_state(spark, f"{d}/cl").select(
            "r", "bucket", F.col("c").cast("long").alias("c")),
        ["r", "bucket", "c"],
    ) == want


def test_corrupt_publish_manifest_rolls_back(spark, tmp_path, batches):
    """A partial/corrupt publish manifest can only mean the crash hit
    the manifest write itself (no swap had begun) — recovery drops it
    and sweeps the staging dir; state is the pre-publish version and
    the replay refolds."""
    import os

    from ralf_spark.streaming.sinks import _PUBLISH_MANIFEST_NAME

    d = str(tmp_path)
    cb = moments_upsert_batch(f"{d}/m", "k", "x", buckets=4)
    cb(batches[0], 0)
    before = _moments(spark, f"{d}/m")
    os.makedirs(f"{d}/m/.staging_b1/{STATE_BUCKET_COL}=1")
    with open(f"{d}/m/{_PUBLISH_MANIFEST_NAME}", "w") as f:
        f.write('{"staging": ".staging_b1", "buck')  # truncated mid-write
    spark.catalog.clearCache()
    cb(batches[1], 1)  # replay after the crash
    assert not os.path.exists(f"{d}/m/.staging_b1")
    assert not os.path.exists(f"{d}/m/{_PUBLISH_MANIFEST_NAME}")
    after = _moments(spark, f"{d}/m")
    # batch 1 folded exactly once: every key's count grew by its 15 rows
    assert [r[1] for r in after] == [r[1] + 15 for r in before]
    cb(batches[1], 1)  # and a further replay is a per-bucket no-op
    assert _moments(spark, f"{d}/m") == after


def test_second_concurrent_writer_refused(spark, tmp_path, batches, monkeypatch):
    """r12 (VERDICT r11 #6): every single-writer state store refuses a
    second live writer LOUDLY via the heartbeat lease sidecar instead of
    corrupting the publish protocol; an expired lease (crashed holder)
    is stolen and writing resumes."""
    from ralf_spark import connectors
    from ralf_spark.connectors import ConcurrentWriterError

    d = str(tmp_path)
    # writer A commits batch 0 on a bucketed fold store
    moments_upsert_batch(f"{d}/mb", "k", "x", buckets=8)(batches[0], 0)
    before = _moments(spark, f"{d}/mb")
    # a different PROCESS (fresh writer id) interleaves -> refused
    monkeypatch.setattr(connectors, "_PROCESS_WRITER_ID", "writer-b")
    with pytest.raises(ConcurrentWriterError, match="held by writer"):
        moments_upsert_batch(f"{d}/mb", "k", "x", buckets=8)(batches[1], 1)
    # the store is untouched by the refused write: batch 0 state intact
    assert _moments(spark, f"{d}/mb") == before and len(before) == 200
    # writer A crashed: its lease expires, writer B steals and proceeds
    monkeypatch.setattr(connectors, "WRITER_LEASE_TTL_SEC", 0.0)
    moments_upsert_batch(f"{d}/mb", "k", "x", buckets=8)(batches[1], 1)


def test_concurrent_writer_refused_everywhere(spark, tmp_path, batches,
                                              monkeypatch):
    """The same lease guards the latest-per-key upsert and the
    incremental indexes (GramIndex shown; MinHash/Ivf route through the
    identical acquire)."""
    from ralf_spark import connectors
    from ralf_spark.connectors import ConcurrentWriterError, upsert_into
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    d = str(tmp_path)
    t0 = FeatureTable(batches[0], key="k", ts="ts", seq="seq")
    upsert_into(f"{d}/state", t0)
    gi = GramIndex(f"{d}/gi", min_tokens=2)
    docs = FeatureTable(
        spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        ),
        key="doc_id",
    )
    gi.build(docs)
    monkeypatch.setattr(connectors, "_PROCESS_WRITER_ID", "writer-b")
    with pytest.raises(ConcurrentWriterError):
        upsert_into(f"{d}/state", FeatureTable(batches[1], key="k",
                                               ts="ts", seq="seq"))
    with pytest.raises(ConcurrentWriterError):
        gi.add(docs)


def test_writer_lease_torn_file_expires_by_mtime(spark, tmp_path, monkeypatch):
    """r12 review: a writer killed between create-truncate and the JSON
    write leaves a 0-byte lease. It must refuse while fresh (a writer
    may be mid-renewal) but expire by FILE mtime — not wedge the store
    forever (the embedded heartbeat is unreadable)."""
    from ralf_spark import connectors
    from ralf_spark.connectors import (
        ConcurrentWriterError,
        acquire_writer_lease,
    )

    store = str(tmp_path / "st")
    torn = store + connectors.WRITER_LEASE_SUFFIX
    open(torn, "w").close()  # 0 bytes: unreadable JSON
    with pytest.raises(ConcurrentWriterError, match="unreadable"):
        acquire_writer_lease(spark, store)
    monkeypatch.setattr(connectors, "WRITER_LEASE_TTL_SEC", 0.0)
    acquire_writer_lease(spark, store)  # mtime-expired: stolen
    # and the sidecar is now a valid lease for this writer
    acquire_writer_lease(spark, store)


def test_writer_lease_clean_release_hands_off_immediately(
    spark, tmp_path, batches, monkeypatch
):
    """r12 review: a terminating writer calls release_writer_lease so a
    successor starts immediately instead of waiting out the TTL."""
    from ralf_spark import connectors
    from ralf_spark.connectors import (
        ConcurrentWriterError,
        release_writer_lease,
    )

    d = str(tmp_path)
    moments_upsert_batch(f"{d}/mb", "k", "x", buckets=8)(batches[0], 0)
    release_writer_lease(spark, f"{d}/mb")  # clean shutdown of writer A
    monkeypatch.setattr(connectors, "_PROCESS_WRITER_ID", "writer-b")
    # no TTL wait needed: the lease is gone
    moments_upsert_batch(f"{d}/mb", "k", "x", buckets=8)(batches[1], 1)


def test_foreign_maintain_refused_against_live_writer(spark, tmp_path,
                                                      monkeypatch):
    """r12 review: a second PROCESS's maintain() must contend on the
    STORE root with this process's add()/build() — a foreign compaction
    could otherwise fold and delete a batch dir out from under an
    in-flight add's frozen file list."""
    from ralf_spark import connectors
    from ralf_spark.connectors import ConcurrentWriterError
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    gi = GramIndex(str(tmp_path / "gi"), min_tokens=2, auto_maintain=0)
    docs = FeatureTable(
        spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        ),
        key="doc_id",
    )
    gi.build(docs)
    gi.add(docs, batch_tag="t1").collect()
    monkeypatch.setattr(connectors, "_PROCESS_WRITER_ID", "writer-b")
    with pytest.raises(ConcurrentWriterError):
        gi.maintain(spark, keep_last=0, tiered=False)


def test_verify_writer_lease_fences_mid_operation_steal(spark, tmp_path):
    """r13 (ADVICE r12): a lease stolen AFTER an operation started (the
    operation outlived the TTL) is detected by the fencing read at the
    publish step — the original writer aborts loudly instead of
    interleaving its publish with the new holder's writes. The happy
    path doubles as the heartbeat renewal: verify re-stamps the
    sidecar, so multi-step protocols stay live past the TTL as long as
    each step fences."""
    from ralf_spark.connectors import (
        ConcurrentWriterError,
        acquire_writer_lease,
        read_json_sidecar,
        verify_writer_lease,
        WRITER_LEASE_SUFFIX,
    )

    store = str(tmp_path / "st")
    acquire_writer_lease(spark, store)  # writer A starts an operation
    # A's heartbeat "expires" (ttl_sec=0): writer B legitimately steals
    acquire_writer_lease(spark, store, writer_id="writer-b", ttl_sec=0.0)
    # A reaches its publish step -> the fence aborts it
    with pytest.raises(ConcurrentWriterError, match="lease lost"):
        verify_writer_lease(spark, store)
    # B's own fence renews B's heartbeat (no raise), and re-stamps
    hb0 = read_json_sidecar(spark, store + WRITER_LEASE_SUFFIX)
    verify_writer_lease(spark, store, writer_id="writer-b")
    hb1 = read_json_sidecar(spark, store + WRITER_LEASE_SUFFIX)
    assert hb1["writer_id"] == "writer-b"
    assert hb1["heartbeat_unix"] >= hb0["heartbeat_unix"]


def test_index_publish_fenced_after_steal(spark, tmp_path, monkeypatch):
    """End-to-end fence: a GramIndex.add whose lease is stolen while the
    span plan runs aborts BEFORE folding the batch — the store keeps
    only the pre-add content, so the thief's view is never corrupted."""
    import os

    from ralf_spark.connectors import (
        ConcurrentWriterError,
        acquire_writer_lease,
    )
    from ralf_spark.operators import dedup as dedup_mod
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    gi = GramIndex(str(tmp_path / "gi"), min_tokens=2, auto_maintain=0)
    docs = FeatureTable(
        spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        ),
        key="doc_id",
    )
    gi.build(docs)
    real = dedup_mod._positions_to_spans

    def steal_then_spans(*a, **kw):
        # simulate the add outliving its TTL: writer B steals mid-add
        acquire_writer_lease(spark, gi.path, writer_id="writer-b",
                             ttl_sec=0.0)
        return real(*a, **kw)

    monkeypatch.setattr(dedup_mod, "_positions_to_spans", steal_then_spans)
    with pytest.raises(ConcurrentWriterError, match="lease lost"):
        gi.add(docs, batch_tag="stolen")
    batch_dirs = [
        d for d in os.listdir(f"{gi.path}/grams") if d.startswith("_batch=")
    ]
    assert batch_dirs == ["_batch=base"]  # the aborted fold never landed


def test_bulk_export_roundtrip_and_prunable(spark, tmp_path, batches):
    """r13 (VERDICT r12 #6): bulk_export writes the full state as a
    key-bucketed distributed parquet tree — same rows as bulk_query,
    zero driver collect in the write path — and the export itself
    answers pruned point queries through a ParquetStateConnector."""
    from ralf_spark.connectors import ParquetStateConnector
    from ralf_spark.plans.explain import explain_str
    from ralf_spark.table import FeatureTable

    d = str(tmp_path)
    st = ParquetStateConnector(f"{d}/state", key="k", num_buckets=8)
    st.save(FeatureTable(batches[0], key="k", ts="ts", seq="seq"))
    st.bulk_export(spark, f"{d}/export", num_buckets=8)
    back = ParquetStateConnector(f"{d}/export", key="k", num_buckets=8)
    want = sorted(map(tuple, st.bulk_query(spark)))
    got = sorted(map(tuple, back.bulk_query(spark)))
    assert got == want and got
    # the export is point-query-prunable (PartitionFilters on bucket)
    some_key = want[0][0]
    plan = explain_str(back.pruned_point_plan(spark, some_key))
    assert "PartitionFilters" in plan
    assert back.point_query(spark, some_key)


def test_hold_writer_lease_renews_past_ttl(spark, tmp_path):
    """r13 (ADVICE r12): the heartbeat keeper renews the lease faster
    than the TTL, so a long operation is never stolen from a healthy
    writer; a theft that does happen (forced here by stamping a foreign
    lease) surfaces as ConcurrentWriterError at block exit."""
    import time as _time

    from ralf_spark.connectors import (
        ConcurrentWriterError,
        acquire_writer_lease,
        hold_writer_lease,
        read_json_sidecar,
        WRITER_LEASE_SUFFIX,
    )

    store = str(tmp_path / "st")
    side = store + WRITER_LEASE_SUFFIX

    def read_hb() -> float:
        # the keeper renews every ttl/3: a direct read can land in the
        # documented torn-write window (create-truncate before the JSON
        # bytes) — retry instead of failing the test on the race
        for _ in range(100):
            try:
                return read_json_sidecar(spark, side)["heartbeat_unix"]
            except Exception:
                _time.sleep(0.05)
        raise AssertionError("lease sidecar unreadable after retries")

    with hold_writer_lease(spark, store, ttl_sec=0.9):
        hb0 = read_hb()
        _time.sleep(2.0)  # > 2 TTLs: without renewal the lease expires
        hb1 = read_hb()
        assert hb1 > hb0  # the keeper renewed
        # a foreign acquire is still refused (the heartbeat is fresh)
        with pytest.raises(ConcurrentWriterError):
            acquire_writer_lease(spark, store, writer_id="writer-b",
                                 ttl_sec=0.9)
    # theft while held -> the keeper notices and the block raises
    with pytest.raises(ConcurrentWriterError):
        with hold_writer_lease(spark, store, ttl_sec=0.9):
            acquire_writer_lease(spark, store, writer_id="thief",
                                 ttl_sec=0.0)  # force-steal
            _time.sleep(1.2)  # let the keeper observe the theft


def test_lease_keeper_retries_transient_renewal_failures(
    spark, tmp_path, monkeypatch
):
    """r14 (ADVICE r13): a transient filesystem hiccup during a keeper
    renewal must not silently stop the heartbeat — the keeper retries a
    bounded number of times and only records a persistent failure (or a
    theft, immediately)."""
    import time as _time

    import ralf_spark.connectors as conn

    store = str(tmp_path / "st")
    real = conn.acquire_writer_lease
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] in (2, 3):  # two isolated hiccups, then healthy
            raise IOError("transient fs hiccup")
        return real(*a, **k)

    monkeypatch.setattr(conn, "acquire_writer_lease", flaky)
    with conn.hold_writer_lease(spark, store, ttl_sec=0.3):
        _time.sleep(1.0)  # several keeper rounds across the hiccups
    assert calls["n"] >= 4  # the keeper kept renewing past the failures

    # persistent failure (> retry budget) still surfaces at block exit
    calls2 = {"n": 0}

    def dead(*a, **k):
        calls2["n"] += 1
        if calls2["n"] == 1:  # the entry verify passes; renewals fail
            return real(*a, **k)
        raise IOError("disk on fire")

    store2 = str(tmp_path / "st2")
    monkeypatch.setattr(conn, "acquire_writer_lease", dead)
    with pytest.raises(IOError, match="disk on fire"):
        with conn.hold_writer_lease(spark, store2, ttl_sec=0.3):
            _time.sleep(2.0)  # > retries * interval
