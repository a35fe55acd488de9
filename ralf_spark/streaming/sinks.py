"""Structured Streaming sinks: plain writers and the state each micro-batch
maintains.

The reference's operators each keep their own state table up to date on
every update (``ralf/v2/table_state.py:29-46``) through dict/SQLite/Redis
connectors; its ``Sink`` op is a pass-through writer
(``ralf/operators/sink.py:5-11``). Here console/memory/parquet writers
cover the pass-through and debug cases (``Print``,
``ralf/operators/logging.py:10-24``), and every ``foreachBatch`` sink
maintains one of three state shapes, each with its own exactly-once unit
under checkpoint replay:

- **Keyed latest-per-key upsert** (``foreach_batch_latest_upsert``,
  ``foreach_batch_kv_upsert``). The batch reduces to its per-key winners
  by (ts, seq) and upserts them. The unit is the key: a replayed batch
  re-derives the same winners. ``connectors.upsert_into`` appends them
  as one ``_batch`` partition of the parquet state under the writer
  lease (a replay appends duplicate winners, which ``latest()`` folds
  away).
- **Keyed fold state** (moments, EWMA, decayed sum: the
  ``*_upsert_batch`` callbacks, all built by :func:`_fold_upsert_batch`).
  The batch summary folds into the stored state. Unbucketed, the unit is
  the table: every row carries the last folded batch id
  (``LAST_BATCH_COL``) and ``_staged_overwrite`` publishes data and
  marker in one rename. Bucketed (``buckets=N``), the unit is the
  ``_state_bucket=`` directory: only touched buckets are rewritten, each
  stamped, through a manifest-recovered stage-then-swap.
- **``_batch`` logs** (the HLL, KMV, reservoir-quantile and CMS sketch
  logs, enrichment and quality logs, the index sinks' pairs/spans logs,
  decontamination and screening output). Each batch writes its own
  ``_batch=<tag>`` partition through ``layout.write_batch``. The unit is
  the partition: a replay rewrites it in place, and a tag a compaction
  already folded is skipped. A sketch log is its sketch's one persisted
  spelling: its merge is associative and commutative, so
  ``*_log_state`` folds the log on read and :func:`maintain_sketch_log`
  folds it in place with the same merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ralf_spark import connectors
from ralf_spark.layout import (
    AUTO_MAINTAIN_BATCHES,
    auto_compact_log,
    batch_tag_count,
    compact_tiered,
    folded_tags,
    write_batch,
)
from ralf_spark.table import FeatureTable


def write_console(df: DataFrame, mode: str = "append") -> DataStreamWriter:
    return df.writeStream.format("console").outputMode(mode)


def write_memory(df: DataFrame, name: str, mode: str = "append") -> DataStreamWriter:
    """Memory sink for tests: results land in a temp view called ``name``."""
    return df.writeStream.format("memory").queryName(name).outputMode(mode)


def write_parquet(
    df: DataFrame, path: str, checkpoint: str
) -> DataStreamWriter:
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def foreach_batch_latest_upsert(
    df: DataFrame,
    path: str,
    key: str,
    ts: str | None = None,
    seq: str | None = None,
) -> DataStreamWriter:
    """Maintain a persisted latest-per-key state table from a stream.

    Each micro-batch: reduce the batch to its per-key winners by
    (ts, seq) and append them to the state as one ``_batch`` partition
    (``connectors.upsert_into``); ``FeatureStore.read_parquet(path)
    .latest()`` is the state. The batch analog of the reference's
    per-record upsert (``ralf/v2/table_state.py:29-46``). A micro-batch
    whose source reports a size within ``sizing.SMALL_INPUT_BYTES`` (a
    file stream does, the rate source does not) takes ``upsert_into``'s
    driver-side spelling, with no shuffle and no write job.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        connectors.upsert_into(
            path, FeatureTable(batch_df, key=key, ts=ts, seq=seq)
        )

    return df.writeStream.foreachBatch(upsert)


def foreach_batch_kv_upsert(
    df: DataFrame,
    connector,
    ts: str | None = None,
    seq: str | None = None,
) -> DataStreamWriter:
    """Serve a stream's latest-per-key state through an external KV store —
    the online-serving edge (the reference pushes every update into Redis,
    ``ralf/state/redis_connector.py:17-21``; here each micro-batch reduces
    to its per-key winners first, so the KV store sees one write per key
    per batch instead of one per record).

    ``connector`` is a :class:`ralf_spark.connectors.KVStateConnector`;
    every batch incrementally upserts its per-key winners (absent keys keep
    serving their previous value). KV upserts are idempotent per key, so
    micro-batch replays after failure converge to the same state.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        connector.upsert(
            FeatureTable(batch_df, key=connector.key, ts=ts, seq=seq)
        )

    return df.writeStream.foreachBatch(upsert)


#: state-table column recording the last folded micro-batch id. The
#: moments/EWMA/decayed folds are NOT idempotent under replay, so
#: exactly-once relies on skipping already-applied checkpoint batch ids.
#: Storing the id IN the state table (every row stamped with the batch
#: that produced this table version) means the marker commits with the
#: data in the same write — it can never disagree with the data it
#: describes (VERDICT r6 #4; the previous driver-local
#: ``.__last_batch__`` file could). ``_staged_overwrite`` publishes the
#: staged table by filesystem rename; a crash between its two renames
#: leaves no state directory, and the next ``_load_state`` rolls forward
#: from the complete staging copy (or back to the retired one), so the
#: marker read is always the pre- or post-crash batch. On object stores
#: (S3A) a directory rename is a file-by-file copy, so the publish is not
#: atomic there: a reader racing the copy can see part of the new table.
LAST_BATCH_COL = "_last_batch_id"


def _load_state(spark: SparkSession, path: str):
    """Read a fold-sink state table → (state_df_without_marker, last_id).

    ``last_id`` is None for absent/empty state or a pre-r7 table without
    the marker column (a replay across that migration boundary may
    re-fold one batch — document, don't pretend)."""
    current = connectors._try_read_parquet(spark, path)
    if current is None:
        return None, None
    if LAST_BATCH_COL not in current.columns:
        return current, None
    row = current.select(LAST_BATCH_COL).head(1)
    last = row[0][0] if row else None
    return current.drop(LAST_BATCH_COL), last


#: hash-bucket partition column of the bucketed fold state layout
#: (``buckets=`` on the fold sinks). Named to never collide with user
#: key columns.
STATE_BUCKET_COL = "_state_bucket"

#: layout sidecar inside the state directory. Leading underscore → the
#: parquet file index ignores it, and dynamic partition overwrite never
#: deletes it (only ``_state_bucket=…`` dirs are replaced).
_STATE_META_NAME = "_ralf_state_meta.json"


def _state_bucket_expr(group_cols: list[str], buckets: int):
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(buckets)
    )


def _check_bucket_layout(
    spark: SparkSession, path: str, buckets: int
) -> bool:
    """Validate (or establish) the bucketed layout contract at ``path``.

    Returns True when a bucketed state table already exists there. The
    bucket count is pinned in a ``_ralf_state_meta.json`` sidecar —
    reopening with a different ``buckets`` raises (the bucket assignment
    is baked into the directory layout, like the state-store partition
    count in a streaming checkpoint). A data-but-no-meta directory
    self-heals if it already has ``_state_bucket=`` children (crash
    between the first data write and the meta write); a plain unbucketed
    state table is refused rather than silently misread."""
    fs, jpath = connectors._hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return False
    meta_path = f"{path}/{_STATE_META_NAME}"
    _, jmeta = connectors._hadoop_fs(spark, meta_path)
    if fs.exists(jmeta):
        meta = connectors.read_json_sidecar(spark, meta_path)
        if meta.get("buckets") != buckets:
            raise ValueError(
                f"state at {path!r} was written with "
                f"buckets={meta.get('buckets')}; reopening with "
                f"buckets={buckets} would split groups across layouts. "
                "Pass the original value (the layout pins it)."
            )
        return True
    names = [s.getPath().getName() for s in fs.listStatus(jpath)]
    observed = [
        int(n.split("=", 1)[1])
        for n in names
        if n.startswith(f"{STATE_BUCKET_COL}=")
    ]
    if observed:
        # Data dirs but no meta sidecar: a crashed writer from BEFORE the
        # meta-first ordering (r11 writes the sidecar before any data, so
        # new states can't reach here). Heal by pinning the CALLER's
        # count — but refuse when the observed partition values already
        # contradict it (a bucket id >= the requested count proves the
        # crashed writer used a different layout; pinning the new value
        # would silently split groups across two hash layouts, ADVICE
        # r10). Fewer-buckets mismatches are undetectable from names
        # alone — the meta-first ordering is the real fix.
        if max(observed) >= buckets:
            raise ValueError(
                f"state at {path!r} has no layout sidecar but contains "
                f"{STATE_BUCKET_COL}={max(observed)} — inconsistent with "
                f"buckets={buckets} (the crashed writer used a different "
                "bucket count). Reopen with the original count or start "
                "a new path; healing would split groups across layouts."
            )
        connectors.write_json_sidecar(spark, meta_path, {"buckets": buckets})
        return True
    if all(n.startswith(("_", ".")) for n in names):
        return False  # markers only (e.g. _SUCCESS) — no data yet
    raise ValueError(
        f"existing state at {path!r} is not bucketed (no "
        f"{STATE_BUCKET_COL}= partitions); buckets= cannot adopt a "
        "legacy full-rewrite state table in place — start a new path"
    )


#: publish-transaction manifest inside a bucketed state directory.
#: Dot-prefixed → ignored by the parquet file index, like the staging dir.
_PUBLISH_MANIFEST_NAME = ".publish_manifest.json"


def _swap_staged_buckets(
    spark: SparkSession, path: str, staging: str, buckets: list[int]
) -> None:
    """The swap step of the bucketed publish: each staged
    ``_state_bucket=<b>`` directory under ``staging`` replaces its final
    directory in ``path`` by one rename (the old one is deleted first:
    Hadoop would move the source INTO an existing directory). A bucket
    without a staged copy already swapped. Then the staging dir and the
    manifest go. A failed rename raises with both still in place, so the
    next upsert's :func:`_recover_publish` completes the swap."""
    fs, _ = connectors._hadoop_fs(spark, path)
    jvm_path = connectors._jvm_handles(spark).Path
    for b in buckets:
        jstaged = jvm_path(f"{staging}/{STATE_BUCKET_COL}={b}")
        if not fs.exists(jstaged):
            continue
        jfinal = jvm_path(f"{path}/{STATE_BUCKET_COL}={b}")
        if fs.exists(jfinal):
            fs.delete(jfinal, True)
        if not fs.rename(jstaged, jfinal):
            raise IOError(
                f"bucket publish: rename {jstaged} -> {jfinal} failed; the "
                "staged copy and manifest survive — the next upsert's "
                "recovery completes the swap"
            )
    fs.delete(jvm_path(staging), True)
    fs.delete(jvm_path(f"{path}/{_PUBLISH_MANIFEST_NAME}"), False)


def _recover_publish(spark: SparkSession, path: str) -> None:
    """Finish (or sweep) an interrupted per-bucket publish (r11, ADVICE
    r10): the publish protocol stages the merged bucket directories
    FULLY before writing a manifest, then swaps them in one rename per
    bucket. A crash mid-swap leaves the manifest + the not-yet-swapped
    staged dirs — completing the renames is always correct, because the
    staged content is the committed merge of (old state, batch). A crash
    BEFORE the manifest leaves only a stray staging dir: pre-commit
    garbage, deleted. Either way no bucket's prior state is ever lost —
    the window the old dynamic-partition-overwrite publish had (job
    commit deletes a bucket dir before its replacement lands)."""
    fs, jpath = connectors._hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return
    jvm_path = connectors._jvm_handles(spark).Path
    mpath = f"{path}/{_PUBLISH_MANIFEST_NAME}"
    committed_staging = None
    if fs.exists(jvm_path(mpath)):
        try:
            man = connectors.read_json_sidecar(spark, mpath)
        except Exception:
            # a partial/corrupt manifest can only mean the crash hit the
            # manifest write itself — no swap had begun, every final dir
            # is intact — so the publish rolls back: drop the manifest,
            # and the staging sweep below clears its data
            fs.delete(jvm_path(mpath), False)
            man = None
        if man is not None:
            committed_staging = man["staging"]
            _swap_staged_buckets(
                spark, path, f"{path}/{committed_staging}", man["buckets"]
            )
    for st in fs.listStatus(jpath):
        n = st.getPath().getName()
        if n.startswith(".staging_") and n != committed_staging:
            fs.delete(st.getPath(), True)  # pre-manifest crash garbage


def _fold_upsert_batch(
    path: str, group_cols: list[str], summarize, init, merge,
    buckets: int | None,
):
    """The foreachBatch callback of every keyed fold-state sink: reduce
    the batch to ``summarize(batch_df)`` and fold it into the state at
    ``path``, skipping a replayed ``batch_id``. ``init(summary)`` turns
    a summary into first-write state rows; ``merge(current, summary)``
    folds it into stored rows. Neither frame carries the layout columns.

    ``buckets=None``: one table, every row stamped with the batch that
    wrote it (``LAST_BATCH_COL``); a batch id not above the stamp is a
    replay, and ``_staged_overwrite`` publishes data and stamp in one
    rename (see the ``LAST_BATCH_COL`` note for crash recovery).
    ``buckets=N``: the per-bucket layout of
    :func:`_bucketed_fold_upsert`."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        summary = summarize(batch_df)
        if buckets is not None:
            _bucketed_fold_upsert(
                spark, path, summary, group_cols, init, merge, batch_id,
                buckets,
            )
            return
        current, last = _load_state(spark, path)
        if last is not None and batch_id <= last:
            return  # replayed batch — already folded in
        merged = init(summary) if current is None else merge(current, summary)
        connectors._staged_overwrite(
            spark, merged.withColumn(LAST_BATCH_COL, F.lit(batch_id)), path
        )

    return upsert


def _bucketed_fold_upsert(
    spark: SparkSession,
    path: str,
    summary: DataFrame,
    group_cols: list[str],
    init,
    merge,
    batch_id: int,
    buckets: int,
) -> None:
    """Fold one micro-batch summary into bucketed persisted state —
    per-batch cost ∝ the batch's TOUCHED buckets, not total group count.

    This is the scale fix for the fold sinks' full-table rewrite
    (SCALEPROBE finding 11: O(groups) per batch, visible at 72k groups):
    the same touched-partitions-only lever ``foreach_batch_index_add``
    and the index sinks already use, applied to merged state. Layout:
    ``path/_state_bucket=<pmod(xxhash64(group_cols), buckets)>/…`` — a
    group's rows live entirely in one bucket, so merging a batch needs
    only its buckets' current rows (partition-pruned read), and only
    those directories are replaced.

    Exactly-once becomes PER-BUCKET: every row of a bucket directory is
    stamped with the batch that last rewrote it (the directory rewrites
    wholesale, so the stamp is uniform per bucket), and a replayed batch
    folds only into buckets whose stamp is older. The publish itself is
    a per-bucket stage-then-swap transaction (r11, ADVICE r10 — the r10
    dynamic-partition-overwrite publish could delete a bucket directory
    at job commit and crash before its replacement landed, silently
    losing that bucket's prior state on replay): the merged buckets are
    written FULLY to a dot-prefixed staging dir (invisible to readers),
    a manifest names the swap set, then each bucket swaps in one rename;
    :func:`_recover_publish` (run on every upsert) completes interrupted
    swaps from the staged copies or sweeps pre-manifest garbage, so a
    bucket's prior state always survives any crash point — strictly
    stronger than the legacy global marker. Staging to a separate dir
    also means the merge plan never overwrites its own input (the r10
    spelling needed an eager localCheckpoint for that, materializing the
    merge twice).
    """
    # single-writer guard (r12): two interleaved stage-then-swap publishes
    # would corrupt each other's manifests — refuse the second writer
    connectors.acquire_writer_lease(spark, path)
    exists = _check_bucket_layout(spark, path, buckets)
    if exists:
        _recover_publish(spark, path)
    bexpr = _state_bucket_expr(group_cols, buckets)
    summary = summary.withColumn(STATE_BUCKET_COL, bexpr).persist()
    try:
        touched = sorted(
            r[0]
            for r in summary.select(STATE_BUCKET_COL).distinct().collect()
        )
        if not touched:
            return  # empty batch — nothing to fold, nothing to stamp
        if not exists:
            # first write: no read of path, plain partitioned write.
            # The meta sidecar goes FIRST (r11, ADVICE r10): a crash
            # between data and meta used to force the self-heal above to
            # trust the caller's bucket count; meta-first pins the
            # layout before any data can exist under it. repartition on
            # the bucket column — a partitionBy write otherwise emits
            # one file per (task × bucket), and the small-file blowup
            # compounds every later batch
            connectors.write_json_sidecar(
                spark, f"{path}/{_STATE_META_NAME}", {"buckets": buckets}
            )
            (
                init(summary.drop(STATE_BUCKET_COL))
                .withColumn(STATE_BUCKET_COL, bexpr)
                .withColumn(LAST_BATCH_COL, F.lit(batch_id))
                .repartition(STATE_BUCKET_COL)
                .write.mode("overwrite")
                # dynamic: a STATIC overwrite would truncate the whole
                # directory — deleting the just-written meta sidecar
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(STATE_BUCKET_COL)
                .parquet(path)
            )
            return
        # touched-bucket read with O(touched) plan-time metadata: one
        # top-level listing finds the live bucket dirs, the touched ones
        # are passed as EXPLICIT read paths (basePath keeps the partition
        # column) — `spark.read.parquet(path)` would list ALL bucket
        # dirs before pruning (the finding-9 listing class)
        fs, jpath = connectors._hadoop_fs(spark, path)
        live = {
            int(n.split("=", 1)[1])
            for n in (
                s.getPath().getName() for s in fs.listStatus(jpath)
            )
            if n.startswith(f"{STATE_BUCKET_COL}=")
        }
        dirs = [
            f"{path}/{STATE_BUCKET_COL}={b}" for b in touched if b in live
        ]
        stored = (
            spark.read.option("basePath", path).parquet(*dirs)
            if dirs
            else None
        )
        if stored is not None:
            last_ids = {
                r[0]: r[1]
                for r in stored.groupBy(STATE_BUCKET_COL)
                .agg(F.max(LAST_BATCH_COL))
                .collect()
            }
        else:
            last_ids = {}
        eligible = [
            b
            for b in touched
            if last_ids.get(b) is None or last_ids[b] < batch_id
        ]
        if not eligible:
            return  # replayed batch — every touched bucket already folded
        bat = summary.where(F.col(STATE_BUCKET_COL).isin(eligible)).drop(
            STATE_BUCKET_COL
        )
        if stored is None:
            merged = init(bat)  # all touched buckets are new
        else:
            cur = stored.where(
                F.col(STATE_BUCKET_COL).isin(eligible)
            ).drop(STATE_BUCKET_COL, LAST_BATCH_COL)
            merged = merge(cur, bat)
        merged = (
            merged.withColumn(STATE_BUCKET_COL, bexpr)
            .withColumn(LAST_BATCH_COL, F.lit(batch_id))
            .repartition(STATE_BUCKET_COL)
        )
        # stage-then-swap publish (r11, ADVICE r10). Writing to a
        # separate dot-prefixed staging dir means (a) the merge plan
        # never overwrites its own input (no localCheckpoint double-
        # materialize), (b) readers never see the staging files (dot
        # prefix → ignored by the file index), and (c) the swap is one
        # atomic rename per bucket, manifest-recovered — the dynamic
        # overwrite publish could crash between deleting a bucket dir
        # and landing its replacement, losing that bucket's history.
        staging_name = f".staging_b{batch_id}"
        staging = f"{path}/{staging_name}"
        (
            merged.write.mode("overwrite")
            .partitionBy(STATE_BUCKET_COL)
            .parquet(staging)
        )
        jvm_path = connectors._jvm_handles(spark).Path
        # swap only buckets the merge actually staged: a bucket absent
        # from the merged frame keeps its current directory untouched
        # (same semantics the dynamic overwrite had)
        staged = [
            b
            for b in eligible
            if fs.exists(jvm_path(f"{staging}/{STATE_BUCKET_COL}={b}"))
        ]
        # fencing read (r13, ADVICE r12): the merge+staging write is the
        # long step — start the swap only while still the lease owner
        # (the swap itself is per-bucket renames: fast, no keeper needed)
        connectors.verify_writer_lease(spark, path)
        connectors.write_json_sidecar(
            spark,
            f"{path}/{_PUBLISH_MANIFEST_NAME}",
            {"staging": staging_name, "buckets": staged, "batch": batch_id},
        )
        _swap_staged_buckets(spark, path, staging, staged)
    finally:
        summary.unpersist()


def hll_log_merge(group_cols: list[str]):
    """The HLL append log's row-set fold (register-wise max) — pass to
    :func:`maintain_sketch_log`; also the auto-maintenance merge."""
    from ralf_spark.operators.sketches import hll_fold

    return lambda df: hll_fold(df, group_cols)


def kmv_log_merge(group_cols: list[str], k: int = 32):
    """The KMV append log's row-set fold (union-distinct-keep-k)."""
    from ralf_spark.operators.sketches import kmv_fold

    return lambda df: kmv_fold(df, group_cols, k)


def rq_log_merge(group_cols: list[str], k: int = 256):
    """The reservoir-quantile append log's row-set fold
    (union-distinct-keep-k by ``(h, v)`` — the bottom-k union, idempotent
    like the KMV min-k set)."""
    from ralf_spark.operators.sketches import rq_fold

    return lambda df: rq_fold(df, group_cols, k)


def cms_log_merge():
    """The CMS append log's row-set fold (counter-wise sum per cell)."""
    from ralf_spark.operators.sketches import cms_fold

    return cms_fold


def _append_log_batch(
    path: str, summarize, merge=None, auto_maintain: int | None = None
):
    """foreachBatch callback factory for the sketch sinks (r10): the
    batch's summary rows land under their own ``_batch=b<id>`` partition
    via dynamic overwrite — O(batch) work with ZERO reads of existing
    state, the strict-minimum per-batch cost. Exactly-once: a replayed
    micro-batch rewrites its own partition in place (the
    ``foreach_batch_index_add`` regime) —
    EXCEPT once :func:`maintain_sketch_log` has folded the tag away
    (r11, ADVICE r10): a replay would then recreate the partition on
    top of the already-merged state, which double-counts for the
    non-idempotent CMS sums (HLL/KMV are immune by algebra). The
    compaction records its folded tags in a sidecar inside the same
    manifest transaction, and the callback IGNORES a tag already
    folded — one driver-side sidecar read per batch. The read-side
    price (merge-on-read estimates) is amortized by the compaction.

    Maintenance is AUTOMATIC when ``merge`` is given (r11, VERDICT r10
    #1): after the batch write, one driver-side tag listing fires
    :func:`maintain_sketch_log` once more than ``auto_maintain`` batch
    partitions exist (default :data:`~ralf_spark.layout.
    AUTO_MAINTAIN_BATCHES`, what every sink uses; tests pass a smaller
    cadence). Because the sketch compaction MERGES, the folded
    partition stays O(state) — the cadence costs
    O(state) every ~N batches, keeping both the merge-on-read estimate
    and the listing flat for any stream length. keep_last=1 keeps the
    just-written tag replayable."""
    if auto_maintain is None:
        auto_maintain = AUTO_MAINTAIN_BATCHES

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        connectors.acquire_writer_lease(spark, path)  # single-writer guard
        if f"b{batch_id}" in folded_tags(spark, path):
            return  # replay of a batch the compaction already folded
        # batch summaries are sketch-sized: one file
        write_batch(summarize(batch_df).repartition(1), path, f"b{batch_id}")
        if merge is not None and auto_maintain:
            if batch_tag_count(spark, path) > auto_maintain:
                maintain_sketch_log(spark, path, merge=merge)

    return upsert


def foreach_batch_hll_append(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    value_col: str,
) -> DataStreamWriter:
    """Maintain a per-group HyperLogLog register log from a stream (r10;
    see :func:`_append_log_batch`): each micro-batch appends its (group,
    bucket, max-rho) registers, so per-batch cost is O(batch registers)
    at ANY total group count. Read the estimate from
    ``hll_estimate(hll_log_state(spark, path, group_cols), group_cols)``
    — the same algebra as the one-shot ``hll_distinct``. Register max is
    idempotent, so a replay cannot change the estimate. The merging
    compaction fires automatically past
    :data:`~ralf_spark.layout.AUTO_MAINTAIN_BATCHES` batches."""
    from ralf_spark.operators.sketches import hll_register_update

    return df.writeStream.foreachBatch(
        _append_log_batch(
            path,
            lambda b: hll_register_update(b, group_cols, value_col),
            merge=hll_log_merge(group_cols),
        )
    )


def foreach_batch_kmv_append(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    value_col: str,
    k: int = 32,
) -> DataStreamWriter:
    """Maintain a per-group KMV sketch (k smallest distinct value
    hashes) log from a stream (r10): each micro-batch appends its own
    min-k table; ``kmv_log_state`` merges by union-distinct-keep-k
    (idempotent by algebra), read out with ``kmv_estimate`` under the
    same oracle as the one-shot ``kmv_distinct``. Auto-compacts like
    :func:`foreach_batch_hll_append`."""
    from ralf_spark.operators.sketches import kmv_state_update

    return df.writeStream.foreachBatch(
        _append_log_batch(
            path,
            lambda b: kmv_state_update(b, group_cols, value_col, k),
            merge=kmv_log_merge(group_cols, k),
        )
    )


def foreach_batch_rq_append(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    k: int = 256,
) -> DataStreamWriter:
    """Maintain a per-group quantile sketch (bottom-k row sample) log
    from a stream (r14, VERDICT r13 #3): each micro-batch appends its
    bottom-k sample rows under its own ``_batch`` partition — O(batch)
    per batch, zero reads of existing
    state — and the estimate merges the log on read
    (``rq_quantiles(rq_log_state(...))``). The bottom-k union is
    associative/commutative/IDEMPOTENT, so any micro-batching, any
    replay, and any amount of compaction converge on the identical
    sample — the same exactly-once-by-algebra class as HLL/KMV, no
    marker needed. Auto-compacts like
    :func:`foreach_batch_hll_append`."""
    from ralf_spark.operators.sketches import rq_state_update

    return df.writeStream.foreachBatch(
        _append_log_batch(
            path,
            lambda b: rq_state_update(b, group_cols, value_col, id_col, k),
            merge=rq_log_merge(group_cols, k),
        )
    )


def foreach_batch_cms_append(
    df: DataFrame,
    path: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataStreamWriter:
    """Maintain a count-min counter matrix log from a stream (r10): each
    micro-batch appends its own ``depth * width`` matrix
    (``operators.sketches.cms_counter_update``) and ``cms_log_state``
    sums it counter-wise on read. Counter sums are NOT idempotent: each
    batch owns its ``_batch`` partition and a replay rewrites it in
    place — the partition itself is the exactly-once unit — and once
    :func:`maintain_sketch_log` folds a tag away, the compacted-tags
    sidecar makes its replay a no-op (r11, ADVICE r10: recreating a
    folded partition would double-count the sums; HLL/KMV would merely
    be redundant). Auto-compacts like :func:`foreach_batch_hll_append`."""
    from ralf_spark.operators.sketches import cms_counter_update

    return df.writeStream.foreachBatch(
        _append_log_batch(
            path,
            lambda b: cms_counter_update(b, key_col, depth, width),
            merge=cms_log_merge(),
        )
    )


def _read_sketch_log(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot read of a sketch append log via an EXPLICIT ``_batch=``
    directory list + basePath (r11, VERDICT r10 #7 — the same spelling
    ``_read_probed_cells`` and the bucketed sink standardized on): the
    plain ``spark.read.parquet(path)`` builds its file index by listing
    every child in a parallel Spark listing job — O(batches since last
    compaction) plan-time work per estimate read, the finding-9 class.
    One driver-side ``listStatus`` finds the batch dirs instead, and
    the explicit list pins the estimate to a frozen file snapshot (a
    concurrent append can't shift it mid-plan). With the sinks'
    auto-compaction cadence the dir count is bounded, so this read is
    O(kept batches) whatever the stream length."""
    fs, jpath = connectors._hadoop_fs(spark, path)
    dirs = [
        s.getPath().toString()
        for s in fs.listStatus(jpath)
        if s.isDirectory() and s.getPath().getName().startswith("_batch=")
    ]
    if not dirs:
        return spark.read.parquet(path)  # empty/foreign layout: as-is
    return spark.read.option("basePath", path).parquet(*dirs)


def hll_log_state(
    spark: SparkSession, path: str, group_cols: list[str]
) -> DataFrame:
    """Merge an HLL append log on read: register-wise max over every
    logged row — associative/commutative/idempotent, so the result is
    independent of batching AND of how much the log has been
    compacted."""
    return hll_log_merge(group_cols)(_read_sketch_log(spark, path))


def kmv_log_state(
    spark: SparkSession, path: str, group_cols: list[str], k: int = 32
) -> DataFrame:
    """Merge a KMV append log on read: union-distinct-keep-k."""
    return kmv_log_merge(group_cols, k)(_read_sketch_log(spark, path))


def rq_log_state(
    spark: SparkSession, path: str, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Merge a reservoir-quantile append log on read: union-distinct-
    keep-k by ``(h, v)``."""
    return rq_log_merge(group_cols, k)(_read_sketch_log(spark, path))


def cms_log_state(spark: SparkSession, path: str) -> DataFrame:
    """Merge a CMS append log on read: counter-wise sum per cell."""
    return cms_log_merge()(_read_sketch_log(spark, path))


def maintain_sketch_log(
    spark: SparkSession,
    path: str,
    merge,
    keep_last: int = 1,
) -> dict | None:
    """Compact a sketch append log by MERGING it (r10): all but the
    newest ``keep_last`` batch partitions fold into one compacted
    partition holding the merged state rows, via
    ``layout.compact_batch_partitions(transform=merge)`` — the same
    manifest transaction as the index maintenance (interrupted attempts
    heal), so the log stays O(state) + O(batches since last
    maintenance) whatever the stream length. ``merge`` is the log's
    read-side fold over a row set, e.g. for HLL
    ``lambda df: df.groupBy(*groups, "bucket").agg(F.max("reg").alias("reg"))``
    — merging MUST be algebra-exact (it is, for all three sketches),
    because estimates read the compacted log through the same fold.

    Replay interaction (r11, ADVICE r10): folded tags are recorded in
    the folded-tags sidecar INSIDE the compaction transaction
    (:func:`~ralf_spark.layout.compact_tiered`), and the append callbacks
    ignore a replayed tag already folded — without the guard, a
    checkpoint rollback replaying a pre-compaction batch would recreate
    its partition and the CMS counter sums would double-count (HLL/KMV
    are immune by algebra). Keep ``keep_last`` at or above the number of
    batches a retry can have in flight (1 for foreachBatch)."""
    return compact_tiered(
        spark, path, keep_last=keep_last, tiered=False, record_folds=True,
        transform=merge,
    )


def read_bucketed_state(spark: SparkSession, path: str) -> DataFrame:
    """Read a fold sink's state table (moments, EWMA, decayed sum) with
    the layout columns (bucket partition + per-bucket batch stamp)
    projected away. Also accepts an unbucketed table (drops whatever
    layout columns are present), recovering a publish of the unbucketed
    layout that a crash cut between its renames."""
    connectors._recover_staged_publish(spark, path)
    df = spark.read.parquet(path)
    drop = [
        c for c in (STATE_BUCKET_COL, LAST_BATCH_COL) if c in df.columns
    ]
    return df.drop(*drop)


def foreach_batch_moments_upsert(
    df: DataFrame,
    path: str,
    key: str,
    value_col: str,
    buckets: int | None = None,
) -> DataStreamWriter:
    """Maintain a persisted per-key (n, mean, M2) moments state table from
    a stream — incremental mean/variance features without reprocessing
    history (``operators/moments.py``: each micro-batch reduces map-side
    to one summary row per key, then one full-outer merge join against
    the state, published by ``connectors._staged_overwrite``).

    NOTE: unlike latest-per-key upserts, the moments merge is NOT
    idempotent under replay (a re-applied batch double-counts);
    exactly-once here relies on the checkpointed batch id — skip batches
    whose id is not greater than the last applied, recorded IN the state
    table (``LAST_BATCH_COL``, every row stamped) so data and marker
    commit together in ``_staged_overwrite``'s rename publish; a crash
    between its renames is rolled forward from the complete staging copy
    (or back to the retired one) by the next read. On object stores
    (S3A) the directory rename is a file-by-file copy, so the publish is
    not atomic there (see ``LAST_BATCH_COL``).
    ``buckets=N``: hash-bucketed state layout — per-batch cost ∝ touched
    buckets, not key count, with the marker (and replay skip) per bucket
    (see :func:`_bucketed_fold_upsert`)."""

    return df.writeStream.foreachBatch(
        moments_upsert_batch(path, key, value_col, buckets)
    )


def moments_upsert_batch(
    path: str, key: str, value_col: str, buckets: int | None = None
):
    """The foreachBatch callback behind
    :func:`foreach_batch_moments_upsert`, exposed for direct use/testing:
    ``(batch_df, batch_id) -> None``, folding the batch into the state
    unless ``batch_id`` was already applied."""
    from ralf_spark.operators.moments import batch_moments, merge_moments

    return _fold_upsert_batch(
        path, [key],
        lambda b: batch_moments(b, key, value_col),
        init=lambda s: s,
        merge=lambda cur, bat: merge_moments(cur, bat, key),
        buckets=buckets,
    )


def foreach_batch_ewma_upsert(
    df: DataFrame,
    path: str,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    tiebreak_col: str | None = None,
    buckets: int | None = None,
) -> DataStreamWriter:
    """Maintain a persisted per-key EWMA state table from a stream —
    the decayed feature the reference's actors fold per record, per
    micro-batch: each batch's per-key value sequence (event-time order)
    folds onto the STORED smoothed value as its seed (``new_state =
    alpha-fold(batch, seed=old_state)`` — EWMA is incremental by
    construction, see ``operators.moments.ewma_per_key``), so history is
    never reprocessed and state is one (n, ewma) row per key.

    Like the moments sink, the fold is NOT idempotent under replay; the
    checkpointed batch id is recorded IN the state table
    (``LAST_BATCH_COL``) so the skip-marker commits atomically with the
    state data in one directory swap, on any filesystem (VERDICT r6 #4 —
    this replaced the r5/r6 driver-local ``.__last_batch__`` file and its
    non-atomic/local-path caveats). Batch boundaries must respect
    event-time order per key (the per-key FIFO contract shared by every
    stateful operator here)."""

    return df.writeStream.foreachBatch(
        ewma_upsert_batch(
            path, key, ts_col, value_col, alpha, tiebreak_col, buckets
        )
    )


def ewma_upsert_batch(
    path: str,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    tiebreak_col: str | None = None,
    buckets: int | None = None,
):
    """The foreachBatch callback behind :func:`foreach_batch_ewma_upsert`,
    exposed for direct use/testing: ``(batch_df, batch_id) -> None``."""
    step = lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc  # noqa: E731
    # fresh keys: the first value seeds the fold over the tail
    # (s_1 = x_1); seen keys: the stored smoothed value seeds the
    # fold over the WHOLE batch sequence
    fresh_fold = F.aggregate(
        F.slice(
            "_vals", F.lit(2), F.greatest(F.size("_vals") - 1, F.lit(0))
        ),
        F.element_at("_vals", 1).cast("double"),
        step,
    )
    seeded_fold = F.aggregate(
        F.col("_vals"), F.col("ewma").cast("double"), step
    )

    def summarize(batch_df: DataFrame) -> DataFrame:
        order = [F.col(ts_col)]
        if tiebreak_col is not None:
            order.append(F.col(tiebreak_col))
        entry = F.struct(*order, F.col(value_col).alias("_x"))
        vals = F.transform(
            F.array_sort(F.collect_list(entry)), lambda e: e["_x"]
        )
        return batch_df.groupBy(key).agg(
            F.count(F.lit(1)).alias("_bn"), vals.alias("_vals")
        )

    def init(summary: DataFrame) -> DataFrame:
        return summary.select(
            F.col(key),
            F.col("_bn").alias("n_events"),
            fresh_fold.alias("ewma"),
        )

    def merge(current: DataFrame, summary: DataFrame) -> DataFrame:
        return current.join(summary, key, "full_outer").select(
            F.col(key),
            (
                F.coalesce(F.col("n_events"), F.lit(0))
                + F.coalesce(F.col("_bn"), F.lit(0))
            ).alias("n_events"),
            F.when(F.col("_vals").isNull(), F.col("ewma"))
            .when(F.col("ewma").isNull(), fresh_fold)
            .otherwise(seeded_fold)
            .alias("ewma"),
        )

    return _fold_upsert_batch(path, [key], summarize, init, merge, buckets)


#: state-store provider aliases for ``run_bounded(state_store=...)``
STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def foreach_batch_decayed_upsert(
    df: DataFrame,
    path: str,
    key: str,
    ts_col: str,
    value_col: str,
    half_life_s: float,
    tiebreak_col: str | None = None,
    buckets: int | None = None,
) -> DataStreamWriter:
    """Maintain a persisted per-key continuous-time decayed sum from a
    stream — the streaming twin of ``operators.moments.time_decayed_sum``
    (half-life decay over irregular event gaps). Incremental by
    construction: the stored (decayed_sum, last_ts_us) seeds each batch's
    fold, the first batch event decaying the STORED mass by its gap to
    the stored timestamp — so history is never reprocessed and state is
    one (n, s, t) row per key. Same in-table replayed-batch-id marker
    (``LAST_BATCH_COL``, atomic with the state write) as the EWMA sink
    above; batch boundaries must respect event-time order per key."""

    return df.writeStream.foreachBatch(
        decayed_upsert_batch(
            path, key, ts_col, value_col, half_life_s, tiebreak_col, buckets
        )
    )


def decayed_upsert_batch(
    path: str,
    key: str,
    ts_col: str,
    value_col: str,
    half_life_s: float,
    tiebreak_col: str | None = None,
    buckets: int | None = None,
):
    """The foreachBatch callback behind
    :func:`foreach_batch_decayed_upsert`, exposed for direct use/testing:
    ``(batch_df, batch_id) -> None``."""
    if half_life_s <= 0:
        raise ValueError("half_life_s must be positive")
    hl_us = float(half_life_s) * 1e6

    def step(acc, e):
        return F.struct(
            e["_us"].alias("t"),
            (
                e["_x"]
                + F.pow(F.lit(0.5), (e["_us"] - acc["t"]) / F.lit(hl_us))
                * acc["s"]
            ).alias("s"),
        )

    first = F.element_at("_es", 1)
    tail = F.slice(
        "_es", F.lit(2), F.greatest(F.size("_es") - 1, F.lit(0))
    )
    # fresh keys: first event seeds the fold over the tail;
    # seen keys: the STORED (t, s) seeds the fold over the whole batch
    fresh = F.aggregate(
        tail,
        F.struct(first["_us"].alias("t"), first["_x"].alias("s")),
        step,
    )
    seeded = F.aggregate(
        F.col("_es"),
        F.struct(
            F.col("last_ts_us").alias("t"),
            F.col("decayed_sum").alias("s"),
        ),
        step,
    )

    def summarize(batch_df: DataFrame) -> DataFrame:
        from ralf_spark.functions.timeutil import epoch_us

        order = [epoch_us(batch_df, ts_col).alias("_us")]
        if tiebreak_col is not None:
            order.append(F.col(tiebreak_col))
        entry = F.struct(
            *order, F.col(value_col).cast("double").alias("_x")
        )
        return batch_df.groupBy(key).agg(
            F.count(F.lit(1)).alias("_bn"),
            F.array_sort(F.collect_list(entry)).alias("_es"),
        )

    def init(summary: DataFrame) -> DataFrame:
        return summary.select(
            F.col(key),
            F.col("_bn").alias("n_events"),
            fresh["s"].alias("decayed_sum"),
            fresh["t"].alias("last_ts_us"),
        )

    def merge(current: DataFrame, summary: DataFrame) -> DataFrame:
        return (
            current.join(summary, key, "full_outer")
            .withColumn(
                "_new",
                F.when(F.col("_es").isNull(), F.lit(None))
                .when(F.col("decayed_sum").isNull(), fresh)
                .otherwise(seeded),
            )
            .select(
                F.col(key),
                (
                    F.coalesce(F.col("n_events"), F.lit(0))
                    + F.coalesce(F.col("_bn"), F.lit(0))
                ).alias("n_events"),
                F.coalesce(
                    F.col("_new")["s"], F.col("decayed_sum")
                ).alias("decayed_sum"),
                F.coalesce(
                    F.col("_new")["t"], F.col("last_ts_us")
                ).alias("last_ts_us"),
            )
        )

    return _fold_upsert_batch(path, [key], summarize, init, merge, buckets)


def foreach_batch_enriched_write(
    df: DataFrame,
    dim_path: str,
    on: str | list[str],
    out_path: str,
    how: str = "left",
) -> DataStreamWriter:
    """Stream enrichment with WITHIN-RUN dim refresh (r7): each
    micro-batch re-reads the dimension table from ``dim_path`` (listing
    refreshed via ``refreshByPath`` + a fresh DataFrame, so an
    overwritten dim is picked up by the NEXT batch of the SAME running
    query — the reference's mutable-state join at micro-batch
    granularity, one step finer than the stream-static join's
    at-restart refresh in ``streaming_enrichment_join``), broadcast-joins
    the batch, and appends the enriched rows to ``out_path`` under a
    ``_batch=<id>`` partition — dynamic overwrite makes a replayed batch
    rewrite itself (exactly-once, same regime as the index sinks).

    The per-batch dim read is the price of freshness: at scale the dim
    is small-by-contract (it is broadcast), so the re-read is a metadata
    round + one small scan per trigger."""

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        spark.catalog.refreshByPath(dim_path)
        dim = spark.read.parquet(dim_path)
        write_batch(
            batch_df.join(F.broadcast(dim), on, how), out_path, f"b{batch_id}"
        )

    return df.writeStream.foreachBatch(enrich)


def foreach_batch_quality_log(
    df: DataFrame,
    rules,
    out_path: str,
) -> DataStreamWriter:
    """Live data-quality monitoring (r7): evaluate the declarative
    constraint set (``operators.quality.check_constraints`` — ONE
    aggregation pass per micro-batch) on every batch and append the
    verdicts ``(rule, passed, measured, threshold)`` under a
    ``_batch=<id>`` partition — the per-window quality log an alerting
    job tails, with the usual dynamic-overwrite exactly-once replay
    semantics. The stream itself is not modified; pair with a normal
    data sink on the same input for quarantine-style routing."""

    def log(batch_df: DataFrame, batch_id: int) -> None:
        from ralf_spark.operators.quality import check_constraints

        if not batch_df.take(1):
            return
        write_batch(
            check_constraints(batch_df, rules), out_path, f"b{batch_id}"
        )

    return df.writeStream.foreachBatch(log)


def foreach_batch_ivf_add(
    df: DataFrame,
    index,
    key: str,
    tag_prefix: str = "b",
    writer_id: str | None = None,
) -> DataStreamWriter:
    """Streaming embedding ingest (r7): fold each micro-batch of vectors
    into a persistent :class:`~ralf_spark.operators.similarity.IvfIndex`
    — the crawl-loop regime for the ANN side, mirroring
    :func:`foreach_batch_index_add` for the dedup index.

    Each batch pays O(|batch|) assignment against the FROZEN quantizer
    plus one partitioned write into the touched cells; the index is
    queryable between batches (readers see committed cell files).
    Exactly-once under replay: the checkpointed ``batch_id`` becomes the
    ``_batch`` partition tag and a replayed micro-batch dynamically
    overwrites its own ``(cell, _batch)`` directories — assignment is
    deterministic, so the rewrite is idempotent and vectors are never
    duplicated (asserted in tests: forced double-delivery leaves the
    index equal to the single-delivery build). Multi-stream ingest into
    one shared index: distinct ``tag_prefix``/``writer_id`` per stream
    + a ``concurrent_adds=True`` handle (see
    :func:`foreach_batch_index_add`)."""

    def add(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        index.add(
            FeatureTable(batch_df, key=key),
            batch_tag=f"{tag_prefix}{batch_id}",
            writer_id=writer_id,
        )

    return df.writeStream.foreachBatch(add)


def _has_processing_time_timer(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan contains a stateful
    apply-with-state operator armed with a PROCESSING-time timeout —
    the combination that never terminates under ``availableNow``.

    Plan-level, so it sees through any stack of non-stateful transforms
    above the operator. Analysis is idempotent and cached on the
    DataFrame, and the query would be analyzed at ``start()`` anyway."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # non-JVM frame (mocks); fall back to the marker
        return bool(getattr(df, "_ralf_processing_time_timeout", False))
    return any(
        "FlatMapGroups" in line and "ProcessingTimeTimeout" in line
        for line in plan.splitlines()
    )


def run_bounded(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
) -> StreamingQuery:
    """Drain all currently-available input then stop — the deterministic
    bounded-run mode (the reference's ``StopIteration`` termination,
    ``ralf/v2/operator.py:153-175``, as a trigger).

    ``shuffle_partitions`` sizes the run's state-store count: a stateful
    operator creates one store per shuffle partition, fixed at first start
    (baked into the checkpoint), and per-store setup cost dominates small
    bounded replays. Spark has no per-query conf, so the value is applied
    to the session for the duration of the run and restored after —
    queries *planned concurrently* in the same session would see it; a
    production job instead sizes the conf at submit for its real key
    cardinality.

    ``state_store`` picks the state-store backend the same way:
    ``"rocksdb"`` (off-heap, disk-spilling — the scale path: the default
    HDFS-backed store keeps every key's state as JVM heap objects and
    becomes the streaming scale limiter at real key cardinality) or
    ``"hdfs"`` (the default in-heap provider), mirroring the reference's
    pluggable state connectors (``ralf/v2/connector.py:7-38``). Like the
    partition count, the provider is baked into the checkpoint at first
    start — restarting an existing checkpoint with a different provider
    is rejected by Spark, so pick it before first deploy.
    """
    # A registered processing-time timer keeps an availableNow run
    # scheduling timer-check micro-batches instead of terminating
    # (observed on Spark 4.1) — refuse the combination up front rather
    # than hang in awaitTermination. Detected from the ANALYZED plan
    # (ADVICE r6): any FlatMapGroups[InPandas]WithState node carries its
    # timeout conf in its argString, so the check survives arbitrary
    # wrapping transforms (select/filter/withColumn), unlike the old
    # best-effort attribute marker on the exact returned DataFrame.
    df = getattr(writer, "_df", None)
    if df is not None and _has_processing_time_timer(df):
        raise ValueError(
            "run_bounded (availableNow) cannot drain a stream with an "
            "idle-TTL processing-time timer: the run never terminates. "
            "Use a continuous trigger for TTL'd operators, or drop "
            "idle_ttl for bounded replays (state dies with the run "
            "anyway)."
        )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)

    def _start() -> StreamingQuery:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q

    confs: dict[str, str] = {}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if state_store is not None:
        try:
            provider = STATE_STORE_PROVIDERS[state_store]
        except KeyError:
            raise ValueError(
                f"unknown state_store {state_store!r}; "
                f"one of {sorted(STATE_STORE_PROVIDERS)}"
            ) from None
        confs["spark.sql.streaming.stateStore.providerClass"] = provider
    if not confs:
        return _start()
    spark = SparkSession.getActiveSession()
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return _start()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def foreach_batch_index_add(
    df: DataFrame,
    index,
    pairs_path: str,
    key: str,
    threshold: float = 0.5,
    text_col: str = "text",
    auto_maintain: int | None = None,
    tag_prefix: str = "b",
    writer_id: str | None = None,
) -> DataStreamWriter:
    """Streaming incremental near-dedup: fold each micro-batch of
    documents into a persistent :class:`~ralf_spark.operators.dedup.
    MinHashIndex` and append the batch's near-dup pairs (vs everything
    indexed so far AND within the batch) to ``pairs_path`` — the streaming
    spelling of the crawl-loop dedup round.

    Each batch pays O(|batch|) hashing plus one bucket equi-join against
    the stored index; because banding is deterministic and every pair is
    emitted exactly when its LATER member arrives, the union of all
    batches' pairs equals the one-shot ``index.add(everything)`` pair set
    regardless of how the stream is micro-batched (asserted in tests).

    Exactly-once under replay WITHOUT a transactional table format: both
    the index fold and the pair append are keyed by the checkpointed
    ``batch_id`` as a ``_batch`` partition and written with DYNAMIC
    partition overwrite, so a replayed micro-batch rewrites its own
    partitions in place — never duplicate signature/bucket rows in the
    index, never duplicate pair rows at ``pairs_path`` (ADVICE r4). The
    per-batch cached projections are released after the pair write.

    The pairs LOG self-compacts too (r11, same cadence as the index and
    sketch logs it sits between): past ``auto_maintain`` accumulated
    ``_batch`` partitions, all but the newest fold into one compacted
    partition (plain concatenation — pair rows need no merge), with the
    folded tags recorded in the compacted-tags sidecar inside the
    transaction. A checkpoint rollback replaying a FOLDED tag is a
    no-op (its pairs already live in the compacted partition and the
    index fold is idempotent anyway); keep_last=1 keeps the newest tag
    replayable in place. ``auto_maintain=0`` disables.

    MULTI-STREAM ingest (r14): N crawl workers each running this sink
    against ONE shared index need writer-unique tags — every stream's
    checkpoint counts batch ids from 0, so without a distinct
    ``tag_prefix`` per stream the second worker's ``b0`` would
    dynamically overwrite the first's. Give each stream its own
    ``tag_prefix`` (e.g. ``"w3-"``) and ``writer_id``, open the index
    handle with ``concurrent_adds=True`` (tag-scoped leases), point
    each stream at its own ``pairs_path`` (or share one with
    ``auto_maintain=0`` and let the coordinator compact), and the
    folds commute exactly as in the batch multi-writer contract.
    """
    return df.writeStream.foreachBatch(
        _index_log_batch(
            pairs_path,
            lambda table, tag: index.add(
                table, text_col=text_col, threshold=threshold,
                batch_tag=tag, writer_id=writer_id,
            ),
            key, tag_prefix, auto_maintain,
        )
    )


def _index_log_batch(
    log_path: str, add, key: str, tag_prefix: str, auto_maintain: int | None
):
    """foreachBatch callback of the streaming index sinks: fold the
    micro-batch into the index with ``add(table, tag)`` and append the
    rows it returns to ``log_path`` under the same ``_batch`` tag
    (dynamic overwrite: a replay rewrites itself). A tag the log's
    compaction already folded is skipped, and the log self-compacts past
    ``auto_maintain`` partitions (default
    :data:`~ralf_spark.layout.AUTO_MAINTAIN_BATCHES`; 0 disables)."""
    from ralf_spark.operators.util import unpersist_cached

    if auto_maintain is None:
        auto_maintain = AUTO_MAINTAIN_BATCHES

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        tag = f"{tag_prefix}{batch_id}"
        if tag in folded_tags(spark, log_path):
            return  # replay of a tag already folded into the compacted log
        out = add(FeatureTable(batch_df, key=key), tag)
        write_batch(out, log_path, tag)
        unpersist_cached(out)
        auto_compact_log(spark, log_path, auto_maintain)

    return fold


def foreach_batch_gram_decontaminate(
    df: DataFrame,
    index,
    out_path: str,
    key: str,
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming span-level DECONTAMINATION (r12): each micro-batch of
    training documents is checked READ-ONLY against a fixed eval-set
    :class:`~ralf_spark.operators.dedup.GramIndex` (``index.check`` —
    within-batch repeats don't count, strictly cross-corpus) and written
    to ``out_path`` with the leaked spans CUT — the streaming spelling
    of ``remove_contaminated_spans``, for the crawl loop that cleans
    data against benchmarks as it lands.

    The eval store is never written (concurrent streams can share it);
    the cleaned output is keyed by the checkpointed batch id as a
    ``_batch`` partition with dynamic overwrite, so a replayed batch
    rewrites itself (exactly-once), and the final table is
    batch-decomposition-invariant: the eval store is FIXED, so cleaning
    per batch equals cleaning the whole corpus at once (the registry
    gate pins this against the one-shot oracle). Output columns:
    (doc_id, clean_text, n_kept, n_removed)."""

    def clean(batch_df: DataFrame, batch_id: int) -> None:
        from ralf_spark.operators.dedup import _cut_spans
        from ralf_spark.operators.util import unpersist_cached

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        connectors.acquire_writer_lease(spark, out_path)  # the OUTPUT only
        spans = index.check(
            FeatureTable(batch_df, key=key), text_col=text_col
        )
        # cut with the INDEX's tokenizer mode (r13): span positions are
        # indexes into that tokenizer's stream
        cleaned = _cut_spans(
            batch_df, key, text_col, spans,
            getattr(index, "token_mode", "ascii"),
        )
        write_batch(cleaned, out_path, f"b{batch_id}")
        unpersist_cached(spans)

    return df.writeStream.foreachBatch(clean)


def foreach_batch_minhash_screen(
    df: DataFrame,
    index,
    out_path: str,
    key: str,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataStreamWriter:
    """Streaming near-dup SCREENING (r13): each micro-batch of incoming
    documents is checked READ-ONLY against a fixed corpus
    :class:`~ralf_spark.operators.dedup.MinHashIndex`
    (``index.check`` — cross pairs only: the batch's internal repeats
    don't count when screening against a fixed corpus) and the flagged
    pairs are written to ``out_path`` — the streaming spelling of the
    serving check, the near-dup sibling of
    :func:`foreach_batch_gram_decontaminate`, for the crawl loop that
    flags incoming near-dups of an already-curated corpus as they land.

    The corpus store is never written (concurrent screening streams can
    share it); output pairs land keyed by the checkpointed batch id as
    a ``_batch`` partition with dynamic overwrite, so a replayed batch
    rewrites itself (exactly-once), and the final pair table is
    batch-decomposition-invariant: the store is FIXED, so screening per
    batch equals screening the whole stream at once (the registry gate
    pins this against the one-shot cross-pairs oracle). Output columns:
    (id1, id2, est_jaccard)."""

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        from ralf_spark.operators.util import unpersist_cached

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        connectors.acquire_writer_lease(spark, out_path)  # the OUTPUT only
        pairs = index.check(
            FeatureTable(batch_df, key=key),
            text_col=text_col,
            threshold=threshold,
        )
        write_batch(pairs, out_path, f"b{batch_id}")
        unpersist_cached(pairs)

    return df.writeStream.foreachBatch(screen)


def foreach_batch_gram_dedup(
    df: DataFrame,
    index,
    spans_path: str,
    key: str,
    text_col: str = "text",
    auto_maintain: int | None = None,
    tag_prefix: str = "b",
    writer_id: str | None = None,
) -> DataStreamWriter:
    """Streaming incremental EXACT-SUBSTRING dedup: fold each micro-batch
    of documents into a persistent :class:`~ralf_spark.operators.dedup.
    GramIndex` and append the batch's duplicated spans (vs everything
    indexed so far AND within the batch) to ``spans_path`` — the
    streaming spelling of the Lee et al. 2022 crawl-loop round, the
    ExactSubstr sibling of :func:`foreach_batch_index_add` (whose
    multi-stream ``tag_prefix``/``writer_id`` contract applies here
    unchanged).

    Contract: spans are emitted for the LATER copy at its arrival batch
    (the crawl-loop shape — incoming data is cleaned against everything
    seen; an earlier-ingested copy is not retro-flagged). So the log
    after batch k holds exactly ∪ᵢ≤ₖ spans(batches 1..i | batch i) —
    pinned against the batch detector per step in tests — and each batch
    pays O(|batch|) hashing plus one digest-store scan (SCALEPROBE:
    shuffle byte-identical across 48× store growth).

    Exactly-once under replay: both the digest fold and the span append
    are keyed by the checkpointed ``batch_id`` as a ``_batch`` partition
    with dynamic overwrite (a replayed batch rewrites itself), and tags
    already folded into the compacted log are skipped via the
    compacted-tags sidecar. The spans log self-compacts past
    ``auto_maintain`` batch partitions (tiered, transaction-recorded —
    identical discipline to the pairs log); ``auto_maintain=0``
    disables."""
    return df.writeStream.foreachBatch(
        _index_log_batch(
            spans_path,
            lambda table, tag: index.add(
                table, text_col=text_col, batch_tag=tag, writer_id=writer_id
            ),
            key, tag_prefix, auto_maintain,
        )
    )
