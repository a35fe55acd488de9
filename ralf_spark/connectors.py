"""State connectors (SURVEY.md §2.1 S8/S9): persist + query latest-per-key
feature state.

The reference ships Dict / SQLite / Redis connectors x2 generations with an
update/point/bulk/delete/count contract (``ralf/state/connector.py:7-30``,
``ralf/state/dict_connector.py:7-39``, ``ralf/state/sqlite_connector.py:
19-72``, ``ralf/v2/connectors/*``). Batch-engine equivalents:

- ``MemoryConnector`` — the DictConnector analog: a session temp view.
- ``ParquetStateConnector`` — the scale path: key-bucketed parquet layout
  (``bucket = pmod(xxhash64(key), n)`` directory partitioning) so a point
  query prunes to 1/n of the files instead of scanning the state table.
  At 100 TB of *state* this is the only connector that matters.
- ``SqliteStateConnector`` — the SQLiteConnector analog. Deliberately
  driver-side (python sqlite3 over ``toLocalIterator``): a latest-per-key
  state table is bounded by key cardinality, and the reference's SQLite
  connector is single-node by construction; a cluster deployment would
  swap in the JDBC writer with a server database (same interface).

All connectors store *state tables* (the output of ``FeatureTable.latest()``)
— not raw event streams.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Sequence
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ralf_spark.functions.timeutil import epoch_us_expr, ntz_from_epoch_us
from ralf_spark.table import FeatureTable


class _JvmHandles(NamedTuple):
    Path: Any  # org.apache.hadoop.fs.Path
    IOUtils: Any  # org.apache.commons.io.IOUtils
    conf: Any  # the context's hadoopConfiguration()


#: (JavaSparkContext, its handles) of the context last seen
_JVM_HANDLES: tuple[Any, _JvmHandles] | None = None


def _jvm_handles(spark: SparkSession) -> _JvmHandles:
    """The JVM handles the filesystem helpers use, resolved once per
    live SparkContext: each ``spark._jvm.org.apache...`` lookup is one
    py4j round trip per package segment. The cache is keyed on the
    context's ``JavaSparkContext`` object and holds it, so a session
    stopped and started again, whose new context is another object,
    never reuses a dead context's Configuration."""
    global _JVM_HANDLES
    jsc = spark._jsc  # type: ignore[attr-defined]
    if _JVM_HANDLES is None or _JVM_HANDLES[0] is not jsc:
        jvm = spark._jvm  # type: ignore[attr-defined]
        _JVM_HANDLES = (jsc, _JvmHandles(
            jvm.org.apache.hadoop.fs.Path,
            jvm.org.apache.commons.io.IOUtils,
            jsc.hadoopConfiguration(),
        ))
    return _JVM_HANDLES[1]


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — works on any
    configured filesystem (local, HDFS, S3A), unlike ``os.path``."""
    jvm = _jvm_handles(spark)
    jpath = jvm.Path(path)
    return jpath.getFileSystem(jvm.conf), jpath


#: sibling directories of a staged publish (:func:`_staged_overwrite`):
#: the new state is written to ``<path>.__staging__``; the old one is
#: parked at ``<path>.__retired__`` between the two publish renames.
STAGING_SUFFIX = ".__staging__"
RETIRED_SUFFIX = ".__retired__"


def _publish_paths(spark: SparkSession, path: str):
    """(FileSystem, path, staging, retired) Hadoop paths of a staged
    publish onto ``path``."""
    fs, jpath = _hadoop_fs(spark, path)
    Path = _jvm_handles(spark).Path
    base = path.rstrip("/")
    return (
        fs, jpath, Path(base + STAGING_SUFFIX), Path(base + RETIRED_SUFFIX)
    )


def _rename(fs, src, dst) -> None:
    """``FileSystem.rename`` that raises instead of returning false."""
    if not fs.rename(src, dst):
        raise IOError(f"rename {src} -> {dst} failed")


def _recover_staged_publish(spark: SparkSession, path: str) -> bool:
    """Finish or undo a staged publish that a crash cut between its two
    renames, and return whether ``path`` exists afterwards.

    Only a missing ``path`` is repaired: it rolls forward from a staging
    directory holding ``_SUCCESS`` (the new state was fully written), or
    else rolls back from ``__retired__`` (the old state). So a crash
    mid-publish reads as the pre- or post-crash state, never as "no
    state". A present ``path`` is left alone; a stale staging or retired
    sibling next to it is cleared by the next publish."""
    fs, jpath, jstage, jretired = _publish_paths(spark, path)
    if fs.exists(jpath):
        return True
    if fs.exists(_jvm_handles(spark).Path(jstage, "_SUCCESS")):
        _rename(fs, jstage, jpath)
        fs.delete(jretired, True)
        return True
    if fs.exists(jretired):
        _rename(fs, jretired, jpath)
        return True
    return False


def _try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Read parquet state if it exists on the table's (possibly remote)
    filesystem, else None. os.path.exists would be a driver-local check
    that silently discards remote state (ADVICE r2). An interrupted
    staged publish is recovered first (:func:`_recover_staged_publish`)."""
    if not _recover_staged_publish(spark, path):
        return None
    return spark.read.parquet(path)


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Recursive listing of the parquet data files under ``path`` (empty if
    the directory is missing). Reading an EXPLICIT file list instead of the
    directory freezes the snapshot at list time: a subsequent append/
    overwrite of the directory can never be re-resolved into the plan
    (directory reads snapshot only as long as Spark's InMemoryFileIndex
    listing cache survives — an undocumented invariant; ADVICE r4)."""
    return [f for f, _ in _list_parquet_files_sized(spark, path)]


def _list_parquet_files_sized(
    spark: SparkSession, path: str
) -> list[tuple[str, int]]:
    """:func:`_list_parquet_files` plus each file's on-disk byte length —
    free metadata from the same driver-side listing (r14): callers that
    gate a plan shape on store size (broadcast-vs-shuffle, small-store
    shortcuts) read it here instead of paying a count job."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().endswith(".parquet"):
            continue
        # skip hidden subtrees (r14): an IN-FLIGHT write's task-attempt
        # files live under _temporary/ (or .spark-staging-*) and are
        # named part-*.parquet too — a concurrent adder's snapshot must
        # never catch a peer's uncommitted attempt (the files vanish at
        # its commit rename and the plan would die on the missing path).
        # Partition directories (_batch=<tag>, bucket=<n>) contain '='
        # and are NOT hidden.
        segs = p.toString().split("/")
        if any(
            s == "_temporary" or s.startswith(".spark-staging")
            for s in segs[:-1]
        ):
            continue
        out.append((p.toString(), int(st.getLen())))
    return out


def read_json_sidecar(spark: SparkSession, path: str) -> dict:
    """Read a small JSON sidecar through the Hadoop FS API (works on any
    configured filesystem). py4j passes byte arrays one-way, so the bytes
    are decoded JVM-side via commons-io (ships with Spark)."""
    import json

    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        text = _jvm_handles(spark).IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def write_json_sidecar(spark: SparkSession, path: str, payload: dict) -> None:
    """Write (overwrite) a small JSON sidecar through the Hadoop FS API."""
    import json

    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def read_parquet_sidecar(
    spark: SparkSession, path: str
) -> list[dict] | None:
    """Driver-side read of a SMALL parquet sidecar directory (config
    pins, centroids, codebooks, quantizer bounds — KBs, not data)
    through the Hadoop FS API + pyarrow: no Spark job. The Spark
    spelling (``spark.read.parquet(path).collect()``) pays scheduler +
    listing + a task round-trip (~0.3–2 s) to move a handful of rows the
    driver already needs locally (guide §5: driver-side small state
    belongs on the driver). Works on any configured filesystem — the
    bytes travel through the same ``FileSystem.open`` stream the JSON
    sidecars use.

    Returns ``None`` if ``path`` does not exist, ``[]`` if it exists but
    holds no committed non-empty ``part-*`` file (a crashed writer's
    empty/partial directory — callers treat it as absent), else the
    concatenated rows of every committed part file (filename order) as
    plain dicts. A committed-but-unparseable file RAISES — silently
    rewriting a config pin on corruption is the exact failure the
    sidecars exist to prevent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    committed = sorted(
        (
            st.getPath()
            for st in fs.listStatus(jpath)
            if st.getPath().getName().startswith("part-")
            and st.getLen() > 0
        ),
        key=lambda p: p.getName(),
    )
    if not committed:
        return []
    io_utils = _jvm_handles(spark).IOUtils
    rows: list[dict] = []
    for jfile in committed:
        stream = fs.open(jfile)
        try:
            buf = bytes(io_utils.toByteArray(stream))
        finally:
            stream.close()
        rows.extend(pq.read_table(pa.BufferReader(buf)).to_pylist())
    return rows


def write_parquet_sidecar(
    spark: SparkSession, path: str, rows: list[tuple], schema_ddl: str
) -> None:
    """Overwrite ``path`` with a one-file parquet sidecar written
    DRIVER-side (pyarrow → ``FileSystem.create``): the Spark spelling
    (``createDataFrame(...).coalesce(1).write``) pays a job plus the
    commit protocol for rows that already live on the driver. The
    on-disk layout matches Spark's — a directory holding one
    ``part-*.snappy.parquet`` plus ``_SUCCESS`` — so every existing
    reader (``spark.read.parquet``, the committed-``part-`` checks, and
    :func:`read_parquet_sidecar`) keeps working on both old and new
    stores. The data file is staged under a dot-prefixed name and
    RENAMED into place: a crash mid-write leaves no committed part file,
    preserving the crashed-writer ≡ absent semantics of the Spark
    committer.

    ``schema_ddl`` is the same Spark DDL string ``createDataFrame``
    took (``"name type, ..."`` with string/int/bigint/boolean/double
    fields) — kept in that spelling so the pinned schemas read
    identically at both call sites."""
    import pyarrow as pa

    _ARROW_TYPES = {
        "string": pa.string(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "boolean": pa.bool_(),
        "double": pa.float64(),
        "array<double>": pa.list_(pa.float64()),
    }
    # split on TOP-LEVEL commas only (angle-bracket depth aware), so a
    # future nested type fails on the explicit check below instead of
    # producing a garbled field list (ADVICE r15 low); unsupported types
    # raise by name with the supported set — this writer is a deliberate
    # 7-type contract for KB-scale config pins, not a general DDL parser.
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(schema_ddl):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema_ddl[start:i])
            start = i + 1
    parts.append(schema_ddl[start:])
    fields = []
    for part in parts:
        name, typ = part.split(None, 1)
        typ = typ.strip().lower()
        if typ not in _ARROW_TYPES:
            raise ValueError(
                f"write_parquet_sidecar: unsupported sidecar field type "
                f"{typ!r} for field {name!r}; supported types: "
                f"{sorted(_ARROW_TYPES)} (sidecars are KB-scale config "
                "pins — extend _ARROW_TYPES deliberately if a new pin "
                "needs more)"
            )
        fields.append(pa.field(name, _ARROW_TYPES[typ]))
    table = pa.Table.from_pylist(
        [dict(zip([f.name for f in fields], r)) for r in rows],
        schema=pa.schema(fields),
    )
    fs, jpath = _hadoop_fs(spark, path)
    fs.delete(jpath, True)
    fs.mkdirs(jpath)
    _write_parquet_file(spark, path, "part-00000-ralf.snappy.parquet", table)
    fs.create(_jvm_handles(spark).Path(path, "_SUCCESS"), True).close()


def _write_parquet_file(
    spark: SparkSession, directory: str, name: str, table,
    use_dictionary: bool = True,
) -> None:
    """Write the Arrow ``table`` as the snappy parquet file ``name`` in
    ``directory`` (made if missing), driver-side through the Hadoop FS
    API: the bytes land under a hidden staged name, which Spark's
    readers and the committed-``part-`` checks skip, and are RENAMED
    into place. A writer killed before the rename leaves no committed
    file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(
        table, sink, compression="snappy", use_dictionary=use_dictionary
    )
    Path = _jvm_handles(spark).Path
    fs, _ = _hadoop_fs(spark, directory)
    jtmp = Path(directory, f".{name}.staged")
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(sink.getvalue().to_pybytes()))
    finally:
        out.close()
    _rename(fs, jtmp, Path(directory, name))


class ConcurrentWriterError(RuntimeError):
    """A second writer touched a single-writer state store (r12)."""


#: one writer identity per PROCESS: every handle/sink in this process is
#: "the same writer" (maintenance called from inside an add renews the
#: same lease), while a second process fails loudly. Tests pass an
#: explicit ``writer_id`` to simulate the foreign writer.
_PROCESS_WRITER_ID = __import__("uuid").uuid4().hex

#: the lease lives NEXT TO the store directory (``<path>.writer_lease``),
#: never inside it: an in-store sidecar would make an empty store look
#: non-empty to existence checks and be deleted by staged full rewrites.
WRITER_LEASE_SUFFIX = ".writer_lease.json"

#: store generation counter, also NEXT TO the store (r16, ADVICE r15
#: low): every destructive exclusive operation (rebuild, compaction
#: fold) bumps it at commit. A concurrent add records the epoch at its
#: announce and re-reads it inside the publish critical section — a
#: mismatch aborts the publish even when every lease involved has
#: expired or been released, closing the lease-only fence's residual
#: window (driver pause past TTL + exclusive op runs to completion →
#: root lease already released → the lease fence passes vacuously).
STORE_EPOCH_SUFFIX = ".store_epoch.json"


def read_store_epoch(spark: SparkSession, path: str) -> int:
    """Current store generation (0 for a store no exclusive op has ever
    rewritten). Raises on a committed-but-unparseable sidecar: a torn
    epoch must abort the publish that consults it, not pass it."""
    sidecar = path.rstrip("/") + STORE_EPOCH_SUFFIX
    fs, jpath = _hadoop_fs(spark, sidecar)
    if not fs.exists(jpath):
        return 0
    return int(read_json_sidecar(spark, sidecar).get("epoch", 0))


def bump_store_epoch(spark: SparkSession, path: str) -> int:
    """Advance the store generation — called by exclusive operations at
    the commit of a destructive rewrite (rebuild / compaction fold),
    while they still hold the store root lease (so bumps never race
    each other). Returns the new epoch."""
    new = read_store_epoch(spark, path) + 1
    write_json_sidecar(
        spark, path.rstrip("/") + STORE_EPOCH_SUFFIX, {"epoch": new}
    )
    return new


def check_store_epoch(
    spark: SparkSession, path: str, expect_epoch: int | None
) -> None:
    """Publish-fence half of the epoch protocol: a concurrent add
    records the epoch at announce and calls this inside its publish
    critical section — a bump in between means an exclusive op rewrote
    the store under the add (its announce lease must have lapsed), so
    the publish aborts instead of committing a duplicate partition into
    the rebuilt/compacted store. ``None`` (single-writer mode, where the
    root lease is held for the whole lifecycle) skips the check."""
    if expect_epoch is None:
        return
    cur = read_store_epoch(spark, path)
    if cur != expect_epoch:
        raise ConcurrentWriterError(
            f"state store {path}: store epoch advanced from "
            f"{expect_epoch} to {cur} while this add was in flight — an "
            "exclusive operation (rebuild/compaction) ran to completion "
            "meanwhile (this add's announce lease must have lapsed past "
            "its TTL). Refusing to publish the batch into the rewritten "
            "store; re-run the add."
        )

#: a crashed writer's lease expires after this long without a heartbeat
#: (every guarded write renews); a successor then steals it. Bound it
#: well above the longest micro-batch/maintenance cycle. Deployments
#: whose guarded builds/compactions run longer (the 100 TB regime)
#: size it to the workload via ``SPARK_GRAFT_LEASE_TTL_SEC`` or the
#: explicit ``ttl_sec`` argument — the module constant is only the
#: local-test default (ADVICE r12).
WRITER_LEASE_TTL_SEC = 300.0


def _lease_ttl(ttl_sec: float | None) -> float:
    """Resolve the lease TTL: explicit arg > env knob > module default."""
    import os

    if ttl_sec is not None:
        return ttl_sec
    env = os.environ.get("SPARK_GRAFT_LEASE_TTL_SEC")
    return float(env) if env else WRITER_LEASE_TTL_SEC


def acquire_writer_lease(
    spark: SparkSession,
    path: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
) -> str:
    """Acquire-or-renew the single-writer lease on state store ``path``,
    raising :class:`ConcurrentWriterError` if another live writer holds
    it (r12, VERDICT r11 #6).

    Every sink/index in this package documents single-writer
    exactly-once; before this lease, a second concurrent writer would
    silently corrupt the manifest/publish protocols (two interleaved
    stage-then-swap transactions). The lease is a heartbeat sidecar —
    ``{writer_id, heartbeat_unix}`` — checked and renewed at every
    guarded write:

    - foreign lease with a heartbeat younger than ``ttl_sec`` → raise;
    - foreign lease older than ``ttl_sec`` → the holder crashed without
      releasing: steal;
    - own (or no) lease → renew, then RE-READ and verify the sidecar
      still names this writer (the fencing read: if two writers raced
      the renewal, at least one observes the other and raises before
      its next store mutation).

    Best-effort by design (a filesystem sidecar cannot give mutual
    exclusion guarantees two racing processes can't violate for one
    batch) — the contract is FAIL LOUDLY instead of corrupting: any
    steady second writer is detected at its first heartbeat round-trip.
    Production deployments wanting hard guarantees point the state at a
    lakehouse format with optimistic concurrency; this is the parquet
    spelling's guard.
    """
    import time

    wid = writer_id or _PROCESS_WRITER_ID
    ttl = _lease_ttl(ttl_sec)
    sidecar = path.rstrip("/") + WRITER_LEASE_SUFFIX
    fs, jpath = _hadoop_fs(spark, sidecar)
    now = time.time()
    if fs.exists(jpath):
        try:
            held = read_json_sidecar(spark, sidecar)
        except Exception:
            held = None  # torn read: mid-renewal, or a writer crashed
            # between create-truncate and the JSON write. The embedded
            # heartbeat is unreadable, so expiry falls back to the
            # FILE's mtime — without this, a 0-byte lease would wedge
            # the store forever (no writer id ever matches, and the
            # heartbeat check can never expire).
        if held is None:
            try:
                mtime = fs.getFileStatus(jpath).getModificationTime() / 1e3
            except Exception:
                mtime = now  # raced a concurrent delete: treat as live
            if now - mtime < ttl:
                raise ConcurrentWriterError(
                    f"state store {path} has an unreadable writer lease "
                    f"modified {now - mtime:.0f}s ago (a writer is "
                    "mid-renewal, or crashed mid-write); refusing until "
                    f"it expires ({ttl:.0f}s since last touch)."
                )
        elif held.get("writer_id") != wid and (
            now - float(held.get("heartbeat_unix", 0.0)) < ttl
        ):
            raise ConcurrentWriterError(
                f"state store {path} is held by writer "
                f"{held.get('writer_id')!r} (heartbeat within "
                f"{ttl:.0f}s); refusing to write — a second concurrent "
                "writer would corrupt the single-writer publish "
                "protocol. Stop the other writer (clean handoff: it "
                "calls release_writer_lease), or wait for its lease to "
                "expire if it crashed."
            )
    write_json_sidecar(
        spark, sidecar, {"writer_id": wid, "heartbeat_unix": now}
    )
    check = read_json_sidecar(spark, sidecar)
    if check.get("writer_id") != wid:
        raise ConcurrentWriterError(
            f"state store {path}: writer {check.get('writer_id')!r} raced "
            "this lease renewal; backing off."
        )
    return wid


def verify_writer_lease(
    spark: SparkSession,
    path: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
) -> str:
    """Fencing read + heartbeat renewal at a guarded protocol's COMMIT
    point (r13, ADVICE r12): the start-of-operation
    :func:`acquire_writer_lease` alone leaves a window — a guarded
    build/add/compaction running longer than the TTL lets a second
    writer legitimately steal the lease mid-operation, and without a
    re-check before publish both writers interleave silently. Call this
    immediately before each irreversible step (manifest write, done
    marker, staged swap, dynamic-overwrite publish): it re-reads the
    sidecar, raises :class:`ConcurrentWriterError` if a live foreign
    writer now holds it (the fence — this writer's publish aborts before
    corrupting the thief's store), and otherwise renews the heartbeat so
    multi-step protocols keep the lease alive however long each step
    takes. Same best-effort contract as acquire: a filesystem sidecar
    cannot give hard mutual exclusion, so the promise is FAIL LOUDLY at
    the first heartbeat round-trip, not lock semantics."""
    try:
        return acquire_writer_lease(
            spark, path, writer_id=writer_id, ttl_sec=ttl_sec
        )
    except ConcurrentWriterError as e:
        raise ConcurrentWriterError(
            f"state store {path}: lease lost mid-operation — another "
            "writer took over after this operation started (it ran "
            "longer than the lease TTL, or raced this writer); aborting "
            "before the publish step to avoid interleaving with the new "
            "holder. Size SPARK_GRAFT_LEASE_TTL_SEC (or ttl_sec) above "
            f"the longest guarded operation. Original: {e}"
        ) from e


class _LeaseKeeper:
    """Background heartbeat for :func:`hold_writer_lease` — renews the
    sidecar every ``interval`` seconds from a daemon thread so a healthy
    writer whose guarded operation runs LONGER than the TTL never loses
    the lease to a legitimate steal mid-write (the fencing read would
    then abort it spuriously). py4j gateway calls are thread-safe (each
    thread gets its own connection). Renewal failures are remembered and
    re-raised at exit so a detected theft still fails the operation."""

    def __init__(self, spark, path, writer_id, ttl_sec, interval):
        import threading

        self._spark = spark
        self._path = path
        self._wid = writer_id
        self._ttl = ttl_sec
        self._stop = threading.Event()
        self._error: Exception | None = None
        self._thread = threading.Thread(
            target=self._run, args=(interval,), daemon=True,
            name=f"lease-keeper:{path}",
        )

    #: consecutive transient renewal failures tolerated before the keeper
    #: gives up (ADVICE r13: a single filesystem hiccup must not silently
    #: stop the heartbeat mid-write — the failure would only surface at
    #: block exit, after the guarded publish already ran)
    _TRANSIENT_RETRIES = 3

    def _run(self, interval: float) -> None:
        transient = 0
        while not self._stop.wait(interval):
            try:
                acquire_writer_lease(
                    self._spark, self._path,
                    writer_id=self._wid, ttl_sec=self._ttl,
                )
                transient = 0
            except ConcurrentWriterError as e:  # theft: unrecoverable
                self._error = e  # remember; the exit re-raises
                return
            except Exception as e:  # FS trouble: retry a bounded number
                transient += 1
                if transient > self._TRANSIENT_RETRIES:
                    self._error = e
                    return

    def check(self) -> None:
        if self._error is not None:
            raise self._error


from contextlib import contextmanager  # noqa: E402  (local to the lease API)


@contextmanager
def hold_writer_lease(
    spark: SparkSession,
    path: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
):
    """Acquire the single-writer lease on ``path`` and KEEP it renewed
    for the duration of the block (r13, ADVICE r12): a background
    heartbeat re-stamps the sidecar every ``ttl/3`` seconds, so a
    guarded build/add/compaction that outlives the TTL stays the
    uncontested owner instead of being stolen mid-write and aborted at
    its fencing read. On exit (success or error) any heartbeat failure
    — i.e. a detected theft — is re-raised, and the lease is left held
    (released only by :func:`release_writer_lease` on clean shutdown or
    by TTL expiry on crash, same as a plain acquire).

    Use around long-running guarded operations::

        with hold_writer_lease(spark, store_path):
            index.build(big_corpus)
    """
    # verify (not plain acquire): at the internal publish-point uses this
    # doubles as the fencing read, so a theft since the operation-start
    # acquire is reported as the mid-operation loss it is
    verify_writer_lease(spark, path, writer_id=writer_id, ttl_sec=ttl_sec)
    keeper = _LeaseKeeper(
        spark, path, writer_id, ttl_sec,
        # floor: a degenerate ttl (tests use 0 to force expiry) must not
        # turn the keeper into a busy renewal loop
        interval=max(_lease_ttl(ttl_sec) / 3.0, 0.05),
    )
    keeper._thread.start()
    try:
        yield keeper
        keeper.check()
    finally:
        keeper._stop.set()
        keeper._thread.join(timeout=5.0)


def release_writer_lease(
    spark: SparkSession, path: str, writer_id: str | None = None
) -> None:
    """Drop the lease if this writer holds it (no-op otherwise) — the
    clean-handoff API: a terminating writer releases so its successor
    (deploy rollover, cron handoff) starts immediately instead of
    waiting out the TTL. Crashed writers never release; the TTL steal
    covers them."""
    wid = writer_id or _PROCESS_WRITER_ID
    sidecar = path.rstrip("/") + WRITER_LEASE_SUFFIX
    fs, jpath = _hadoop_fs(spark, sidecar)
    if not fs.exists(jpath):
        return
    try:
        held = read_json_sidecar(spark, sidecar)
    except Exception:
        return
    if held.get("writer_id") == wid:
        fs.delete(jpath, False)


#: in-flight tag-scoped add leases live under ``<store>/_addleases/``
#: (leading underscore: invisible to every Spark/parquet reader). Each
#: concurrent adder holds ``<store>/_addleases/<tag>.writer_lease.json``
#: for the duration of its add — the shared-intent half of the r14
#: reader-writer protocol (VERDICT r13 #1): adds take tag leases,
#: exclusive operations (build/maintain/retro/compaction) take the store
#: ROOT lease and refuse while any foreign tag lease is live.
ADD_LEASE_DIR = "_addleases"


def _add_lease_target(path: str, tag: str) -> str:
    return f"{path.rstrip('/')}/{ADD_LEASE_DIR}/{tag}"


def check_no_foreign_root_lease(
    spark: SparkSession,
    path: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
) -> None:
    """READ-ONLY root-lease check for tag-scoped adders (r14): raise if
    a live FOREIGN root lease exists — an exclusive operation
    (build/maintain/retro-cadence/compaction) is running and an add
    must not race it. Unlike :func:`acquire_writer_lease` this never
    WRITES the sidecar: two concurrent adders re-stamping the root
    would see each other as foreign root holders and deadlock the very
    concurrency the tag leases exist to admit."""
    import time

    wid = writer_id or _PROCESS_WRITER_ID
    ttl = _lease_ttl(ttl_sec)
    sidecar = path.rstrip("/") + WRITER_LEASE_SUFFIX
    fs, jpath = _hadoop_fs(spark, sidecar)
    now = time.time()
    if not fs.exists(jpath):
        return
    try:
        held = read_json_sidecar(spark, sidecar)
    except Exception:
        # torn read: expiry falls back to the file mtime, same as acquire
        try:
            mtime = fs.getFileStatus(jpath).getModificationTime() / 1e3
        except Exception:
            return  # raced a delete: the holder released
        if now - mtime < ttl:
            raise ConcurrentWriterError(
                f"state store {path} has an unreadable root writer lease "
                f"modified {now - mtime:.0f}s ago (an exclusive operation "
                "is mid-renewal or crashed mid-write); refusing the "
                "concurrent add until it expires."
            )
        return
    if held.get("writer_id") != wid and (
        now - float(held.get("heartbeat_unix", 0.0)) < ttl
    ):
        raise ConcurrentWriterError(
            f"state store {path} root is held by writer "
            f"{held.get('writer_id')!r} (an exclusive operation — "
            "build/maintain/retro/compaction — is in progress); "
            "concurrent adds must wait for it to finish (clean handoff: "
            "it releases the root lease) or for its lease to expire."
        )


def acquire_add_lease(
    spark: SparkSession,
    path: str,
    tag: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
) -> str:
    """Announce an in-flight tag-scoped add on store ``path`` (r14,
    VERDICT r13 #1): take the ``<store>/_addleases/<tag>`` lease, then
    verify no exclusive operation holds the store root. Ordering is the
    race shield: adders announce FIRST and check the root second, while
    exclusive operations take the root first and check the announce
    directory second — whichever interleaving occurs, at least one side
    observes the other and fails loudly (same best-effort filesystem
    contract as the root lease). Returns the lease target path (pass to
    ``hold_writer_lease`` for the publish step). A crashed adder's tag
    lease expires by TTL like any other lease."""
    target = _add_lease_target(path, tag)
    acquire_writer_lease(spark, target, writer_id=writer_id, ttl_sec=ttl_sec)
    try:
        check_no_foreign_root_lease(
            spark, path, writer_id=writer_id, ttl_sec=ttl_sec
        )
    except ConcurrentWriterError:
        release_writer_lease(spark, target, writer_id=writer_id)
        raise
    return target


def release_add_lease(
    spark: SparkSession,
    path: str,
    tag: str,
    writer_id: str | None = None,
) -> None:
    """Drop a tag-scoped add lease (clean finish of a concurrent add)."""
    release_writer_lease(
        spark, _add_lease_target(path, tag), writer_id=writer_id
    )


@contextmanager
def held_add_lease(
    spark: SparkSession,
    path: str,
    tag: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
):
    """Announce a tag-scoped add AND keep its lease heartbeated for the
    whole add (r15, ADVICE r14 medium): previously the tag lease was
    stamped once at :func:`acquire_add_lease` and renewed only inside the
    publish-time ``hold_writer_lease`` — a projection phase outliving the
    TTL let an exclusive operation legitimately pass
    :func:`assert_no_concurrent_adds`, rebuild/compact the store, and the
    late add then still published its partition silently (double-counted
    positions in a count-mode GramIndex whose rebuild included the
    batch). The keeper pins the announce alive from acquire through
    publish, so the exclusive side keeps refusing for as long as the
    adder is healthy; a theft detected by the keeper aborts the add at
    block exit instead of interleaving.

    The default writer id is PER-ADD UNIQUE — process identity + tag —
    (ADVICE r14 low): under the plain process identity, a coordinator
    thread's ``maintain()`` and a sink thread's concurrent add in the
    SAME driver treated each other's leases as self and could
    interleave; distinct ids make the root/announce shields fence
    same-process writers too. The streaming index sinks (writer_id=None)
    get this default automatically.

    Yields ``(lease_path, effective_writer_id)`` — pass BOTH to the
    publish step so its fencing read renews the same identity. The lease
    is released at block exit (success or error); an in-flight crash
    leaves it to TTL expiry like any other lease."""
    wid = writer_id or f"{_PROCESS_WRITER_ID}#add:{tag}"
    target = acquire_add_lease(
        spark, path, tag, writer_id=wid, ttl_sec=ttl_sec
    )
    keeper = _LeaseKeeper(
        spark, target, wid, ttl_sec,
        interval=max(_lease_ttl(ttl_sec) / 3.0, 0.05),
    )
    keeper._thread.start()
    try:
        yield target, wid
        keeper.check()
    finally:
        keeper._stop.set()
        keeper._thread.join(timeout=5.0)
        release_add_lease(spark, path, tag, writer_id=wid)


def live_foreign_add_leases(
    spark: SparkSession,
    path: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
) -> list[str]:
    """Tags with a live foreign add lease on store ``path`` — the adds
    an exclusive operation must not fold under (r14). Expired leases
    (crashed adders) are ignored; unreadable ones fall back to file
    mtime, same as the root-lease torn-read rule."""
    import time

    wid = writer_id or _PROCESS_WRITER_ID
    ttl = _lease_ttl(ttl_sec)
    root = f"{path.rstrip('/')}/{ADD_LEASE_DIR}"
    fs, jroot = _hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    now = time.time()
    live: list[str] = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if not name.endswith(WRITER_LEASE_SUFFIX):
            continue
        tag = name[: -len(WRITER_LEASE_SUFFIX)]
        sidecar = f"{root}/{name}"
        try:
            held = read_json_sidecar(spark, sidecar)
        except Exception:
            if now - st.getModificationTime() / 1e3 < ttl:
                live.append(tag)  # torn read of a fresh lease: live
            continue
        if held.get("writer_id") != wid and (
            now - float(held.get("heartbeat_unix", 0.0)) < ttl
        ):
            live.append(tag)
    return sorted(live)


def assert_no_concurrent_adds(
    spark: SparkSession,
    path: str,
    writer_id: str | None = None,
    ttl_sec: float | None = None,
) -> None:
    """Refuse an exclusive operation while foreign adds are in flight
    (r14): compaction deletes/renames the very ``_batch=`` partitions an
    in-flight add's frozen file snapshot reads, so the root-lease holder
    checks the announce directory right after taking the root."""
    live = live_foreign_add_leases(
        spark, path, writer_id=writer_id, ttl_sec=ttl_sec
    )
    if live:
        raise ConcurrentWriterError(
            f"state store {path} has {len(live)} in-flight concurrent "
            f"add(s) (tags {live[:5]}{'...' if len(live) > 5 else ''}); "
            "exclusive operations (build/maintain/retro/compaction) must "
            "wait for them to finish or for their tag leases to expire."
        )


def upsert_into(path: str, batch: FeatureTable) -> None:
    """Batch incremental upsert: merge a new batch of events into the
    persisted latest-per-key state at ``path`` — the nightly/incremental
    maintenance loop (the reference's per-record upsert,
    ``ralf/v2/table_state.py:29-46``, amortized over a batch). Idempotent
    for replays (re-upserting the same batch leaves the state as it was).

    The state is a base plus a log of per-batch winners, like the
    reference's state table, which takes each record and never rewrites
    itself. Each upsert appends only
    ``batch.latest()`` as a fresh ``_batch=<tag>`` partition
    (``layout.write_batch``) under the writer lease; it reads no state.
    ``FeatureStore.read_parquet`` reads the union, whose ``latest()``,
    ``bulk_query()`` and point reads are the state. A replay appends
    duplicate winners, which ``latest()`` folds away.

    Two spellings write the append. A batch whose decoded rows are
    shown small (``sizing.fits_driver``, refused by
    ``SPARK_GRAFT_SMALL_CORPUS=0``) skips the shuffle and the write job,
    as the reference's in-process upsert runs no job: Spark reads the
    batch into Arrow on the driver (``toArrow``, one job, plus one
    aggregate when the footers cannot bound the decoded bytes), the
    driver picks each key's newest row in ``latest()``'s order
    (``store.newest_positions``) and writes the winners as one
    plain-encoded file, staged and renamed into a fresh ``_batch=``
    directory (:func:`_write_parquet_file`), which the point index's
    footer proof admits. A killed writer leaves at most an empty batch
    directory, which reads as nothing and folds away at the next
    compaction. Every other batch — past the byte budget, of unknown
    size, nondeterministic, or with a column type the point index does
    not serve — runs ``batch.latest()`` in Spark and lands through
    ``layout.write_batch`` (:func:`_small_winners`). Once more than
    ``layout.AUTO_MAINTAIN_BATCHES`` tags exist, ``compact_tiered``
    folds the older tags into one with ``latest()``; a crash inside it
    leaves both copies or one, which read the same, and the next upsert
    finishes or rolls it back (``layout.recover_compaction``).

    The first upsert writes ``latest()`` as the base, tagged
    ``compacted-base`` so tier-1 folds leave it alone, together with a
    hidden sidecar holding key, ts, seq and schema — the mark of this
    layout. A directory without the sidecar is the older full-rewrite
    state; the first upsert into it migrates it once, through one
    ``latest()`` over state ∪ batch published by
    :func:`_staged_overwrite` (recovering a publish a crash cut between
    its renames first). A later batch must carry the sidecar's key, ts,
    seq and column names, each type equal to the stored one or safely
    up-castable to it (then cast, as ``unionByName`` would widen it);
    anything else raises before a byte is written.

    The state's ``latest()`` equals :func:`merge_upsert_plan` over the
    previous state and the batch; the contract tests pin it there.
    """
    import uuid

    from ralf_spark import layout

    spark = batch.df.sparkSession
    # single-writer guard (r12): fail loudly before any write
    with hold_writer_lease(spark, path):
        _recover_staged_publish(spark, path)
        meta = upsert_state_meta(spark, path)
        if meta is None:
            _migrate_upsert_state(spark, path, batch)
            return
        batch = _conform_batch(spark, path, batch, meta)
        layout.recover_compaction(spark, path)
        tag = uuid.uuid4().hex
        winners = _small_winners(batch)
        if winners is None:
            layout.write_batch(batch.latest().df, path, f"upsert-{tag}")
        elif winners.num_rows:
            _write_parquet_file(
                spark, f"{path.rstrip('/')}/_batch=upsert-{tag}",
                f"part-00000-{tag}.c000.snappy.parquet", winners,
                use_dictionary=False,
            )
        if layout.batch_tag_count(spark, path) > layout.AUTO_MAINTAIN_BATCHES:
            layout.compact_tiered(
                spark, path, transform=lambda df: batch._with(df).latest().df
            )


def _small_winners(batch: FeatureTable):
    """``batch.latest()`` picked on the driver, as an Arrow table in the
    batch's schema, or None when the Spark spelling runs instead: the
    point index could not rank the batch in Arrow
    (``store.arrow_key_type``: another key type, an ordering column
    whose Arrow order is not Spark's, or a column type it does not
    serve), or ``sizing.fits_driver`` does not show the batch's decoded
    rows small. Spark reads the batch (``toArrow``), so every read
    option, cast and timestamp encoding is Spark's."""
    import pyarrow as pa

    from ralf_spark.plans import sizing
    from ralf_spark.store import arrow_key_type, newest_positions

    x = sizing.EXPANSION
    if arrow_key_type(batch) is None or not sizing.fits_driver(
        batch.df, per_byte=x["index_byte"], per_row=x["index_row"]
    ):
        return None
    tbl = batch.df.toArrow()
    order = [c for c in (batch.ts, batch.seq) if c]
    pos = newest_positions(tbl, batch.key, order)
    return tbl.take(pa.array(sorted(pos.values()), pa.int64()))


def _upsert_state_path(path: str) -> str:
    """The hidden sidecar inside an append-only upsert state
    (:func:`upsert_into`); Spark's readers skip dot-files."""
    return f"{path.rstrip('/')}/.upsert_state.json"


def upsert_state_meta(spark: SparkSession, path: str) -> dict | None:
    """The sidecar of the append-only upsert state at ``path`` —
    ``{key, ts, seq, schema}`` — or None when ``path`` holds none: no
    state, or the full-rewrite layout."""
    sidecar = _upsert_state_path(path)
    fs, jpath = _hadoop_fs(spark, sidecar)
    if not fs.exists(jpath):
        return None
    return read_json_sidecar(spark, sidecar)


def read_upsert_state(spark: SparkSession, path: str, meta: dict) -> DataFrame:
    """The base and every appended batch of the append-only upsert state
    at ``path``, ``_batch`` dropped. It may hold older winners of a key
    beside the newest; its ``latest()`` is the state. The open runs no
    schema job: the sidecar's schema is given."""
    schema = T.StructType.fromJson(meta["schema"])
    return (
        spark.read.schema(schema.add("_batch", T.StringType()))
        .parquet(path)
        .drop("_batch")
    )


def _migrate_upsert_state(
    spark: SparkSession, path: str, batch: FeatureTable
) -> None:
    """The first upsert into ``path``: ``latest()`` over the full-rewrite
    state ∪ ``batch`` (the batch alone on a fresh path) becomes the base
    partition, published with the sidecar by one staged rename."""
    current = _try_read_parquet(spark, path)
    if current is not None:
        batch = batch._with(current.unionByName(batch.df))
    base = batch.latest().df
    meta = {
        "key": batch.key, "ts": batch.ts, "seq": batch.seq,
        "schema": base.schema.jsonValue(),
    }
    _staged_overwrite(
        spark, base.withColumn("_batch", F.lit("compacted-base")), path,
        partition_by="_batch",
        on_staged=lambda stage: write_json_sidecar(
            spark, _upsert_state_path(stage), meta
        ),
    )


def _conform_batch(
    spark: SparkSession, path: str, batch: FeatureTable, meta: dict
) -> FeatureTable:
    """``batch`` in the stored column order and types; raises
    ``ValueError`` when it cannot join the state at ``path``: another
    key, ts or seq, other column names, or a column whose type Spark
    cannot up-cast to the stored one (``Cast.canUpCast``: no narrowing
    or lossy cast)."""
    stored = T.StructType.fromJson(meta["schema"])
    fields = batch.df.schema.fields
    have = {f.name: f.dataType for f in fields}
    named = (batch.key, batch.ts, batch.seq)
    if named != (meta["key"], meta["ts"], meta["seq"]):
        raise ValueError(
            f"upsert_into {path}: batch key/ts/seq {named} differ from the "
            f"state's {(meta['key'], meta['ts'], meta['seq'])}"
        )
    if len(have) != len(batch.df.columns) or set(have) != set(stored.names):
        raise ValueError(
            f"upsert_into {path}: batch columns {batch.df.columns} differ "
            f"from the state's {stored.names}"
        )

    def up_casts(src: T.DataType, dst: T.DataType) -> bool:
        jvm = spark._jvm  # type: ignore[attr-defined]
        parse = jvm.org.apache.spark.sql.types.DataType.fromJson
        return jvm.org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
            parse(src.json()), parse(dst.json())
        )

    narrowing = [
        f"{f.name} {have[f.name].simpleString()} -> "
        f"{f.dataType.simpleString()}"
        for f in stored.fields
        if have[f.name] != f.dataType
        and not up_casts(have[f.name], f.dataType)
    ]
    if narrowing:
        raise ValueError(
            f"upsert_into {path}: batch types cannot up-cast to the "
            f"state's: {narrowing}"
        )
    if [(f.name, f.dataType) for f in fields] == \
            [(f.name, f.dataType) for f in stored.fields]:
        return batch
    return batch._with(batch.df.select(*[
        F.col(f.name) if have[f.name] == f.dataType
        else F.col(f.name).cast(f.dataType).alias(f.name)
        for f in stored.fields
    ]))


def merge_upsert_condition(
    order_cols: Sequence[str], src: str = "s", tgt: str = "t"
) -> str:
    """SQL condition under which the source (batch) row beats the stored
    target row — the WHEN MATCHED guard of :func:`merge_upsert_plan`, and
    the exact ordering contract of ``FeatureTable.latest``: lexicographic
    >= on the ordering columns with NULL ordered below every value
    (struct comparison semantics of the ``max_by`` spelling). ``>=`` (not
    ``>``) so a replayed batch re-applies its own winners, which keeps
    the merge idempotent."""
    if not order_cols:
        return "true"

    def gt(c: str) -> str:
        return (
            f"({src}.{c} > {tgt}.{c} "
            f"OR ({src}.{c} IS NOT NULL AND {tgt}.{c} IS NULL))"
        )

    def eq(c: str) -> str:
        return f"{src}.{c} <=> {tgt}.{c}"

    terms = []
    for i, c in enumerate(order_cols):
        prefix = " AND ".join(eq(x) for x in order_cols[:i])
        terms.append(f"({prefix} AND {gt(c)})" if prefix else gt(c))
    terms.append("(" + " AND ".join(eq(x) for x in order_cols) + ")")
    return " OR ".join(terms)


def merge_upsert_plan(
    current: DataFrame,
    batch_latest: DataFrame,
    key: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """The relational semantics of ``MERGE INTO current t USING batch s ON
    t.key <=> s.key WHEN MATCHED AND <winner> THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` as a plain DataFrame plan — the spec
    ``upsert_into``'s state must equal after every batch. The contract
    tests fold the same batches through both and compare.

    One full-outer co-partitioned join on the key; per column the winner
    side is chosen by :func:`merge_upsert_condition` (parsed with
    ``F.expr``).
    """
    cols = current.columns
    t = current.withColumn("_in_t", F.lit(True)).alias("t")
    s = batch_latest.withColumn("_in_s", F.lit(True)).alias("s")
    joined = t.join(s, F.expr(f"t.{key} <=> s.{key}"), "full_outer")
    take_src = F.coalesce(F.col("_in_s"), F.lit(False)) & (
        ~F.coalesce(F.col("_in_t"), F.lit(False))
        | F.expr(merge_upsert_condition(order_cols))
    )
    return joined.select(
        *[
            F.when(take_src, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in cols
        ]
    )


def _staged_overwrite(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    on_staged=None,
) -> None:
    """Write ``df`` once to ``<path>.__staging__`` (the output may derive
    from ``path``'s current contents, so a direct overwrite would read
    and clobber the same files), then publish it by Hadoop FS renames
    under the writer lease: drop a stale ``__retired__``, rename ``path``
    to ``__retired__``, rename staging to ``path``, drop the retired copy.

    A crash during the write leaves ``path`` untouched. A crash between
    the two renames leaves no ``path``; :func:`_recover_staged_publish`
    (run here first and by :func:`_try_read_parquet`) rolls it forward
    from the complete staging directory or back from ``__retired__``.
    On local and HDFS filesystems each rename is atomic. On object
    stores (S3A) a directory rename is a file-by-file copy, so the
    publish is not atomic there: a reader racing the copy can see part
    of the new directory.

    ``on_staged(staging_path)`` runs between the write and the publish:
    a sidecar it writes into the staging directory publishes with the
    data."""
    _recover_staged_publish(spark, path)
    fs, jpath, jstage, jretired = _publish_paths(spark, path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    stage = path.rstrip("/") + STAGING_SUFFIX
    writer.parquet(stage)
    if on_staged is not None:
        on_staged(stage)  # a sidecar that must publish with the data
    # fence + heartbeat keeper (r13): the staging write above is the long
    # step; publish over ``path`` only while still the owner. Neither
    # rename may target an existing directory: Hadoop would move the
    # source INTO it.
    with hold_writer_lease(spark, path):
        fs.delete(jretired, True)
        if fs.exists(jpath):
            _rename(fs, jpath, jretired)
        _rename(fs, jstage, jpath)
        fs.delete(jretired, True)


class StateConnector(ABC):
    """update/point/bulk/delete/count contract (``ralf/state/connector.py``)."""

    @abstractmethod
    def save(self, table: FeatureTable) -> None:
        """Persist the latest-per-key state of ``table`` (full refresh —
        the batch analog of the reference's per-record upsert loop)."""

    @abstractmethod
    def load(self, spark: SparkSession) -> FeatureTable:
        ...

    @abstractmethod
    def delete(self, spark: SparkSession, keys: Sequence[Any]) -> None:
        ...

    def point_query(self, spark: SparkSession, key_value: Any) -> list[Row]:
        t = self.load(spark)
        return t.df.where(F.col(t.key) == F.lit(key_value)).collect()

    def bulk_query(self, spark: SparkSession) -> list[Row]:
        """Full-state rows ON THE DRIVER — reference-parity semantics
        (``ralf/table.py:193-206``), fine for serving-sized state; at
        100 TB use :meth:`bulk_export` instead."""
        return self.load(spark).df.collect()

    def bulk_export(
        self, spark: SparkSession, path: str, num_buckets: int = 64
    ) -> None:
        """The 100 TB spelling of :meth:`bulk_query` (r13, VERDICT r12
        #6): a DISTRIBUTED key-bucketed parquet write of the full state —
        no row ever visits the driver. The layout matches
        :class:`ParquetStateConnector` (``bucket=pmod(xxhash64(key),
        n)`` partitions), so the export is itself point-query-prunable
        and loads straight back through a ``ParquetStateConnector(path,
        key, num_buckets)`` handle.

        Published via :func:`_staged_overwrite` (r14, ADVICE r13): the
        full export lands in a staging directory first, and replaces the
        target by rename only under the writer lease — a crash during
        the long distributed write leaves the target untouched instead
        of a partial tree a fresh connector handle would happily load,
        and a second concurrent exporter to the same target fails
        loudly."""
        t = self.load(spark)
        if t.key is None:
            raise ValueError("bulk_export needs a keyed state table")
        _staged_overwrite(
            spark,
            t.df.withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col(t.key)), F.lit(num_buckets)),
            ),
            path,
            partition_by="bucket",
        )

    def count(self, spark: SparkSession) -> int:
        return self.load(spark).df.count()


class MemoryConnector(StateConnector):
    """Session-catalog temp view — the DictConnector analog
    (``ralf/state/dict_connector.py:7-39``)."""

    def __init__(self, name: str, key: str):
        self.name = name
        self.key = key

    def save(self, table: FeatureTable) -> None:
        state = table.latest() if (table.ts or table.seq) else table
        # Materialize into a local relation so the view survives source
        # mutation (dict semantics, not a live query over the input).
        df = state.df
        rows = df.collect()
        df.sparkSession.createDataFrame(rows, df.schema).createOrReplaceTempView(
            self.name
        )

    def load(self, spark: SparkSession) -> FeatureTable:
        return FeatureTable(spark.table(self.name), key=self.key)

    def delete(self, spark: SparkSession, keys: Sequence[Any]) -> None:
        remaining = spark.table(self.name).where(~F.col(self.key).isin(list(keys)))
        rows = remaining.collect()
        spark.createDataFrame(rows, remaining.schema).createOrReplaceTempView(
            self.name
        )


class ParquetStateConnector(StateConnector):
    """Key-bucketed parquet state — the at-scale connector.

    Layout: ``path/bucket=<pmod(xxhash64(key), n)>/*.parquet``. Point
    queries filter on the bucket value first, so the parquet reader prunes
    all but 1/n of the directory tree before touching data (PartitionFilters
    in the scan — asserted in tests), then pushes the key predicate into
    that bucket's row groups.
    """

    def __init__(self, path: str, key: str, num_buckets: int = 64):
        self.path = path
        self.key = key
        self.num_buckets = num_buckets

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.num_buckets))

    def save(self, table: FeatureTable) -> None:
        state = table.latest() if (table.ts or table.seq) else table
        _staged_overwrite(
            state.df.sparkSession,
            state.df.withColumn("bucket", self._bucket()),
            self.path,
            partition_by="bucket",
        )

    def _read(self, spark: SparkSession) -> DataFrame:
        """The stored state, after recovering a staged publish that a
        crash cut between its renames (:func:`_recover_staged_publish`)."""
        _recover_staged_publish(spark, self.path)
        return spark.read.parquet(self.path)

    def load(self, spark: SparkSession) -> FeatureTable:
        return FeatureTable(self._read(spark).drop("bucket"), key=self.key)

    def point_query(self, spark: SparkSession, key_value: Any) -> list[Row]:
        return self.pruned_point_plan(spark, key_value).drop("bucket").collect()

    def pruned_point_plan(self, spark: SparkSession, key_value: Any) -> DataFrame:
        """The point-query DataFrame (un-collected; also used for plan
        assertions). The key literal is cast to the stored key type first:
        xxhash64 is type-sensitive, so hashing an int literal against a
        long column would land in the wrong bucket."""
        df = self._read(spark)
        lit = F.lit(key_value).cast(df.schema[self.key].dataType)
        return df.where(
            (F.col("bucket") == F.pmod(F.xxhash64(lit), F.lit(self.num_buckets)))
            & (F.col(self.key) == lit)
        )

    def delete(self, spark: SparkSession, keys: Sequence[Any]) -> None:
        df = self._read(spark)
        remaining = df.where(~F.col(self.key).isin(list(keys)))
        _staged_overwrite(spark, remaining, self.path, partition_by="bucket")


class SqliteStateConnector(StateConnector):
    """SQLite state table — the reference's SQLiteConnector analog
    (``ralf/state/sqlite_connector.py:19-72``; v2 ``sqlite3_connector.py``).

    Driver-side by design: state is key-cardinality-bounded and the
    reference's SQLite is single-node. Uses real typed columns (the
    reference pickles the whole record into a blob, ``:36``); rows stream
    via ``toLocalIterator`` so the driver never holds the full state.
    """

    _SQL_TYPES = {
        "bigint": "INTEGER",
        "int": "INTEGER",
        "double": "REAL",
        "float": "REAL",
        "string": "TEXT",
        "boolean": "INTEGER",
        # stored as epoch microseconds; restored via the schema sidecar
        "timestamp": "INTEGER",
        "timestamp_ntz": "INTEGER",
    }

    def __init__(self, db_path: str, table_name: str, key: str):
        self.db_path = db_path
        self.table_name = table_name
        self.key = key

    def _connect(self):
        import sqlite3

        return sqlite3.connect(self.db_path)

    def save(self, table: FeatureTable) -> None:
        state = table.latest() if (table.ts or table.seq) else table
        df = state.df
        # Timestamps -> epoch micros (sqlite has no temporal type); the
        # sidecar table records which columns (and which Spark timestamp
        # type — LTZ or NTZ) to restore on load.
        ts_cols = [
            (c, t) for c, t in df.dtypes
            if t in ("timestamp", "timestamp_ntz")
        ]
        for c, t in ts_cols:
            df = df.withColumn(c, epoch_us_expr(F.col(c), t))
        cols = df.dtypes
        for _, t in cols:
            if t not in self._SQL_TYPES:
                raise TypeError(
                    f"unsupported sqlite column type {t!r} "
                    f"(supported: {sorted(self._SQL_TYPES)})"
                )
        ddl_cols = ", ".join(
            f'"{c}" {self._SQL_TYPES[t]}'
            + (" PRIMARY KEY" if c == self.key else "")
            for c, t in cols
        )
        placeholders = ", ".join("?" for _ in cols)
        with self._connect() as con:
            con.execute(f'DROP TABLE IF EXISTS "{self.table_name}"')
            con.execute(f'CREATE TABLE "{self.table_name}" ({ddl_cols})')
            con.execute(
                "CREATE TABLE IF NOT EXISTS _ralf_schema "
                "(tbl TEXT, col TEXT, spark_type TEXT, PRIMARY KEY (tbl, col))"
            )
            con.execute(
                "DELETE FROM _ralf_schema WHERE tbl = ?", (self.table_name,)
            )
            con.executemany(
                "INSERT INTO _ralf_schema VALUES (?, ?, ?)",
                [(self.table_name, c, t) for c, t in ts_cols],
            )
            batch: list[tuple] = []
            for row in df.toLocalIterator():
                batch.append(tuple(row))
                if len(batch) >= 10_000:
                    con.executemany(
                        f'INSERT OR REPLACE INTO "{self.table_name}" '
                        f"VALUES ({placeholders})",
                        batch,
                    )
                    batch = []
            if batch:
                con.executemany(
                    f'INSERT OR REPLACE INTO "{self.table_name}" '
                    f"VALUES ({placeholders})",
                    batch,
                )

    def load(self, spark: SparkSession) -> FeatureTable:
        # Schema from sqlite's own catalog so empty tables round-trip too.
        # (bools come back as INTEGER/long — sqlite has no boolean.)
        inv = {"INTEGER": "long", "REAL": "double", "TEXT": "string"}
        with self._connect() as con:
            info = con.execute(
                f'PRAGMA table_info("{self.table_name}")'
            ).fetchall()
            rows = con.execute(
                f'SELECT * FROM "{self.table_name}"'
            ).fetchall()
            ts_cols = {
                r[0]: r[1]
                for r in con.execute(
                    "SELECT col, spark_type FROM _ralf_schema WHERE tbl = ?",
                    (self.table_name,),
                ).fetchall()
            }
        schema = ", ".join(f"{name} {inv[sql_type]}" for _, name, sql_type, *_ in info)
        df = spark.createDataFrame([tuple(r) for r in rows], schema=schema)
        for c, t in ts_cols.items():
            df = df.withColumn(
                c,
                ntz_from_epoch_us(F.col(c))
                if t == "timestamp_ntz"
                else F.timestamp_micros(F.col(c)),
            )
        return FeatureTable(df, key=self.key)

    def point_query(self, spark: SparkSession, key_value: Any) -> list[Row]:
        # True point lookup: hits the sqlite PRIMARY KEY index, no scan.
        with self._connect() as con:
            cur = con.execute(
                f'SELECT * FROM "{self.table_name}" WHERE "{self.key}" = ?',
                (key_value,),
            )
            cols = [d[0] for d in cur.description]
            return [Row(**dict(zip(cols, r))) for r in cur.fetchall()]

    def delete(self, spark: SparkSession, keys: Sequence[Any]) -> None:
        with self._connect() as con:
            con.executemany(
                f'DELETE FROM "{self.table_name}" WHERE "{self.key}" = ?',
                [(k,) for k in keys],
            )

    def count(self, spark: SparkSession) -> int:
        with self._connect() as con:
            return con.execute(
                f'SELECT count(*) FROM "{self.table_name}"'
            ).fetchone()[0]


# ---------------------------------------------------------------- KV serving


class KeyValueClient(ABC):
    """Minimal hash-table client contract — the subset of the redis client
    API the reference's connectors use (``ralf/state/redis_connector.py:
    10-38``: hset/hget/hdel/hvals/hlen per state table). A real
    ``redis.Redis`` instance satisfies it structurally; tests (and
    redis-less deployments) use :class:`InMemoryKVClient`.
    """

    @abstractmethod
    def hset(self, table: str, key: str, value: bytes) -> None: ...

    @abstractmethod
    def hget(self, table: str, key: str) -> bytes | None: ...

    @abstractmethod
    def hdel(self, table: str, *keys: str) -> None: ...

    @abstractmethod
    def hvals(self, table: str) -> list[bytes]: ...

    @abstractmethod
    def hlen(self, table: str) -> int: ...

    @abstractmethod
    def delete(self, *tables: str) -> None:
        """Drop whole hashes (redis ``DEL``) — used by full-refresh save."""


class InMemoryKVClient(KeyValueClient):
    """Dict-of-dicts fake of the redis hash API — the test double, and the
    DictConnector-over-KV analog."""

    def __init__(self) -> None:
        self._tables: dict[str, dict[str, bytes]] = {}

    def hset(self, table: str, key: str, value: bytes) -> None:
        self._tables.setdefault(table, {})[key] = value

    def hget(self, table: str, key: str) -> bytes | None:
        return self._tables.get(table, {}).get(key)

    def hdel(self, table: str, *keys: str) -> None:
        t = self._tables.get(table, {})
        for k in keys:
            t.pop(k, None)

    def hvals(self, table: str) -> list[bytes]:
        return list(self._tables.get(table, {}).values())

    def hlen(self, table: str) -> int:
        return len(self._tables.get(table, {}))

    def delete(self, *tables: str) -> None:
        for t in tables:
            self._tables.pop(t, None)


class RedisKVClient(KeyValueClient):
    """Redis-backed :class:`KeyValueClient` — completes parity with the
    reference's Redis connectors (``ralf/state/redis_connector.py:10-38``
    and ``ralf/v2/connectors/redis_connector.py:9-48``: one redis hash per
    state table, one field per key — the identical layout this adapter
    drives through :class:`KVStateConnector`).

    Import-guarded: constructing without an injected ``client`` requires
    the ``redis`` package (and a reachable server). ``client`` accepts any
    object with the redis hash API (``redis.Redis``, ``fakeredis``, a
    cluster client) — which is also how the contract tests exercise the
    adapter in a server-less environment.
    """

    def __init__(
        self,
        host: str = "localhost",
        port: int = 6379,
        db: int = 0,
        client: Any | None = None,
    ):
        if client is None:
            try:
                import redis
            except ImportError as exc:
                raise RuntimeError(
                    "RedisKVClient requires the redis package (or pass "
                    "client=...); install redis or use InMemoryKVClient"
                ) from exc
            client = redis.Redis(host=host, port=port, db=db)
        self._r = client

    def hset(self, table: str, key: str, value: bytes) -> None:
        self._r.hset(table, key, value)

    def hget(self, table: str, key: str) -> bytes | None:
        raw = self._r.hget(table, key)
        return None if raw is None else bytes(raw)

    def hdel(self, table: str, *keys: str) -> None:
        if keys:
            self._r.hdel(table, *keys)

    def hvals(self, table: str) -> list[bytes]:
        return [bytes(v) for v in self._r.hvals(table)]

    def hlen(self, table: str) -> int:
        return int(self._r.hlen(table))

    def delete(self, *tables: str) -> None:
        if tables:
            self._r.delete(*tables)


class KVStateConnector(StateConnector):
    """External-KV serving connector — the RedisConnector analog
    (``ralf/state/redis_connector.py:10-38``, v2
    ``ralf/v2/connectors/redis_connector.py:9-48``): one hash per state
    table, one field per key, the online-serving edge a feature store
    hands to a model server.

    Rows are stored as JSON objects (the reference pickles; JSON keeps the
    store readable by non-Python consumers), timestamps as epoch micros
    with a ``__schema__`` sidecar entry for exact round-trip. Writes stream
    through ``toLocalIterator`` on the driver — latest-per-key state is
    bounded by key cardinality, and this mirrors the reference's
    single-connection writer. A cluster-parallel deployment moves the same
    upsert loop into ``df.foreachPartition`` with one connection per
    partition (the reference's v2 ``create_connection`` pattern); the
    stored layout is identical.
    """

    _SIDECAR = "__ralf_schema__"

    def __init__(self, client: KeyValueClient, table_name: str, key: str):
        self.client = client
        self.table_name = table_name
        self.key = key

    def save(self, table: FeatureTable) -> None:
        """Full refresh: drop the hash, then write the latest-per-key
        state (the StateConnector contract every connector shares)."""
        self.client.delete(self.table_name)
        self.upsert(table)

    def upsert(self, table: FeatureTable) -> None:
        """Incremental upsert: per-key winners of ``table`` claim their
        hash fields IF they win by ``(ts, seq)`` against the stored row;
        absent keys keep serving their previous value. The conditional
        matters because micro-batches can replay out of event-time order
        (file replay, failure recovery) — blind last-write-wins would let
        an older record clobber newer state. Mirrors ``upsert_into``'s
        winner-merge for parquet. (The reference's Redis path overwrites
        unconditionally, ``ralf/state/table_state.py:29-46`` — correct only
        for in-order streams.)"""
        import json

        state = table.latest() if (table.ts or table.seq) else table
        df = state.df
        ts_cols = [
            (c, t) for c, t in df.dtypes
            if t in ("timestamp", "timestamp_ntz")
        ]
        for c, t in ts_cols:
            df = df.withColumn(c, epoch_us_expr(F.col(c), t))
        self.client.hset(
            self._SIDECAR,
            self.table_name,
            json.dumps(
                {"ddl": ", ".join(f"{c} {t}" for c, t in df.dtypes),
                 "ts_cols": [[c, t] for c, t in ts_cols]}
            ).encode(),
        )
        cols = df.columns
        order = [c for c in (table.ts, table.seq) if c is not None]

        def _wins(new: dict, cur: dict) -> bool:
            if not order:
                return True
            neg = float("-inf")
            new_k = tuple(new.get(c) if new.get(c) is not None else neg
                          for c in order)
            cur_k = tuple(cur.get(c) if cur.get(c) is not None else neg
                          for c in order)
            return new_k >= cur_k

        for row in df.toLocalIterator():
            d = dict(zip(cols, row))
            field = str(d[self.key])
            raw = self.client.hget(self.table_name, field)
            if raw is None or _wins(d, json.loads(raw)):
                self.client.hset(
                    self.table_name, field, json.dumps(d).encode()
                )

    def _sidecar(self) -> dict:
        import json

        raw = self.client.hget(self._SIDECAR, self.table_name)
        if raw is None:
            raise KeyError(
                f"no saved state for table {self.table_name!r} "
                "(save() records the schema sidecar)"
            )
        return json.loads(raw)

    def load(self, spark: SparkSession) -> FeatureTable:
        import json

        meta = self._sidecar()
        names = [p.strip().split(" ")[0] for p in meta["ddl"].split(",")]
        rows = [
            tuple(json.loads(v)[n] for n in names)
            for v in self.client.hvals(self.table_name)
        ]
        df = spark.createDataFrame(rows, schema=meta["ddl"])
        for c, t in meta["ts_cols"]:
            df = df.withColumn(
                c,
                ntz_from_epoch_us(F.col(c))
                if t == "timestamp_ntz"
                else F.timestamp_micros(F.col(c)),
            )
        return FeatureTable(df, key=self.key)

    def point_query(self, spark: SparkSession, key_value: Any) -> list[Row]:
        # True O(1) point lookup against the hash field — no scan, the
        # whole point of the serving edge.
        import json

        raw = self.client.hget(self.table_name, str(key_value))
        if raw is None:
            return []
        meta = self._sidecar()
        d = json.loads(raw)
        for c, _t in meta["ts_cols"]:
            import datetime as _dt

            # Epoch micros treated as UTC wall clock; naive datetime out —
            # matches both the NTZ restore and the UTC-session LTZ restore.
            d[c] = _dt.datetime.fromtimestamp(
                d[c] / 1_000_000, tz=_dt.timezone.utc
            ).replace(tzinfo=None)
        return [Row(**d)]

    def delete(self, spark: SparkSession, keys: Sequence[Any]) -> None:
        self.client.hdel(self.table_name, *[str(k) for k in keys])

    def count(self, spark: SparkSession) -> int:
        return self.client.hlen(self.table_name)


def apply_changelog(
    snapshot: DataFrame,
    changelog: "FeatureTable",
    op_col: str = "op",
    delete_value: str = "delete",
) -> DataFrame:
    """Apply a CDC changelog (upserts + deletes) to a state snapshot —
    the batch spelling of ``MERGE INTO ... WHEN MATCHED AND op='delete'
    THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    INSERT`` on plain DataFrames.

    Per key, the latest changelog row wins (same (ts, seq) contract as
    ``FeatureTable.latest``): a delete removes the key, an upsert
    replaces it; snapshot keys the changelog never touched pass through.
    Extends ``upsert_into`` with the delete half of the reference's state
    contract (``ralf/state/table_state.py`` upsert + connector
    ``delete``, ``ralf/v2/connectors/dict_connector.py``).

    Scale shape: one map-side-partial latest aggregation over the
    changelog + one anti-join shuffle on the key; the snapshot is never
    re-aggregated. The changelog must carry every ``snapshot`` column
    (it may carry more — ordering columns, ``op_col`` — which are
    projected away).
    """
    if changelog.key is None:
        raise ValueError("apply_changelog needs a keyed changelog")
    last = changelog.latest().df
    survivors = last.where(F.col(op_col) != delete_value).select(
        *snapshot.columns
    )
    touched = last.select(changelog.key)
    untouched = snapshot.join(touched, changelog.key, "left_anti")
    return untouched.unionByName(survivors)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Reconcile two state snapshots: one row per key present in either,
    classified ``added`` / ``removed`` / ``changed`` / ``unchanged`` by a
    full outer join on the key and column-wise null-safe comparison.

    The backfill-validation primitive: after a pipeline change, diff the
    recomputed snapshot against production state and alert on the
    changed-set, instead of blindly overwriting. One co-partitioned
    shuffle on the state key; output carries both sides' values for the
    compared columns (old_*/new_*).
    """
    o = old.select(
        F.col(key),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    ).alias("o")
    n = new.select(
        F.col(key),
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    ).alias("n")
    joined = o.join(n, key, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    # presence via marker columns, NOT value nullness — a key whose stored
    # value is legitimately NULL must still count as present
    in_old = F.coalesce(F.col("_in_old"), F.lit(False))
    in_new = F.coalesce(F.col("_in_new"), F.lit(False))
    status = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.withColumn("status", status).drop("_in_old", "_in_new")
