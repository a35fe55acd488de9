"""The size gate of the adaptive dedup spellings.

Every adaptive operator in ``operators/dedup.py`` has a small spelling
(broadcast what the input derives, skip the plan-construction stats
job) and an at-scale spelling (measure, then broadcast or shuffle). The
small spelling is only taken when :func:`provably_small` PROVES, from
driver-side metadata alone, that the payload it broadcasts fits
:data:`SMALL_INPUT_BYTES` and the input fits
:data:`BROADCAST_CANDIDATE_LIMIT` rows. ``SPARK_GRAFT_SMALL_CORPUS=0``
refuses every proof.

No caller picks a spelling. Two routes lead to the at-scale spellings:

- a refused proof — ``SPARK_GRAFT_SMALL_CORPUS=0``, an in-memory or
  row-multiplying lineage, or an input past the bounds — runs the
  measured spelling, which broadcasts while :func:`choose_broadcast`
  finds the measured bound within :data:`BROADCAST_CANDIDATE_LIMIT`;
- a measured bound past :data:`BROADCAST_CANDIDATE_LIMIT` runs the
  shuffle spelling (tests reach it by lowering the limit to 0, which
  also refuses every proof of a non-empty input).

The proof reads three kinds of metadata, none of which runs a job:

- the ANALYZED logical plan of a DataFrame (its parquet relations, and
  whether every node between them and the operator is row-bounded);
- the sized listing of a store (file paths with on-disk bytes);
- parquet footers (rows and uncompressed bytes), each read once.

:func:`provably_small_snapshot` is the stricter proof of the point index
of ``FeatureStore``, which copies a whole table to the driver and keeps
serving the copy: it also counts decoded bytes and proves every run of
the table reads the same files. :func:`fits_driver` is the gate of
``connectors.upsert_into``'s driver-side spelling, which collects a
batch as Arrow once: it takes that proof when it holds and otherwise
measures the decoded bytes with one aggregate job, but only of a batch
the planner already sizes within the budget.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Auto-spelling threshold for the verification joins (r9, VERDICT r8 #1):
#: when the bucket-stats pair bound exceeds this, the chained-broadcast
#: spelling is abandoned for plain joins so the planner can shuffle instead
#: of driving a data-dependent broadcast into Spark's 8 GB hard cap (a
#: hard FAILURE, not a slowdown). The half-joined broadcast payload is
#: ~0.2-1 KB/pair (pair ids + one shingle/signature array), so the cap sits
#: near 10-30 M pairs; 5 M leaves driver-memory headroom for concurrent
#: queries. It is also the row bound of :func:`provably_small`. Module
#: attribute so probes and tests can tighten it.
BROADCAST_CANDIDATE_LIMIT = 5_000_000

#: Byte budget of any payload a small spelling broadcasts: trivially
#: driver-safe, and never reached at 100 TB, where every gate refuses and
#: the measured spellings run.
SMALL_INPUT_BYTES = 64 * 1024 * 1024

#: The expansion table: serialized broadcast bytes (driver bytes, for the
#: point index) per unit of parquet metadata, one entry per payload a
#: small spelling broadcasts or holds. Each is
#: the worst case at the operators' default shingle/gram widths — 1-char
#: tokens, all shingles and digests distinct — and is pinned against the
#: broadcasts Spark builds by
#: ``tests/test_llm_ops.py::test_expansion_table_bounds_broadcasts``.
#: The shingle table's entry grows with the shingle width:
#: :func:`shingle_expansion`.
EXPANSION = {
    # per footer-uncompressed byte: one distinct md5 hex digest costs
    # ~104 B in the hashed relation (key row and value row, 48 B each,
    # plus lengths), and positions <= tokens <= text bytes / 2
    "digest": 56,
    # per footer-uncompressed byte of a stored signature table:
    # dictionary-encoded signature longs decode to ~2.1x their footer size
    "stored_sig": 3,
    # per batch row: a signature row is num_perm longs plus ~60 B of row,
    # array and hashed-relation framing
    "sig_perm": 8,
    "sig_frame": 80,
    # per batch row and band: a (_band, _key) bucket row is ~129 B in the
    # string-keyed hashed relation (key row, value row, lengths)
    "bucket_row": 144,
    # per decoded byte (:func:`_decoded_bytes`) of a table the point
    # index of ``FeatureStore`` copies to the driver: the Arrow table,
    # plus the key column's Python objects while the index is built
    "index_byte": 3,
    # per row of that table: the key -> position dict entry with its key
    # and position objects, and the key and position lists it is built from
    "index_row": 256,
}


def shingle_expansion(shingle_n: int) -> int:
    """Serialized broadcast bytes of a shingle table per footer-
    uncompressed byte of text, at shingle width ``shingle_n``: a
    1-char-token n-gram ("a b c") is 2n−1 chars, so it costs 8 B of
    offset/length plus 8⌈(2n−1)/8⌉ B of padded chars in an UnsafeArray
    per 2 B of text — 8 at n = 3, 12 at n = 5. xxhash64 bigint shingles
    cost less."""
    return 4 + 4 * -(-(2 * shingle_n - 1) // 8)


#: Analyzed-plan nodes that can only FILTER or REORDER rows relative to
#: their file inputs (never multiply them), so parquet footer totals
#: remain an upper bound through them. Anything else — inner/outer
#: joins, Generate (explode), grouping-set Expand, pandas/arrow maps,
#: in-memory leaves — refuses the proof.
_ROW_BOUNDED_NODES = frozenset({
    "Project", "Filter", "Union", "Distinct", "Deduplicate",
    "Aggregate", "Window", "Sort", "GlobalLimit", "LocalLimit",
    "Limit", "Offset", "SubqueryAlias", "Repartition",
    "RepartitionByExpression", "RebalancePartitions", "OneRowRelation",
})  # NOT Expand (cube/rollup multiplies), NOT Generate, NOT inner
# joins, NOT Sample (withReplacement + fraction > 1 multiplies rows)


def provably_small(
    source, spark=None, per_byte: int = 0, per_row: int = 0
) -> bool:
    """True when driver-side metadata PROVES ``source`` small: at most
    :data:`BROADCAST_CANDIDATE_LIMIT` rows, and both payload bounds —
    footer-uncompressed bytes × ``per_byte`` and rows × ``per_row``
    (entries of :data:`EXPANSION`) — at most :data:`SMALL_INPUT_BYTES`.

    ``source`` is either a DataFrame, admitted only when its analyzed
    plan is a row-bounded lineage over parquet files, or a store's sized
    listing ``[(path, on-disk bytes)]`` read through ``spark`` (an empty
    store is small). Any unreadable footer, unbounded lineage or error
    refuses, and so does ``SPARK_GRAFT_SMALL_CORPUS=0``: the caller then
    runs its at-scale spelling, which is always correct, only slower on
    small inputs."""
    if os.environ.get("SPARK_GRAFT_SMALL_CORPUS", "1") == "0":
        return False
    try:
        if isinstance(source, DataFrame):
            spark = source.sparkSession
            files = _bounded_input_files(source)
            if not files:
                return False
        else:
            # parquet compressed <= uncompressed: past the budget on disk
            # the footer bound fails a fortiori, so refuse before reading
            # a footer per file of a large store
            if sum(b for _, b in source) * max(per_byte, 1) \
                    > SMALL_INPUT_BYTES:
                return False
            files = [f for f, _ in source]
        rows = unc = 0
        for f in files:
            meta = _footer_meta(f, spark)
            if meta is None:
                return False
            rows += meta.num_rows
            unc += sum(
                meta.row_group(i).column(j).total_uncompressed_size
                for i in range(meta.num_row_groups)
                for j in range(meta.num_columns)
            )
            # early exit: the remaining footers cannot bring a sum back
            if (
                rows > BROADCAST_CANDIDATE_LIMIT
                or unc * per_byte > SMALL_INPUT_BYTES
                or rows * per_row > SMALL_INPUT_BYTES
            ):
                return False
        return True
    except Exception:
        return False


def provably_small_snapshot(
    df: DataFrame, per_byte: int, per_row: int, sized: dict | None = None
) -> bool:
    """True when ``df`` may be copied to the driver once and served from
    the copy: :func:`provably_small` holds, the copy's bound — decoded
    footer bytes (:func:`_decoded_bytes`) × ``per_byte`` plus rows ×
    ``per_row`` — fits :data:`SMALL_INPUT_BYTES`, and every run of ``df``
    returns the same rows. The last holds when the analyzed plan is
    deterministic, has no subquery, and each of its file relations is a
    path read: an ``InMemoryFileIndex`` lists its files once, when the
    frame is made, so every run reads those files. A catalog table
    re-lists on each run and refuses.

    The copy is a snapshot: once the files under ``df`` are replaced, a
    run of ``df`` fails on the missing files, while the copy still
    serves the rows it read. Any error refuses.

    ``sized`` memoizes (rows, decoded bytes) per file: a file it holds
    is not read again, and each file read is added. Only a caller that
    knows the held files unchanged may pass one back."""
    if not provably_small(df, per_byte=per_byte, per_row=per_row):
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.deterministic() or not _reads_listed_files(plan):
            return False
        spark = df.sparkSession
        rows = decoded = 0
        memo = {} if sized is None else sized
        for f in _bounded_input_files(df) or ():
            if f not in memo:
                memo[f] = _decoded_bytes(f, spark)
            if memo[f] is None:
                return False
            rows, decoded = rows + memo[f][0], decoded + memo[f][1]
            if decoded * per_byte + rows * per_row > SMALL_INPUT_BYTES:
                return False
        return True
    except Exception:
        return False


def fits_driver(df: DataFrame, per_byte: int, per_row: int) -> bool:
    """True when the driver may collect ``df`` once as Arrow: at most
    :data:`BROADCAST_CANDIDATE_LIMIT` rows, its decoded bytes ×
    ``per_byte`` plus rows × ``per_row`` at most
    :data:`SMALL_INPUT_BYTES`, and a deterministic plan, so the rows
    collected are the rows sized.

    :func:`provably_small_snapshot` shows it with no job. Else, when the
    planner's size estimate of ``df`` fits the budget, one aggregate job
    measures the rows and their decoded bytes (:func:`_arrow_bytes`):
    files the footers cannot bound (dictionary-encoded strings written
    without size statistics), an in-memory batch, or a streaming
    micro-batch whose source reports its size. A larger or unknown
    estimate refuses with no job, so an at-scale input never pays a
    measuring pass. Any error refuses, and so does
    ``SPARK_GRAFT_SMALL_CORPUS=0``."""
    if os.environ.get("SPARK_GRAFT_SMALL_CORPUS", "1") == "0":
        return False
    try:
        qe = df._jdf.queryExecution()
        if not qe.analyzed().deterministic():
            return False
        if provably_small_snapshot(df, per_byte=per_byte, per_row=per_row):
            return True
        estimate = int(str(qe.optimizedPlan().stats().sizeInBytes()))
        if estimate > SMALL_INPUT_BYTES:
            return False
        size = F.lit(0).cast("long")
        for f in df.schema.fields:
            name = f.name.replace("`", "``")
            size = size + _arrow_bytes(F.col(f"`{name}`"), f.dataType)
        # one partition: the aggregate needs no exchange, so one job
        rows, nbytes = df.coalesce(1).agg(
            F.count(F.lit(1)), F.sum(size).alias("bytes")
        ).first()
        return rows <= BROADCAST_CANDIDATE_LIMIT and (
            (nbytes or 0) * per_byte + rows * per_row <= SMALL_INPUT_BYTES
        )
    except Exception:
        return False


#: Arrow bytes of one fixed-width value by Spark type; a decimal is
#: 16 B whatever its precision.
_ARROW_WIDTH = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.LongType: 8, T.FloatType: 4, T.DoubleType: 8, T.DateType: 4,
    T.TimestampType: 8, T.TimestampNTZType: 8, T.DecimalType: 16,
}


def _arrow_bytes(col: Column, dt: T.DataType) -> Column:
    """The bytes Arrow holds for the value ``col`` of type ``dt``, as a
    long column: a fixed width (:data:`_ARROW_WIDTH`), or a 4 B offset
    plus the bytes of a string or binary, or of an array's or a map's
    elements; a struct sums its fields. Raises TypeError on another
    type."""
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return F.coalesce(F.octet_length(col), F.lit(0)).cast("long") + 4
    if isinstance(dt, T.StructType):
        total = F.lit(0).cast("long")
        for f in dt.fields:
            total = total + _arrow_bytes(col.getField(f.name), f.dataType)
        return total
    if isinstance(dt, T.ArrayType):
        return _elements_bytes(col, dt.elementType) + 4
    if isinstance(dt, T.MapType):
        return _elements_bytes(F.map_keys(col), dt.keyType) \
            + _elements_bytes(F.map_values(col), dt.valueType) + 4
    width = _ARROW_WIDTH.get(type(dt))
    if width is None:
        raise TypeError(f"no Arrow width for {dt}")
    return F.lit(width).cast("long")


def _elements_bytes(arr: Column, elem: T.DataType) -> Column:
    """:func:`_arrow_bytes` summed over the elements of the array
    ``arr``; 0 for a NULL array."""
    zero = F.lit(0).cast("long")
    return F.coalesce(F.aggregate(
        arr, zero, lambda acc, x: acc + _arrow_bytes(x, elem)
    ), zero)


def _reads_listed_files(plan) -> bool:
    """Every leaf of ``plan`` is a path read whose files were listed
    once, and no node carries a subquery (whose leaves the walk would
    not see)."""
    if not plan.subqueries().isEmpty():
        return False
    if plan.getClass().getSimpleName() == "LogicalRelation":
        return (
            not plan.catalogTable().isDefined()
            and plan.relation().location().getClass().getSimpleName()
            == "InMemoryFileIndex"
        )
    children = plan.children()
    if children.isEmpty():
        return False  # an in-memory or other non-file leaf
    it = children.iterator()
    while it.hasNext():
        if not _reads_listed_files(it.next()):
            return False
    return True


#: Driver-side widths of fixed-width parquet values (their Arrow widths,
#: or wider); a decimal is 16 B whatever its physical type.
_VALUE_WIDTH = {
    "BOOLEAN": 1, "INT32": 4, "INT64": 8, "INT96": 12, "FLOAT": 4,
    "DOUBLE": 8,
}

#: The encodings under which a BYTE_ARRAY chunk's footer-uncompressed
#: size bounds its decoded size: plain values carry their 4 B lengths,
#: and RLE and BIT_PACKED only encode levels.
_PLAIN_ENCODINGS = frozenset({"PLAIN", "RLE", "BIT_PACKED"})


def _decoded_bytes(path: str, spark) -> tuple[int, int] | None:
    """(rows, decoded bytes) of one parquet file, or None when its
    footer cannot bound them. A fixed-width value counts at its Arrow
    width (:data:`_VALUE_WIDTH`, 16 B for a decimal); a BYTE_ARRAY value
    at its unencoded size plus a 4 B offset. The footer-uncompressed
    size of a dictionary-encoded chunk is no bound — a column of
    repeated strings encodes to a few bytes — so such a chunk counts at
    the unencoded size its parquet size statistics record, read through
    the JVM footer (pyarrow 16 does not expose them). A chunk without
    them refuses: Spark records them, pyarrow 16 does not."""
    meta = _footer_meta(path, spark)
    if meta is None:
        return None
    blocks = None
    total = 0
    for j in range(meta.num_columns):
        col = meta.schema.column(j)
        if col.physical_type != "BYTE_ARRAY":
            width = 16 if col.logical_type.type == "DECIMAL" else (
                _VALUE_WIDTH.get(col.physical_type) or col.length
            )
            total += width * sum(
                meta.row_group(i).column(j).num_values
                for i in range(meta.num_row_groups)
            )
            continue
        for i in range(meta.num_row_groups):
            chunk = meta.row_group(i).column(j)
            total += 4 * chunk.num_values
            if set(chunk.encodings) <= _PLAIN_ENCODINGS:
                total += chunk.total_uncompressed_size
                continue
            if blocks is None:
                from ralf_spark.connectors import _jvm_handles

                jvm, handles = spark._jvm, _jvm_handles(spark)  # type: ignore[attr-defined]
                blocks = jvm.org.apache.parquet.hadoop.ParquetFileReader \
                    .readFooter(
                        handles.conf, handles.Path(path),
                        jvm.org.apache.parquet.format.converter
                        .ParquetMetadataConverter.NO_FILTER,
                    ).getBlocks()
            stats = blocks.get(i).getColumns().get(j).getSizeStatistics()
            unencoded = None if stats is None or not stats.isValid() else \
                stats.getUnencodedByteArrayDataBytes().orElse(None)
            if unencoded is None:
                return None
            total += int(unencoded)
    return meta.num_rows, total


def choose_broadcast(bound_fn) -> bool:
    """Broadcast only while the measured pair bound ``bound_fn()`` stays
    at most :data:`BROADCAST_CANDIDATE_LIMIT`. This turns the one
    documented scale hazard (a broadcast of a data-dependent candidate
    set) into graceful degradation: above the limit the verification
    joins carry no hints and the planner falls back to a shuffle join —
    slower, alive."""
    return bound_fn() <= BROADCAST_CANDIDATE_LIMIT


def _bounded_input_files(df: DataFrame) -> list | None:
    """The parquet files under ``df``'s ANALYZED logical plan, or None
    when the plan cannot prove its row count bounded by them (r16).

    ``df.inputFiles()`` goes blank as soon as any upstream frame is
    persisted (cache substitution hides the scans), which silently
    disabled the small-corpus shortcut exactly where pipelines compose
    operators (the curation build's semi-joined survivor sets). The
    analyzed plan is PRE-substitution, so walking it recovers the file
    relations — and the walk doubles as a soundness check: only
    row-bounded nodes are admitted (a semi/anti join keeps rows <= its
    left side; both sides' files only over-count the bound), so a
    row-multiplying lineage (inner join, explode) can never sneak an
    under-counted corpus past the byte bound."""
    try:
        out: list = []

        def walk(p) -> bool:
            cls = p.getClass().getSimpleName()
            if cls == "LogicalRelation":
                rel = p.relation()
                if rel.getClass().getSimpleName() != "HadoopFsRelation":
                    return False
                # pre-gate on the relation's ON-DISK size (already on
                # the driver, no listing materialized): parquet
                # compressed <= uncompressed, so past the byte budget
                # the uncompressed bound fails a fortiori — refuse
                # WITHOUT pulling a 100 TB table's file list through
                # py4j or reading any footer (r16 review)
                if int(rel.sizeInBytes()) > SMALL_INPUT_BYTES:
                    return False
                out.extend(rel.location().inputFiles())
                return True
            if cls == "Join":
                if p.joinType().toString() not in ("LeftSemi", "LeftAnti"):
                    return False
            elif cls not in _ROW_BOUNDED_NODES:
                return False
            it = p.children().iterator()
            while it.hasNext():
                if not walk(it.next()):
                    return False
            return True

        if not walk(df._jdf.queryExecution().analyzed()):
            return None
        return out or None
    except Exception:
        return None


def _footer_meta(path: str, spark=None):
    """pyarrow ``FileMetaData`` of one parquet file, read driver-side
    (no Spark job): local paths open directly; remote schemes stream
    just the footer tail through the Hadoop FS API. Returns None when
    unreadable."""
    try:
        import pyarrow.parquet as pq

        scheme = path.split("://", 1)[0] if "://" in path else ""
        if scheme in ("", "file"):
            local = path[7:] if path.startswith("file://") else (
                path[5:] if path.startswith("file:") else path
            )
            return pq.ParquetFile(local).metadata
        if spark is None:
            return None
        return _footer_meta_remote(spark, path)
    except Exception:
        return None


def _footer_meta_remote(spark, path: str):
    """FileMetaData of one parquet file on a remote Hadoop filesystem,
    from a seek-to-tail footer read (no full-file transfer): the parquet
    trailer is ``<footer thrift> <4-byte LE footer_len> PAR1``; a
    synthetic ``PAR1 + footer + trailer`` buffer satisfies
    ``pq.read_metadata`` exactly (it never dereferences row-group byte
    offsets)."""
    import io
    import struct

    import pyarrow.parquet as pq

    from ralf_spark.connectors import _hadoop_fs, _jvm_handles

    fs, jpath = _hadoop_fs(spark, path)
    size = int(fs.getFileStatus(jpath).getLen())
    if size < 12:
        return None
    io_utils = _jvm_handles(spark).IOUtils

    def tail(n: int) -> bytes:
        stream = fs.open(jpath)
        try:
            stream.seek(size - n)
            return bytes(io_utils.toByteArray(stream))
        finally:
            stream.close()

    t = tail(min(size, 64 * 1024))
    if t[-4:] != b"PAR1":
        return None
    footer_len = struct.unpack("<I", t[-8:-4])[0]
    if footer_len + 8 > size:
        return None
    if footer_len + 8 > len(t):
        t = tail(footer_len + 8)
    buf = b"PAR1" + t[-(footer_len + 8):]
    return pq.read_metadata(io.BytesIO(buf))
