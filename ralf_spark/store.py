"""FeatureStore: session-scoped entry point (ralf's ``Ralf()`` /
``RalfApplication``, ``ralf/core.py:13-104``, ``ralf/v2/api.py:141-184``).

Where the reference registers actor-pool tables and deploys a DAG, here the
store just constructs keyed FeatureTables from sources; the "DAG" is the
DataFrames' logical plan and "deploy" is any action. Tables registered via
``register`` become queryable by name (ralf's ``.as_queryable(name)``,
``ralf/table.py:153-157``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from ralf_spark.connectors import (
    StateConnector,
    _recover_staged_publish,
    read_upsert_state,
    upsert_state_meta,
)
from ralf_spark.plans import sizing
from ralf_spark.table import FeatureTable

#: Column types the point index serves: the Rows it converts from Arrow
#: equal ``collect()``'s for each (pinned by ``tests/test_store.py``).
_SERVED_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType,
)

#: Ordering column types whose Arrow sort order is Spark's, beside
#: binary-collated strings: floats are left out, so NaN order never
#: matters.
_ORDER_TYPES = (
    T.IntegralType, T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _served(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _served(dt.elementType)
    if isinstance(dt, T.MapType):
        return _served(dt.keyType) and _served(dt.valueType)
    if isinstance(dt, T.StructType):
        return all(_served(f.dataType) for f in dt.fields)
    return isinstance(dt, _SERVED_TYPES)


def _binary_string(dt: T.DataType | None) -> bool:
    return isinstance(dt, T.StringType) and dt.collation == "UTF8_BINARY"


def arrow_key_type(table: FeatureTable) -> type | None:
    """``int`` or ``str``, the Python type of ``table``'s key, when the
    driver may rank and serve ``table``'s rows in Arrow exactly as Spark
    does, else None: the table has a key and an order, no repeated
    column name, an integral or binary-collated string key, ts and seq
    of :data:`_ORDER_TYPES` or binary-collated strings, and only
    :data:`_SERVED_TYPES` columns, nested ones included."""
    order = [c for c in (table.ts, table.seq) if c]
    fields = table.df.schema.fields
    types = {f.name: f.dataType for f in fields}
    if table.key is None or not order or len(types) < len(fields):
        return None
    if not all(
        isinstance(types.get(c), _ORDER_TYPES) or _binary_string(types.get(c))
        for c in order
    ) or not all(_served(dt) for dt in types.values()):
        return None
    key_dt = types.get(table.key)
    if isinstance(key_dt, T.IntegralType):
        return int
    return str if _binary_string(key_dt) else None


def newest_positions(tbl, key: str, order: list, candidates=None) -> dict:
    """key -> position of its newest row in the Arrow table ``tbl``,
    among the rows at positions ``candidates`` (every row when None), in
    ``FeatureTable.latest()``'s order: the ``order`` columns (ts, then
    seq) descending, NULL below every value. Arrow's order is Spark's
    for :data:`_ORDER_TYPES` and binary-collated strings. A NULL key is
    the key None and keeps one winner, as ``groupBy`` does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cand = pa.array(
        range(tbl.num_rows) if candidates is None else candidates, pa.int64()
    )
    sub = tbl.select([key, *order]).take(cand)
    ranked = pc.sort_indices(
        sub, sort_keys=[(c, "descending") for c in order],
        null_placement="at_end",
    )
    keys = sub[key].take(ranked)
    # the dict keeps the last position it is given for a key: feed the
    # ranking newest-last
    return dict(zip(
        reversed(keys.to_pylist() if keys.null_count
                 else keys.to_numpy().tolist()),
        reversed(cand.take(ranked).to_numpy().tolist()),
    ))


class _KeyIndex:
    """The point index of one registration: the table copied to the
    driver as Arrow, and each key's newest row position — ralf's point
    query, a lookup in the operator's in-memory state table
    (``ralf/state/table_state.py:36-40``). ``files`` is the
    registration's file set (path -> (length, mtime)) when it is a plain
    parquet scan, else None; ``sized`` its files' footer sizes
    (``sizing.provably_small_snapshot``'s memo)."""

    def __init__(self, tbl, schema: T.StructType, key: str, order: list,
                 key_type: type, pos: dict, files: dict | None,
                 sized: dict) -> None:
        self.tbl = tbl
        self.schema = schema
        self.key = key
        self.order = order
        self.key_type = key_type
        self.pos = pos
        self.files = files
        self.sized = sized

    @classmethod
    def build(
        cls, table: FeatureTable, seed: "_KeyIndex | None" = None
    ) -> "_KeyIndex | None":
        """The index of ``table``, or None when a condition fails and
        ``FeatureTable.point_query`` serves instead (a keyless or
        unordered table raises its ``ValueError`` there): the key column
        is integral or a binary-collated string; ts and seq are
        integral, date, timestamp or binary-collated strings; every
        column type is served; and ``sizing.provably_small_snapshot``
        proves the copy small and every run of the table equal.

        ``seed``, the index of an earlier registration, is folded
        forward instead of copying the whole table when both are plain
        parquet scans of one schema, key and order, and ``table``'s
        files are a superset of the seed's (an ``upsert_into`` append):
        one Spark job reads only the new files."""
        import pyarrow.compute as pc

        order = [c for c in (table.ts, table.seq) if c]
        key_type = arrow_key_type(table)
        if key_type is None:
            return None
        schema = table.df.schema
        files = _scan_files(table.df)
        fold = (
            seed is not None and files is not None
            and seed.files is not None
            and (seed.schema, seed.key, seed.order)
            == (schema, table.key, order)
            and seed.files.items() <= files.items()
        )
        # the seed's files are unchanged: their footers are not re-read
        sized = dict(seed.sized) if fold else {}
        x = sizing.EXPANSION
        if not sizing.provably_small_snapshot(
            table.df, per_byte=x["index_byte"], per_row=x["index_row"],
            sized=sized,
        ):
            return None
        if fold:
            new = [f for f in files if f not in seed.files]
            spark = table.df.sparkSession
            try:
                tbl = spark.read.schema(schema).parquet(*new).toArrow() \
                    if new else None  # the one Spark job
                return seed._fold(tbl, files, sized)
            except Exception:
                pass  # the copy of the whole table reports or serves
        try:
            tbl = table.df.toArrow()  # the one Spark job
        except Exception:
            # e.g. files deleted since the frame listed them: the Spark
            # read reports the failure as it always did
            return None
        keys = tbl[table.key]
        if keys.null_count:
            tbl = tbl.filter(pc.is_valid(keys))
            keys = tbl[table.key]
        pos = dict(zip(keys.to_numpy().tolist(), range(tbl.num_rows)))
        index = cls(tbl, schema, table.key, order, key_type, pos, files, sized)
        if len(pos) < tbl.num_rows:
            # a key repeats: keep its newest row in latest()'s order
            index._rank(range(tbl.num_rows))
        return index

    def _rank(self, candidates) -> None:
        """Point each key among the rows at positions ``candidates`` at
        its newest one (:func:`newest_positions`)."""
        self.pos.update(
            newest_positions(self.tbl, self.key, self.order, candidates)
        )

    def _fold(self, new, files: dict, sized: dict) -> "_KeyIndex":
        """This index with the rows of ``new`` (an Arrow table of the
        new files, or None) appended to a fresh contiguous table, and the
        keys they touch re-pointed over their old and new rows."""
        import pyarrow as pa
        import pyarrow.compute as pc

        out = _KeyIndex(self.tbl, self.schema, self.key, self.order,
                        self.key_type, dict(self.pos), files, sized)
        if new is None:
            return out
        keys = new[self.key]
        if keys.null_count:
            new = new.filter(pc.is_valid(keys))
            keys = new[self.key]
        n0 = self.tbl.num_rows
        out.tbl = pa.concat_tables([self.tbl, new]).combine_chunks()
        touched = {
            self.pos[k] for k in keys.to_numpy().tolist() if k in self.pos
        }
        out._rank([*range(n0, n0 + new.num_rows), *touched])
        return out

    def rows(self, key_value: Any) -> list[Row] | None:
        """The key's newest row (``[]`` when absent), or None for a
        looked-up value of another type, which ``FeatureTable.point_query``
        serves with Spark's casts and errors."""
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        if not isinstance(key_value, self.key_type) or isinstance(
            key_value, bool
        ):
            return None
        i = self.pos.get(key_value)
        if i is None:
            return []
        return ArrowTableToRowsConversion.convert(
            self.tbl.slice(i, 1), self.schema
        )


def _scan_files(df: DataFrame) -> dict | None:
    """path -> (length, mtime) of every file ``df`` reads, when ``df``
    is a plain parquet scan — a path read without reader options,
    optionally projected to some of its data columns, so that reading a
    subset of its files with ``df``'s schema yields their rows of ``df``
    — else None. The listing is the one the frame was made with: no
    filesystem call."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "Project":
            it = plan.projectList().iterator()
            while it.hasNext():
                if it.next().getClass().getSimpleName() != "AttributeReference":
                    return None
            plan = plan.child()
        if (
            plan.getClass().getSimpleName() != "LogicalRelation"
            or plan.catalogTable().isDefined()
        ):
            return None
        rel = plan.relation()
        if (
            rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"
            or rel.location().getClass().getSimpleName() != "InMemoryFileIndex"
            or not set(df.columns) <= set(rel.dataSchema().fieldNames())
        ):
            return None
        it = rel.options().keysIterator()
        while it.hasNext():
            if it.next() not in ("path", "paths"):
                return None  # a reader option a plain re-read would drop
        out = {}
        it = rel.location().allFiles().iterator()
        while it.hasNext():
            st = it.next()
            out[st.getPath().toString()] = (
                int(st.getLen()), int(st.getModificationTime())
            )
        return out
    except Exception:
        return None


class FeatureStore:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._tables: dict[str, FeatureTable] = {}
        self._connectors: dict[str, StateConnector] = {}
        # name -> its registration's point index, None once refused
        self._indexes: dict[str, _KeyIndex | None] = {}
        # name -> the index of an earlier registration, to fold forward
        self._seeds: dict[str, _KeyIndex] = {}

    # ------------------------------------------------------------- sources
    def read_parquet(
        self,
        path: str,
        key: str | None = None,
        ts: str | None = None,
        seq: str | None = None,
    ) -> FeatureTable:
        """Parquet source; a publish a crash cut between its renames
        (``upsert_into`` state) is recovered before the read.

        On ``upsert_into`` state (a directory holding its sidecar) the
        frame is the union of the base and every appended batch of
        per-key winners, opened with the stored schema (no schema job).
        Its ``latest()``, ``bulk_query()`` and point reads are the state;
        its ``df`` may hold an older winner of a key beside the newest
        one. ``latest()`` is idempotent, so the read is exact in every
        crash state of a compaction: both copies of the folded batches,
        or one."""
        _recover_staged_publish(self.spark, path)
        meta = upsert_state_meta(self.spark, path)
        df = (
            self.spark.read.parquet(path) if meta is None
            else read_upsert_state(self.spark, path, meta)
        )
        return FeatureTable(df, key=key, ts=ts, seq=seq)

    def read_csv(
        self,
        path: str,
        key: str | None = None,
        ts: str | None = None,
        seq: str | None = None,
        **options: Any,
    ) -> FeatureTable:
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        df = self.spark.read.options(**options).csv(path)
        return FeatureTable(df, key=key, ts=ts, seq=seq)

    def read_jsonl(
        self,
        path: str,
        schema: str | None = None,
        key: str | None = None,
        ts: str | None = None,
        seq: str | None = None,
        **options: Any,
    ) -> FeatureTable:
        """JSON-lines source (one JSON object per line — the other
        ubiquitous raw-event interchange format besides CSV).

        Pass ``schema`` (DDL string) in production: schema inference
        costs a full extra pass over the data, and a 100 TB scan should
        never pay it. Corrupt lines land in ``_corrupt_record`` under the
        default PERMISSIVE mode instead of failing the job."""
        reader = self.spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return FeatureTable(reader.json(path), key=key, ts=ts, seq=seq)

    def sql(self, query: str, **meta: str) -> FeatureTable:
        return FeatureTable(self.spark.sql(query), **meta)

    # ------------------------------------------------------------ registry
    def register(self, name: str, table: FeatureTable) -> FeatureTable:
        """Make ``table`` queryable by name (ralf ``.as_queryable``).
        Drops the name's point index: the next point read builds one
        for ``table``, folding the dropped one forward when ``table``
        only adds files to it (:meth:`point_query`)."""
        self._tables[name] = table
        old = self._indexes.pop(name, None)
        if old is not None:
            self._seeds[name] = old
        table.df.createOrReplaceTempView(name)
        return table

    def table(self, name: str) -> FeatureTable:
        return self._tables[name]

    def point_query(self, name: str, key_value: Any) -> list[Row]:
        """Engine equivalent of ``RalfClient.point_query`` (``ralf/client.py:
        8-11``): latest state for one key of a registered table, the
        Rows ``FeatureTable.point_query`` returns.

        The first read after :meth:`register` builds the registration's
        point index — one Spark job copies the table to the driver as
        Arrow, then each key maps to its newest row — and that read and
        every later one are dict lookups with no Spark job. The index is
        only built when ``sizing.provably_small_snapshot`` proves the
        copy small and its files listed once, and for key, ordering and
        column types whose Rows equal ``collect()``'s; otherwise, and
        for a looked-up value that is not an ``int`` (integral key) or
        ``str`` (string key), ``FeatureTable.point_query`` serves with
        its result or error. ``SPARK_GRAFT_SMALL_CORPUS=0`` refuses the
        index as every small spelling.

        A registration is a snapshot: it keeps serving the rows of the
        files it listed. A later ``upsert_into`` appends files beside
        them (a compaction replaces them; then a Spark read of the old
        registration fails on the missing files, while the index still
        serves its copy). Register the table again to serve the new
        state: when the new registration lists the old one's files
        (path, length and mtime) plus new ones, in the same schema, the
        first read folds only the new files into the old index — one
        Spark job over the appended batches instead of a copy of the
        whole state."""
        table = self._tables[name]
        if name not in self._indexes:
            self._indexes[name] = _KeyIndex.build(
                table, self._seeds.pop(name, None)
            )
        index = self._indexes[name]
        rows = None if index is None else index.rows(key_value)
        return table.point_query(key_value) if rows is None else rows

    def bulk_query(
        self, name: str, collect: bool = False
    ) -> DataFrame | list[Row]:
        """Full state view of a registered table; ``collect=True`` for the
        driver-side row list (RalfClient.bulk_query shape)."""
        return self._tables[name].bulk_query(collect=collect)

    # ------------------------------------------------------- deploy / run
    def deploy(
        self,
        name: str,
        table: FeatureTable,
        connector: StateConnector | None = None,
    ) -> FeatureTable:
        """Register ``table`` and (optionally) attach the state connector
        its latest-per-key state materializes into — the reference's
        ``Ralf.deploy(table, name)`` (``ralf/core.py:94-96``) plus the
        per-table connector its operators carry
        (``ralf/v2/api.py:100-135``)."""
        self.register(name, table)
        if connector is not None:
            self._connectors[name] = connector
        return table

    def materialize(self, name: str) -> None:
        """Persist one deployed table's state through its connector."""
        self._connectors[name].save(self._tables[name])

    def run(self) -> None:
        """Materialize every deployed table with a connector — the batch
        analog of the reference's graph deploy + source pump
        (``ralf/core.py:85-92``: v1 ``run`` broadcasts ``_next`` to
        sources; ``ralf/v2/api.py:177-180``: v2 walks the frame graph and
        deploys it). In Spark the DAG is each DataFrame's lineage, so
        "running the graph" is just an action per deployed sink; order
        between tables is irrelevant for correctness — each save computes
        its own full lineage, and shared upstream scans are amortized by
        persisting the shared frame (caller's choice, same trade-off the
        dedup operators document)."""
        for name in self._connectors:
            self.materialize(name)

    def load_state(self, name: str) -> FeatureTable:
        """Read a deployed table's materialized state back from its
        connector (the serving-side view, without recomputing lineage)."""
        return self._connectors[name].load(self.spark)
