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

from ralf_spark.connectors import StateConnector, _recover_staged_publish
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


class _KeyIndex:
    """The point index of one registration: the table copied to the
    driver as Arrow, and each key's newest row position — ralf's point
    query, a lookup in the operator's in-memory state table
    (``ralf/state/table_state.py:36-40``)."""

    def __init__(self, tbl, schema: T.StructType, key_type: type,
                 pos: dict) -> None:
        self.tbl = tbl
        self.schema = schema
        self.key_type = key_type
        self.pos = pos

    @classmethod
    def build(cls, table: FeatureTable) -> "_KeyIndex | None":
        """The index of ``table``, or None when a condition fails and
        ``FeatureTable.point_query`` serves instead (a keyless or
        unordered table raises its ``ValueError`` there): the key column
        is integral or a binary-collated string; ts and seq are
        integral, date, timestamp or binary-collated strings; every
        column type is served; and ``sizing.provably_small_snapshot``
        proves the copy small and every run of the table equal."""
        import pyarrow.compute as pc

        order = [c for c in (table.ts, table.seq) if c]
        if table.key is None or not order:
            return None
        schema = table.df.schema
        types = {f.name: f.dataType for f in schema.fields}
        if len(types) < len(schema.fields):
            return None  # a repeated column name
        key_dt = types.get(table.key)
        if isinstance(key_dt, T.IntegralType):
            key_type: type = int
        elif _binary_string(key_dt):
            key_type = str
        else:
            return None
        if not all(
            isinstance(types.get(c), _ORDER_TYPES)
            or _binary_string(types.get(c))
            for c in order
        ) or not all(_served(f.dataType) for f in schema.fields):
            return None
        x = sizing.EXPANSION
        if not sizing.provably_small_snapshot(
            table.df, per_byte=x["index_byte"], per_row=x["index_row"]
        ):
            return None
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
        if len(pos) < tbl.num_rows:
            # a key repeats: keep its newest row in latest()'s order
            # (ts, then seq, descending, NULL below every value); the
            # dict keeps the last position it is given for a key
            ranked = pc.sort_indices(
                tbl, sort_keys=[(c, "descending") for c in order],
                null_placement="at_end",
            )
            pos = dict(zip(
                reversed(keys.take(ranked).to_numpy().tolist()),
                reversed(ranked.to_numpy().tolist()),
            ))
        return cls(tbl, schema, key_type, pos)

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


class FeatureStore:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._tables: dict[str, FeatureTable] = {}
        self._connectors: dict[str, StateConnector] = {}
        # name -> its registration's point index, None once refused
        self._indexes: dict[str, _KeyIndex | None] = {}

    # ------------------------------------------------------------- sources
    def read_parquet(
        self,
        path: str,
        key: str | None = None,
        ts: str | None = None,
        seq: str | None = None,
    ) -> FeatureTable:
        """Parquet source; a publish a crash cut between its renames
        (``upsert_into`` state) is recovered before the read."""
        _recover_staged_publish(self.spark, path)
        return FeatureTable(self.spark.read.parquet(path), key=key, ts=ts, seq=seq)

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

    def from_dataframe(
        self,
        df: DataFrame,
        key: str | None = None,
        ts: str | None = None,
        seq: str | None = None,
    ) -> FeatureTable:
        return FeatureTable(df, key=key, ts=ts, seq=seq)

    def sql(self, query: str, **meta: str) -> FeatureTable:
        return FeatureTable(self.spark.sql(query), **meta)

    # ------------------------------------------------------------ registry
    def register(self, name: str, table: FeatureTable) -> FeatureTable:
        """Make ``table`` queryable by name (ralf ``.as_queryable``).
        Drops the name's point index: the next point read builds one
        for ``table``."""
        self._tables[name] = table
        self._indexes.pop(name, None)
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

        A registration is a snapshot: once the files under it are
        replaced (a later ``upsert_into`` publishes new ones), a read
        still returns the row the index copied, where a Spark read fails
        on the missing files. Register the table again to serve the new
        state."""
        table = self._tables[name]
        if name not in self._indexes:
            self._indexes[name] = _KeyIndex.build(table)
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
