"""Skew-safe aggregation patterns (SURVEY §2.9 X3 fairness note; the brief's
"salting for skew" lever).

Plain algebraic aggs (sum/avg/min/max/count) are already skew-proof in Spark:
map-side partial aggregation reduces each partition before the shuffle, so a
hot key ships one partial row per input partition. Skew actually bites when
the per-key REDUCTION STATE is large — exact distinct counts, collect_list,
top-k heaps — because all of a hot key's state funnels through one task.

The fix is salting: split each key's state across ``salt_buckets`` sub-keys
chosen by hashing the VALUE (not random — value-hash makes buckets disjoint,
so per-bucket results combine exactly), aggregate per (key, salt), then
combine per key. Two shuffles, each with bounded per-task state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ralf_spark.table import FeatureTable

#: hot-task tolerance of the auto salt sizing: salting turns on only when
#: the hot key would exceed ``SALT_TARGET_RATIO`` × the average task's
#: rows, and B is the smallest split that brings it back under.
SALT_TARGET_RATIO = 2.0

#: stats-first floor of the auto salt sizing (r11, VERDICT r10 #6): when
#: the PLAN's row estimate says the whole input is at most this many
#: rows, even a fully-skewed key is one modest task (the measured
#: straggler class started in the millions-of-rows-per-task regime,
#: SCALEPROBE findings 10/13), so the eager per-key stats job is
#: skipped entirely. The estimate deliberately over-counts
#: (sizeInBytes / 8 B per row), so the skip can only fire on inputs
#: well under the floor; anything bigger or of unknown size falls back
#: to the measured pass.
SALT_STATS_SKIP_ROWS = 1_000_000


def choose_salt_buckets(
    df: DataFrame,
    key: str,
    target_ratio: float = SALT_TARGET_RATIO,
    partitions: int | None = None,
    stats_skip_rows: int = SALT_STATS_SKIP_ROWS,
) -> int:
    """Size the salt from a measured hot-key share (r10, VERDICT r9 #3) —
    the ``choose_simhash_blocks`` discipline applied to salting: measure
    the quantity the cost model needs, pick the minimal knob that meets
    the bound, let an explicit argument pin anything.

    One column-pruned aggregation pass over ``df`` computes the top-1 key
    share ``s`` (two-level: per-key counts reduce map-side, then a 2-long
    driver row — never a per-key collect). With P shuffle partitions the
    unsalted hot key funnels ``s·n`` rows through ONE task, ``s·P``× the
    average; SCALEPROBE finding 10 measured that straggler at 254× while
    its own trade note showed oversalting (B=P/4 always) pays B× right-
    side replication even when skew doesn't dominate. So: return **1
    (unsalted — no replication) when s·P <= target_ratio**, else the
    smallest B with ``s·P/B <= target_ratio`` (hot task back under
    ``target_ratio`` × average), capped at P (finer than the partition
    count buys nothing).

    The stats pass costs one scan of ``df``'s key column; it is paid to
    avoid replicating the right side of a much heavier join. Callers who
    already know their skew pass an int instead (every oracle gate pins).

    Stats-first (r11, VERDICT r10 #6 — the
    :func:`~ralf_spark.operators.util.plan_row_estimate` recipe): when
    the PLAN's row estimate proves the input is at most
    ``stats_skip_rows`` rows, return 1 with NO Spark job at all — below
    that floor even total skew is one small task, and salting would
    only pay replication. ``stats_skip_rows=0`` disables the skip
    (forces the measured pass); unknown-size plans always measure.
    """
    if target_ratio <= 0:
        raise ValueError("target_ratio must be positive")
    if stats_skip_rows > 0:
        from ralf_spark.operators.util import plan_row_estimate

        est = plan_row_estimate(df)
        if 0 <= est <= stats_skip_rows:
            return 1  # provably small input: skew can't matter
    spark = df.sparkSession
    p = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c").alias("top1"), F.sum("_c").alias("total"))
        .head()
    )
    if not row or not row["total"]:
        return 1  # empty input — nothing to balance
    skew = (row["top1"] / row["total"]) * p
    if skew <= target_ratio:
        return 1
    return min(p, math.ceil(skew / target_ratio))


def salted_distinct_count(
    table: FeatureTable,
    value: str | Column,
    out_col: str = "n_distinct",
    salt_buckets: int = 16,
) -> DataFrame:
    """Exact per-key distinct count with the distinct state split
    ``salt_buckets`` ways.

    Value-hash salting partitions each key's distinct VALUES disjointly
    across buckets, so Σ per-bucket distinct == exact distinct. A hot key's
    distinct-hash-set is 1/n per task instead of one giant set.
    """
    if table.key is None:
        raise ValueError("salted_distinct_count requires a keyed table")
    v = F.col(value) if isinstance(value, str) else value
    salt = F.pmod(F.xxhash64(v), F.lit(salt_buckets))
    partial = (
        table.df.withColumn("_salt", salt)
        .groupBy(table.key, "_salt")
        .agg(F.count_distinct(v).alias("_partial"))
    )
    return (
        partial.groupBy(table.key)
        .agg(F.sum("_partial").cast("long").alias(out_col))
    )


def salted_topk_by_count(
    table: FeatureTable,
    value: str | Column,
    k: int = 10,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-key top-k most frequent values, skew-safe.

    Counting per (key, value) already distributes (the pair key is fine-
    grained); the salt guards the DEGENERATE case where one (key, value)
    pair dominates: partial counts per (key, value, salt-of-partition)
    combine associatively. Final per-key ranking only sees one row per
    distinct value.
    """
    if table.key is None:
        raise ValueError("salted_topk_by_count requires a keyed table")
    from pyspark.sql import Window

    v = F.col(value) if isinstance(value, str) else value
    salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    partial = (
        table.df.withColumn("_salt", salt)
        .groupBy(table.key, v.alias("_v"), F.col("_salt"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(table.key, "_v")
        .agg(F.sum("_c").alias("n"))
    )
    w = Window.partitionBy(table.key).orderBy(F.col("n").desc(), F.col("_v"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .withColumnRenamed("_v", "value")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_on: str,
    salt_buckets: int | str = "auto",
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the LEFT side's hot keys split ``salt_buckets`` ways.

    A hot join key funnels all its rows through one shuffle task; salting
    sub-partitions it: each left row gets a deterministic salt from
    ``salt_on`` (a unique-ish column — value-hash, so replays salt
    identically), and the RIGHT side is replicated once per salt value, so
    (key, salt) pairs co-locate. Right-side cost is ``salt_buckets`` ×
    |right| — the technique fits fact⋈dim joins where the dim is modest.

    ``salt_buckets="auto"`` (default, r10): size B from the measured
    hot-key share — :func:`choose_salt_buckets` returns 1 (unsalted, no
    replication) below the skew threshold and the minimal sufficient
    split above it, so callers stop paying B× replication when skew
    doesn't dominate (SCALEPROBE finding 10's trade). Costs one stats
    pass over the left key column; pass an int to pin.

    Result is row-identical to the plain join (asserted in tests and by
    the registry oracle). AQE's skew-split covers sort-merge joins
    adaptively; explicit salting remains the tool for stateful/windowed
    paths AQE won't touch and for engines without it.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    if salt_buckets == "auto":
        salt_buckets = choose_salt_buckets(left, key)
    elif isinstance(salt_buckets, str):
        raise ValueError(
            f"salt_buckets must be 'auto' or an int; got {salt_buckets!r}"
        )
    salt = F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salt_buckets)).cast("int")
    l_s = left.withColumn("_salt", salt)
    r_s = right.withColumn(
        # sequence of int literals yields int elements, matching the left
        # salt's cast; explode cannot be nested inside another expression
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    out = l_s.join(r_s, [key, "_salt"], how)
    return out.drop("_salt")


def salted_asof_join(
    left: FeatureTable,
    right: FeatureTable,
    salt_on: str,
    salt_buckets: int | str = "auto",
    left_on: str | None = None,
    right_on: str | None = None,
    tolerance: Column | None = None,
    right_payload: list[str] | None = None,
    direction: str = "backward",
) -> FeatureTable:
    """Skew-safe as-of join (r9, VERDICT r8 #5): the plain
    :func:`~ralf_spark.operators.joins.asof_join` is one window over
    ``PARTITION BY key`` — a hot key funnels ALL its rows (both sides)
    through one task, and AQE's skew split cannot divide a window
    partition the way it divides a sort-merge join. Salting CAN, because
    as-of state is replayable per subset: salt each LEFT row by hashing
    ``salt_on`` (value-hash — replays identically), replicate every RIGHT
    row to all ``salt_buckets`` salts, and run the identical window over
    the composite (key, salt) partition. Each left row still sees the
    FULL right history of its key, so the result is row-identical to the
    unsalted join (pinned by test and probe); the hot key's left rows now
    spread across ``salt_buckets`` tasks. Cost: right side ×
    ``salt_buckets`` — the fact⋈dim-history shape, same trade as
    :func:`salted_join`.

    ``tolerance`` / ``direction`` / ``right_payload`` pass through with
    :func:`asof_join` semantics; tie order within a (key, salt) subset is
    unchanged (same (ts, seq, side) comparator over the same rows).

    ``salt_buckets="auto"`` (default, r10): B from the measured left
    hot-key share via :func:`choose_salt_buckets` — 1 (no replication)
    below the skew threshold, the minimal sufficient split above; an
    int pins (the oracle gate pins 8).
    """
    from ralf_spark.operators.joins import asof_join

    lk = left_on or left.key
    rk = right_on or right.key
    if lk is None or rk is None:
        raise ValueError("salted_asof_join needs keyed tables")
    if salt_buckets == "auto":
        salt_buckets = choose_salt_buckets(left.df, lk)
    elif isinstance(salt_buckets, str):
        raise ValueError(
            f"salt_buckets must be 'auto' or an int; got {salt_buckets!r}"
        )
    rp = right_payload or [
        c for c in right.df.columns if c not in (rk, right.ts)
    ]
    salt = F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salt_buckets)).cast("int")
    l2 = left.df.withColumn("_salt", salt).withColumn(
        "_sk", F.struct(F.col(lk).alias("k"), F.col("_salt").alias("s"))
    )
    r2 = right.df.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn(
        "_sk", F.struct(F.col(rk).alias("k"), F.col("_salt").alias("s"))
    )
    out = asof_join(
        FeatureTable(l2, key="_sk", ts=left.ts, seq=left.seq),
        FeatureTable(r2, key="_sk", ts=right.ts, seq=right.seq),
        tolerance=tolerance,
        right_payload=rp,
        direction=direction,
    )
    df = out.df.drop("_salt", "_sk")
    return FeatureTable(
        df,
        key=lk if lk in df.columns else None,
        ts=left.ts if left.ts and left.ts in df.columns else None,
        seq=left.seq if left.seq and left.seq in df.columns else None,
    )
