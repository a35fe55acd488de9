"""Registry entries: behavioral analytics (funnels, cohort retention).

The downstream analyses the reference's per-user feature tables exist to
feed, expressed as relational plans with integer-epoch time math so the
DuckDB oracles replay exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ralf_spark.operators.analytics import (
    US_PER_DAY,
    cohort_retention,
    funnel_stages,
)
from ralf_spark.functions.timeutil import epoch_us
from ralf_spark.queries import _scratch, _t, query

#: the fixture's natural conversion funnel
_FUNNEL = ["view", "click", "purchase"]


@query(
    "funnel_view_click_purchase",
    """
    WITH t1 AS (
      SELECT user_id, min(epoch_ns(ts) // 1000) AS t1_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t2_us
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND epoch_ns(e.ts) // 1000 > t1.t1_us
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t3_us
      FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > t2.t2_us
      GROUP BY e.user_id
    )
    SELECT t1.user_id, t1_us, t2_us, t3_us,
           CASE WHEN t3_us IS NOT NULL THEN 3
                WHEN t2_us IS NOT NULL THEN 2
                ELSE 1 END AS stage_reached
    FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    ORDER BY user_id
    """,
)
def funnel_view_click_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel with strict min-time chaining
    (a purchase before the first post-view click does not convert)."""
    ev = _t(spark, sf_dir, "events")
    out = funnel_stages(ev.df, _FUNNEL)
    return out.select(
        "user_id", "t1_us", "t2_us", "t3_us", "stage_reached"
    ).orderBy("user_id")


@query(
    "cohort_weekly_retention",
    f"""
    WITH ev AS (
      SELECT user_id, event_type,
             epoch_ns(ts) // 1000 // {US_PER_DAY} AS d
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(d) AS cohort_day
      FROM ev WHERE event_type = 'signup' GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, c.cohort_day,
             (e.d - c.cohort_day) // 7 AS week_offset
      FROM ev e JOIN cohorts c USING (user_id)
      WHERE e.d >= c.cohort_day
    )
    SELECT cohort_day, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM active GROUP BY cohort_day, week_offset
    ORDER BY cohort_day, week_offset
    """,
)
def cohort_weekly_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup-cohort retention grid — integer epoch-day cohorts,
    week offsets from first signup; (cohort, week) cells of active
    distinct users."""
    ev = _t(spark, sf_dir, "events")
    return (
        cohort_retention(ev.df, cohort_type="signup")
        .orderBy("cohort_day", "week_offset")
    )


@query(
    "cube_type_day_totals",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_ns(ts) // 1000 // {US_PER_DAY} AS d, value
      FROM events
    )
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(d, -1) AS day_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM ev GROUP BY CUBE(event_type, d)
    ORDER BY event_type, day_idx
    """,
)
def cube_type_day_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over (event_type, day): every rollup combination in one
    pass — Spark expands grouping sets map-side, so the shuffle carries
    one partial row per (set, key), not one pass per set."""
    ev = _t(spark, sf_dir, "events")
    us = epoch_us(ev.df, "ts")
    d = ((us - us % US_PER_DAY) / US_PER_DAY).cast("long")
    return (
        ev.df.withColumn("d", d)
        .cube("event_type", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("d"), F.lit(-1)).alias("day_idx"),
            "n_events",
            "total_value",
        )
        .orderBy("event_type", "day_idx")
    )


@query(
    "value_percentiles_per_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def value_percentiles_per_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90/p99 per event type (Spark `percentile`
    == DuckDB `quantile_cont`, same linear interpolation). At extreme
    group cardinality the drop-in scale path is `approx_percentile`
    (t-digest-style mergeable sketch) with the same output shape."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.df.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "attribution_last_touch",
    """
    WITH m AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'click')
    ),
    p AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, a.attributed_event_id,
           a.attributed_type, a.gap_us
    FROM p
    LEFT JOIN LATERAL (
      SELECT m.event_id AS attributed_event_id,
             m.event_type AS attributed_type,
             epoch_ns(p.ts) // 1000 - epoch_ns(m.ts) // 1000 AS gap_us
      FROM m
      WHERE m.user_id = p.user_id
        AND (m.ts < p.ts OR (m.ts = p.ts AND m.event_id <= p.event_id))
      ORDER BY m.ts DESC, m.event_id DESC LIMIT 1
    ) a ON true
    ORDER BY event_id
    """,
)
def attribution_last_touch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase credits the LAST preceding
    view/click by the same user — an as-of join with the purchase stream
    as the left side (reuses :func:`~ralf_spark.operators.joins.asof_join`,
    so it inherits the union + single-rows-frame-window plan: one shuffle
    on the user key, no time-range self-join blowup). ``gap_us`` is the
    click-to-purchase latency in epoch micros (type-polymorphic via
    timestamp_diff — works on the fixtures' NTZ event time)."""
    from ralf_spark.operators.joins import asof_join
    from ralf_spark.table import FeatureTable

    ev = _t(spark, sf_dir, "events")
    purchases = FeatureTable(
        ev.df.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        ),
        key="user_id", ts="ts", seq="event_id",
    )
    marketing = FeatureTable(
        ev.df.where(F.col("event_type").isin("view", "click")).select(
            "user_id", "ts", "event_id",
            F.col("event_id").alias("attributed_event_id"),
            F.col("event_type").alias("attributed_type"),
            F.col("ts").alias("m_ts"),
        ),
        key="user_id", ts="ts", seq="event_id",
    )
    out = asof_join(
        purchases, marketing,
        right_payload=["attributed_event_id", "attributed_type", "m_ts"],
    )
    gap = epoch_us(out.df, "ts") - epoch_us(out.df, "m_ts")
    return out.df.select(
        "event_id", "user_id", "attributed_event_id", "attributed_type",
        gap.alias("gap_us"),
    ).orderBy("event_id")


@query(
    "set_ops_user_cohorts",
    """
    SELECT 'view_only' AS cohort, user_id FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
      EXCEPT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'view_and_purchase' AS cohort, user_id FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    ORDER BY cohort, user_id
    """,
)
def set_ops_user_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (SURVEY §2.6): EXCEPT (viewed but never purchased)
    and INTERSECT (did both) as native DataFrame ``subtract``/``intersect``
    — both plan as distinct hash-aggregations plus a left-anti/left-semi
    hash join on the same key partitioning, never a sort-based set op."""
    ev = _t(spark, sf_dir, "events")
    viewers = (
        ev.df.where(F.col("event_type") == "view").select("user_id").distinct()
    )
    buyers = (
        ev.df.where(F.col("event_type") == "purchase")
        .select("user_id").distinct()
    )
    view_only = viewers.subtract(buyers).select(
        F.lit("view_only").alias("cohort"), "user_id"
    )
    both = viewers.intersect(buyers).select(
        F.lit("view_and_purchase").alias("cohort"), "user_id"
    )
    return view_only.unionByName(both).orderBy("cohort", "user_id")


@query(
    "histogram_value_bins",
    """
    SELECT event_type,
           CAST(floor(round(value, 4) / 10) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(floor(round(value, 4) / 10) AS BIGINT)
    ORDER BY event_type, bin
    """,
)
def histogram_value_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of ``value`` per event type — the profiling
    primitive behind drift monitors and feature dashboards. Bin edges are
    data-independent (width 10 on the 4-decimal-rounded value), so the
    plan is ONE map-side-partial hash agg: no global min/max pre-pass, no
    second scan — at 100 TB the histogram costs the same as a count."""
    ev = _t(spark, sf_dir, "events")
    bin_ = F.floor(F.round(F.col("value"), 4) / 10).cast("long")
    return (
        ev.df.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bin")
    )


@query(
    "topk_users_per_type",
    """
    WITH tot AS (
      SELECT event_type, user_id, round(sum(value), 4) AS total
      FROM events GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, user_id, total,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY total DESC, user_id) AS rk
      FROM tot
    )
    SELECT event_type, user_id, total, rk FROM r
    WHERE rk <= 3 ORDER BY event_type, rk
    """,
)
def topk_users_per_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (top 3 spenders per event type): hash-agg then
    rank-filter window. The window partitions on event_type — acceptable
    because the agg has already reduced cardinality to |types|×|users|;
    at extreme fan-in the same query routes through the salted two-phase
    top-k (each salt keeps its local top-3, then re-rank)."""
    ev = _t(spark, sf_dir, "events")
    tot = ev.df.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 4).alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total").desc(), F.col("user_id")
    )
    return (
        tot.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .orderBy("event_type", "rk")
    )


@query(
    "profile_columns",
    """
    SELECT 'event_id' AS col_name, count(*) AS n,
           count(*) - count(event_id) AS n_null,
           count(DISTINCT event_id) AS n_distinct,
           round(min(event_id), 4) AS min_num,
           round(max(event_id), 4) AS max_num
    FROM events
    UNION ALL
    SELECT 'user_id', count(*), count(*) - count(user_id),
           count(DISTINCT user_id),
           round(min(user_id), 4), round(max(user_id), 4)
    FROM events
    UNION ALL
    SELECT 'value', count(*), count(*) - count(value),
           count(DISTINCT value),
           round(min(value), 4), round(max(value), 4)
    FROM events
    UNION ALL
    SELECT 'event_type', count(*), count(*) - count(event_type),
           count(DISTINCT event_type), NULL, NULL
    FROM events
    ORDER BY col_name
    """,
)
def profile_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (ANALYZE-style): per-column row/null/distinct
    counts and numeric ranges in ONE scan — each row fans out to one
    (col_name, value-as-string, value-as-double) cell via an inline array
    explode, then a single grouped aggregate per column computes count /
    nulls / exact distinct / min / max. Profiling a 100 TB table costs one
    pass regardless of column count (the oracle's UNION-ALL-per-column
    spelling scans once per column, fine at toy scale). The string cast is
    injective per type, so count(DISTINCT cast) == count(DISTINCT col);
    asserted single-scan in tests/test_analytics.py."""
    ev = _t(spark, sf_dir, "events")
    num_cols = ["event_id", "user_id", "value"]
    str_cols = ["event_type"]
    cells = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(c).cast("string").alias("v_str"),
            (F.col(c).cast("double") if c in num_cols
             else F.lit(None).cast("double")).alias("v_num"),
        )
        for c in num_cols + str_cols
    ]
    exploded = ev.df.select(F.explode(F.array(*cells)).alias("c")).select("c.*")
    is_num = F.col("col_name").isin(num_cols)
    return (
        exploded.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count("v_str")).alias("n_null"),
            F.count_distinct("v_str").alias("n_distinct"),
            F.round(F.min("v_num"), 4).alias("min_num"),
            F.round(F.max("v_num"), 4).alias("max_num"),
        )
        .select(
            "col_name", "n", "n_null", "n_distinct",
            F.when(is_num, F.col("min_num")).alias("min_num"),
            F.when(is_num, F.col("max_num")).alias("max_num"),
        )
        .orderBy("col_name")
    )


@query(
    "layout_partitioned_write_stats",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def layout_partitioned_write_stats_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E8 storage layout, driver-gated end to end: route the corpus
    through ``layout.write_partitioned`` (hive-style ``lang=`` partition
    directories, deterministic 2-way hash file split per directory) and
    aggregate the READ-BACK — the oracle is the same aggregation over the
    source table, so the gate proves the partitioned layout is lossless
    and the partition column round-trips through directory-name encoding
    exactly (strings survive hive escaping; counts/ids/sums intact).
    The file-level invariants the oracle cannot see (file count per
    directory, byte-stable re-runs, footer min/max tightness) are pinned
    by tests/test_layout.py."""
    import hashlib as _hl

    from ralf_spark.layout import write_partitioned

    docs = _t(spark, sf_dir, "documents").df
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    path = _scratch(f"layout_{tag}_")
    write_partitioned(
        docs, path, partition_by=["lang"],
        files_per_partition=2, split_on="doc_id",
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "layout_zorder_roundtrip",
    """
    SELECT user_id % 8 AS user_bucket, CAST(count(*) AS BIGINT) AS n_rows,
           min(event_id) AS min_event, max(event_id) AS max_event,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id % 8 ORDER BY user_bucket
    """,
)
def layout_zorder_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 Z-order clustering (r7) gated end to end: route events through
    ``layout.cluster_by_zorder`` on (user_id, value) — the Morton
    interleave over min/max-scaled grid cells — and aggregate the
    READ-BACK; the oracle is the same aggregation over the source table,
    proving the curve reshuffle+sort is lossless. The layout property the
    oracle cannot see (per-file footer min/max tight on BOTH columns,
    vs range-clustering's full-span trailing column) is pinned by
    tests/test_layout.py."""
    import hashlib as _hl

    from ralf_spark.layout import cluster_by_zorder

    ev = _t(spark, sf_dir, "events").df
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    path = _scratch(f"zorder_{tag}_") + "/t"
    cluster_by_zorder(
        ev.select("event_id", "user_id", "value"),
        ["user_id", "value"], num_files=8, path=path,
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy((F.col("user_id") % 8).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("user_bucket")
    )


@query(
    "events_column_profile",
    """
    WITH s AS (
      SELECT count(*) AS n,
             count(*) - count(event_id) AS nul_id,
             count(DISTINCT event_id) AS nd_id,
             CAST(min(event_id) AS VARCHAR) AS mn_id,
             CAST(max(event_id) AS VARCHAR) AS mx_id,
             count(*) - count(user_id) AS nul_u,
             count(DISTINCT user_id) AS nd_u,
             CAST(min(user_id) AS VARCHAR) AS mn_u,
             CAST(max(user_id) AS VARCHAR) AS mx_u,
             count(*) - count(event_type) AS nul_t,
             count(DISTINCT event_type) AS nd_t,
             min(event_type) AS mn_t, max(event_type) AS mx_t,
             avg(user_id) AS mean_u,
             avg(event_id) AS mean_id
      FROM events
    )
    SELECT 'event_id' AS col_name, n AS n_rows, nul_id AS n_nulls,
           round(nul_id / n, 6) AS null_frac, nd_id AS n_distinct,
           mn_id AS min_repr, mx_id AS max_repr,
           round(mean_id, 6) AS mean_r FROM s
    UNION ALL
    SELECT 'user_id', n, nul_u, round(nul_u / n, 6), nd_u, mn_u, mx_u,
           round(mean_u, 6) FROM s
    UNION ALL
    SELECT 'event_type', n, nul_t, round(nul_t / n, 6), nd_t, mn_t, mx_t,
           NULL FROM s
    ORDER BY col_name
    """,
)
def events_column_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling (r7, E9 extension): per-column
    nulls/distincts/range/mean for the events table in ONE aggregation
    pass (``operators.quality.column_profile`` — every metric is a
    map-side-partial agg; the driver sees one row per table). Means are
    gated on the INTEGER columns (they sum exactly; a double mean's
    summation order could differ across engines below the rounding),
    and the string-cast min/max on bigint/string columns, whose cast
    formatting is engine-identical."""
    from ralf_spark.operators.quality import column_profile

    ev = _t(spark, sf_dir, "events")
    prof = column_profile(ev.df, ["event_id", "user_id", "event_type"])
    return prof.select(
        F.col("column").alias("col_name"),
        "n_rows", "n_nulls", "null_frac", "n_distinct",
        "min_repr", "max_repr",
        F.round("mean", 6).alias("mean_r"),
    ).orderBy("col_name")


@query(
    "feature_drift_psi",
    """
    WITH base AS (
      SELECT event_type, value FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND value IS NOT NULL
    ), cand AS (
      SELECT event_type, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND value IS NOT NULL
    ), hb AS (
      SELECT event_type,
             least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9)
               AS bin, count(*) AS nb
      FROM base GROUP BY 1, 2
    ), hc AS (
      SELECT event_type,
             least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9)
               AS bin, count(*) AS nc
      FROM cand GROUP BY 1, 2
    ), j AS (
      SELECT coalesce(hb.event_type, hc.event_type) AS event_type,
             coalesce(hb.bin, hc.bin) AS bin,
             coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
      FROM hb FULL JOIN hc
        ON hb.event_type = hc.event_type AND hb.bin = hc.bin
    ), t AS (
      SELECT event_type, sum(nb) AS tb, sum(nc) AS tc
      FROM j GROUP BY 1
    )
    SELECT j.event_type,
           round(sum((greatest(nc / tc, 1e-6) - greatest(nb / tb, 1e-6))
                     * ln(greatest(nc / tc, 1e-6)
                          / greatest(nb / tb, 1e-6))), 6) AS psi
    FROM j JOIN t USING (event_type)
    GROUP BY j.event_type ORDER BY event_type
    """,
)
def feature_drift_psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-drift monitor (r7): Population Stability Index of the
    value distribution, first half of the events timeline (baseline) vs
    the second (candidate), per event type — fixed 10-bin histogram over
    [0, 500]. Detecting exactly this shift is the reference's founding
    premise (features decay as distributions move); the operator reduces
    each side to `bins` counts per group map-side, joins histograms, and
    sums the PSI terms — two scans total, histogram rows only on the
    wire (``operators.quality.psi_drift``)."""
    from ralf_spark.operators.quality import psi_drift

    ev = _t(spark, sf_dir, "events").df
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return psi_drift(
        ev.where(F.col("ts") < cutoff),
        ev.where(F.col("ts") >= cutoff),
        "value",
        group_cols=["event_type"],
        bins=10, lo=0.0, hi=500.0,
    ).orderBy("event_type")


@query(
    "events_quality_gate",
    """
    WITH s AS (
      SELECT count(*) AS n,
             count(event_id) AS nn_id,
             count(DISTINCT event_id) AS nd_id,
             sum(CASE WHEN value IS NOT NULL
                       AND value BETWEEN 0.0 AND 1000.0
                      THEN 1 ELSE 0 END) AS in_rng,
             sum(CASE WHEN event_type IN
                      ('view', 'click', 'purchase', 'signup', 'error')
                      THEN 1 ELSE 0 END) AS acc_t
      FROM events
    )
    SELECT 'not_null(event_id)' AS rule, nn_id / n >= 1.0 AS passed,
           round(nn_id / n, 6) AS measured,
           CAST(1.0 AS DOUBLE) AS threshold FROM s
    UNION ALL
    SELECT 'unique(event_id)', nd_id / nn_id >= 1.0,
           round(nd_id / nn_id, 6), CAST(1.0 AS DOUBLE)
    FROM s
    UNION ALL
    SELECT 'in_range(value, 0.0, 1000.0)', in_rng / n >= 1.0,
           round(in_rng / n, 6), CAST(1.0 AS DOUBLE) FROM s
    UNION ALL
    SELECT 'accepted_values(event_type, {view, click, purchase, signup,'
           || ' error}) >= 0.99',
           acc_t / n >= 0.99, round(acc_t / n, 6),
           CAST(0.99 AS DOUBLE) FROM s
    ORDER BY rule
    """,
)
def events_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (r7): four expectations over the
    events table — not-null + uniqueness of the key, a value range, an
    accepted-values domain with a 99% tolerance — all folded into ONE
    scan (``operators.quality.check_constraints``); the oracle replays
    the measured fractions and verdicts exactly. This is the validation
    stage a training pipeline runs before consuming a table (the Deequ
    role), as a first-class oracle-gated operator."""
    from ralf_spark.operators.quality import (
        accepted_values,
        check_constraints,
        in_range,
        not_null,
        unique,
    )

    ev = _t(spark, sf_dir, "events")
    rules = [
        not_null("event_id"),
        unique("event_id"),
        in_range("value", 0.0, 1000.0),
        accepted_values(
            "event_type",
            ["view", "click", "purchase", "signup", "error"],
            min_frac=0.99,
        ),
    ]
    return check_constraints(ev.df, rules).orderBy("rule")


_FRESH_AS_OF = "2024-02-01 00:00:00"


@query(
    "events_freshness_gate",
    f"""
    WITH s AS (SELECT max(ts) AS mx FROM events),
    m AS (
      SELECT round(date_diff('microsecond', mx,
                   TIMESTAMP '{_FRESH_AS_OF}') / 60000000.0, 6) AS lag
      FROM s
    )
    SELECT 'freshness(ts, 60.0 min @ {_FRESH_AS_OF})' AS rule,
           lag <= 60.0 AS passed, lag AS measured,
           CAST(60.0 AS DOUBLE) AS threshold
    FROM m
    UNION ALL
    SELECT 'freshness(ts, 2880.0 min @ {_FRESH_AS_OF})',
           lag <= 2880.0, lag, CAST(2880.0 AS DOUBLE)
    FROM m
    ORDER BY rule
    """,
)
def events_freshness_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-freshness gate (r7): the reference's founding concern
    (features decay as data ages) as a declarative expectation —
    ``max(ts)`` must lie within the lag budget of an EXPLICIT ``as_of``
    instant (deterministic/replayable; a monitoring job passes its run
    time). Two budgets against the same observed lag show both
    verdicts: the fixture's newest event is ~1 day before as_of, so the
    60-minute SLO fails and the 2-day budget passes. ``measured`` is
    the observed lag in minutes (smaller is better — passed =
    measured <= threshold, inverted vs the fraction rules); an EMPTY
    table fails rather than passing vacuously, since a silently-empty
    write is exactly what this gate exists to catch. One max() per
    rule inside the same single-scan aggregate as every other rule
    (``operators.quality.freshness``)."""
    from ralf_spark.operators.quality import check_constraints, freshness

    ev = _t(spark, sf_dir, "events")
    rules = [
        freshness("ts", 60.0, _FRESH_AS_OF),
        freshness("ts", 2880.0, _FRESH_AS_OF),
    ]
    return check_constraints(ev.df, rules).orderBy("rule")


#: yesterday's events contract, with three deliberate drifts vs the real
#: table: `value` recorded as float (type change), `session_id` present
#: (dropped since), `props` absent (added since)
_SCHEMA_REF = (
    "event_id bigint, ts timestamp_ntz, user_id bigint,"
    " event_type string, value float, session_id bigint"
)


@query(
    "events_schema_drift",
    """
    WITH cur AS (
      SELECT column_name AS col,
             CASE lower(column_type)
               WHEN 'bigint' THEN 'bigint'
               WHEN 'varchar' THEN 'string'
               WHEN 'double' THEN 'double'
               WHEN 'float' THEN 'float'
               WHEN 'timestamp' THEN 'timestamp_ntz'
               ELSE lower(column_type)
             END AS cur_type
      FROM (DESCRIBE SELECT * FROM events)
    ),
    ref(col, ref_type) AS (VALUES
      ('event_id', 'bigint'), ('ts', 'timestamp_ntz'),
      ('user_id', 'bigint'), ('event_type', 'string'),
      ('value', 'float'), ('session_id', 'bigint')
    )
    SELECT coalesce(r.col, c.col) AS "column",
           CASE WHEN r.col IS NULL THEN 'added'
                WHEN c.col IS NULL THEN 'dropped'
                WHEN r.ref_type <> c.cur_type THEN 'type_changed'
                ELSE 'match' END AS status,
           r.ref_type, c.cur_type
    FROM ref r FULL OUTER JOIN cur c ON r.col = c.col
    ORDER BY "column"
    """,
)
def events_schema_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift gate (r8, VERDICT r7 #7): column added / dropped /
    type-changed vs yesterday's contract — pure metadata, zero scan
    (``operators.quality.schema_diff``). The fixture contract drifts in
    all three directions: ``props`` was added, ``session_id`` dropped,
    ``value`` widened float→double. The reference's Schema check is the
    name-set half of this (``ralf/record.py:36-42``); the oracle
    replays the diff from DuckDB's catalog metadata (DESCRIBE), types
    normalized to Spark's simpleString names."""
    from ralf_spark.operators.quality import schema_diff

    ev = _t(spark, sf_dir, "events")
    return schema_diff(ev.df, _SCHEMA_REF).orderBy("column")


# Registry finalization: re-applies the driver-prefix ordering when THIS
# module was the import entry point (circular-entry tolerance; no-op when
# ralf_spark.queries was imported first and has already finalized).
from ralf_spark.queries import finalize_registry as _finalize  # noqa: E402

_finalize()
