"""Deterministic cardinality sketches and weighted sampling.

At 100 TB, exact ``count(DISTINCT x)`` shuffles every distinct value;
sketches shuffle O(k) or O(m) values per group instead. Spark's built-in
``approx_count_distinct`` (HLL++) is deterministic but engine-specific —
its registers can't be replayed by another engine, so it can't be
oracle-checked. These sketches derive every random bit from the
cross-engine ``stable_hash64`` (md5), making the whole estimate — not
just the true count — bit-reproducible in any engine that can run SQL:

- ``kmv_distinct``: k-minimum-values estimator. Keep the k smallest
  distinct hash values per group; estimate = (k-1)·2^60 / h_(k)
  (Bar-Yossef et al., "Counting distinct elements in a data stream",
  RANDOM 2002). Exact below k. Spark executes the per-group k-smallest
  as a rank-limit window, which the optimizer rewrites to
  WindowGroupLimit — each map task pre-limits to k rows per group
  before the shuffle, so the exchange carries O(groups·k), not the
  distinct set.

- ``hll_distinct``: classic HyperLogLog (Flajolet et al. 2007) with
  m=2^b registers, built from first-principles SQL: bucket = top b bits,
  rho = leading-zero rank of the remaining field, register = max(rho),
  harmonic mean + linear-counting small-range correction. rho is capped
  (default 40) so every 2^-rho term is a dyadic rational and the
  harmonic sum is EXACTLY representable in a double (span 2^6..2^-40 <
  53 bits of mantissa) — summation order cannot change the estimate,
  which makes the estimate itself shuffle-order-independent and
  cross-engine stable. The cap only biases groups beyond ~m·2^40 ≈ 7e13
  distinct values. Shuffle cost: m register rows per group.

- ``weighted_sample``: deterministic weighted sampling without
  replacement (Efraimidis & Spirakis exponential-jumps form): key =
  ln(u)/w with u = (stable_hash64(id)+1)/2^60 ∈ (0,1], take the k
  largest keys. Equivalent to sampling ∝ weight; content-hash u makes
  the sample identical across runs/engines/partitionings. Executed as
  TakeOrdered (distributed partial top-k), never a global sort.

- ``reservoir_quantile`` (r14, VERDICT r13 #3): mergeable QUANTILE
  sketch — per group, the k rows whose row-identity hash is smallest
  (a bottom-k sketch, Cohen & Kaplan "Summarizing data using bottom-k
  sketches", PODC 2007: a uniform fixed-size sample of the group's
  rows that is a pure function of the row SET), and the estimate is
  the sample's type-1 empirical quantile. Exact below k (the sample
  IS the group). Rank error is DKW-bounded: P(|rank err| > ε·n) <=
  2·exp(-2kε²) — k=256 gives ε ≈ 8% at 95% confidence, k=4096 ≈ 2%.

  Why not KLL / t-digest: their state depends on INSERTION ORDER
  (compaction coin flips resp. cluster boundaries), and their merge is
  lossy — fold(sketch(A), sketch(B)) != sketch(A ∪ B) — so the pinned
  discipline of this family (state == order-independent function of
  the data multiset; merge associative/commutative/IDEMPOTENT; the
  whole estimate replayable bit-for-bit in DuckDB) is unreachable for
  them on any distributed engine: two partitionings of the same data
  would publish two different "correct" states. Bottom-k is the
  quantile sketch with the KMV algebra — union-distinct-keep-k — at
  the cost of a √k (sampling) rather than 1/k (KLL) error rate; at
  k=4096 the state is ~64 KB/group, still O(groups·k) shuffle via the
  same WindowGroupLimit map-side pre-limit as KMV.

Reference parity: the reference sheds load by sampling/priority policies
(`ralf/policies/load_shedding_policy.py`); sketching is the analytics-side
extension SURVEY §2.10 calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ralf_spark.functions.hashing import stable_hash64, stable_hash64_sql

#: hash range of stable_hash64 (60 bits)
HASH_SPACE = float(2**60)


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str | Column,
    k: int = 32,
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Returns ``group_cols + [est_distinct: bigint]``. Exact when a group
    has fewer than k distinct values (the sketch IS the distinct set).
    """
    return kmv_estimate(
        kmv_state_update(df, group_cols, value_col, k), group_cols, k
    )


def kmv_state_update(
    df: DataFrame,
    group_cols: list[str],
    value_col: str | Column,
    k: int = 32,
) -> DataFrame:
    """The sketch STATE: per group, the (<= k) smallest distinct value
    hashes — ``group_cols + [h]``. Mergeable by union-distinct-keep-k
    (:func:`kmv_fold` over the union), which is IDEMPOTENT by algebra
    (re-folding seen values cannot change a min-k set), like the HLL
    register max."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    return kmv_fold(
        df.select(*group_cols, stable_hash64(value).alias("h")), group_cols, k
    )


def kmv_fold(rows: DataFrame, group_cols: list[str], k: int = 32) -> DataFrame:
    """The KMV union over a set of ``group_cols + [h]`` rows: dedup, keep
    each group's k smallest hashes. The update and the append log's
    compaction and read all fold through it. Spark runs
    the per-group k-smallest as WindowGroupLimit — map-side pre-limited
    to k rows per group."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        rows.select(*group_cols, "h")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def kmv_estimate(
    state: DataFrame, group_cols: list[str], k: int = 32
) -> DataFrame:
    """Estimate per-group distincts from a KMV hash table (the read side
    of the sketch state) — exact below k, (k-1)*2^60/kth above; identical
    algebra to the one-shot :func:`kmv_distinct`, so the same oracle
    gates both paths."""
    # (k-1)*2^60 as an exact double literal; / and floor are IEEE-identical
    # across engines, so the estimate replays bit-for-bit in the oracle.
    numer = float(k - 1) * HASH_SPACE
    return (
        state.groupBy(*group_cols)
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("nk"))
        .select(
            *group_cols,
            F.when(F.col("nk") < k, F.col("nk"))
            .otherwise(
                F.floor(F.lit(numer) / F.col("kth").cast("double"))
            )
            .cast("bigint")
            .alias("est_distinct"),
        )
    )


def kmv_distinct_sql(
    table: str, group_cols: list[str], value_expr: str, k: int = 32
) -> str:
    """DuckDB oracle replaying ``kmv_distinct`` bit-for-bit."""
    g = ", ".join(group_cols)
    numer = f"{float(k - 1) * HASH_SPACE!r}"
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {g}, {stable_hash64_sql(value_expr)} AS h FROM {table}
    ), ranked AS (
      SELECT {g}, h,
             row_number() OVER (PARTITION BY {g} ORDER BY h) AS rk
      FROM hashed
    )
    SELECT {g},
           CAST(CASE WHEN count(*) < {k} THEN count(*)
                     ELSE floor({numer} / CAST(max(h) AS DOUBLE))
                END AS BIGINT) AS est_distinct
    FROM ranked WHERE rk <= {k}
    GROUP BY {g}
    """


def rq_state_update(
    df: DataFrame,
    group_cols: list[str],
    value_col: str | Column,
    id_col: str | Column,
    k: int = 256,
) -> DataFrame:
    """The quantile sketch STATE: per group, the (<= k) rows whose
    row-identity hash is smallest — ``group_cols + [h, v]``. ``id_col``
    must identify rows uniquely (the draw is uniform over ROWS; hashing
    the value instead would dedup repeats and skew every quantile).

    Mergeable by union-distinct-keep-k (:func:`rq_fold` over the union) —
    IDEMPOTENT by algebra like the KMV min-k set, so any micro-batching
    and any replay converge on the identical sample. Deterministic: the
    keep-k rank orders by ``(h, v)``, so even a 60-bit hash collision
    between rows of different values cannot make the kept set depend on
    shuffle order (equal ``(h, v)`` rows collapse in the distinct — the
    one lossy case, vanishing at 2^-60 per pair and itself
    deterministic). Spark executes the per-group k-smallest as
    WindowGroupLimit: each map task pre-limits to k rows per group
    before the shuffle, so the exchange carries O(groups·k)."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    ident = F.col(id_col) if isinstance(id_col, str) else id_col
    return rq_fold(
        df.select(
            *group_cols,
            stable_hash64(ident).alias("h"),
            value.cast("double").alias("v"),
        )
        # NULL values are excluded BEFORE the draw (a quantile over
        # nulls is undefined, and Spark/DuckDB disagree on null sort
        # position — the one spot that would break cross-engine replay)
        .where(F.col("v").isNotNull()),
        group_cols,
        k,
    )


def rq_fold(rows: DataFrame, group_cols: list[str], k: int = 256) -> DataFrame:
    """The bottom-k union over a set of ``group_cols + [h, v]`` rows:
    dedup, keep each group's k smallest by ``(h, v)`` — associative,
    commutative, idempotent (re-folding seen rows cannot change a min-k
    set). The update and the append log fold through it, with
    the same WindowGroupLimit shape as :func:`kmv_fold`."""
    w = Window.partitionBy(*group_cols).orderBy("h", "v")
    return (
        rows.select(*group_cols, "h", "v")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def _q_label(q: float) -> str:
    """Column name for quantile q: 0.5 -> p50, 0.99 -> p99, 0.999 -> p99_9."""
    s = f"{q * 100:.10g}".replace(".", "_")
    return f"p{s}"


def rq_quantiles(
    state: DataFrame, group_cols: list[str], qs: tuple[float, ...] = (0.5,)
) -> DataFrame:
    """Estimate per-group quantiles from a bottom-k sample table (the
    read side of the sketch state): type-1 (inverted-CDF) empirical
    quantile of the sample — value at rank ``max(1, ceil(q·m))`` of the
    m sorted sample values. Exact when the group never exceeded k rows.
    No arithmetic touches the returned values (they are input doubles
    passed through), so the estimate replays bit-for-bit in the oracle.
    The per-group sample is <= k rows, so the collect_list is bounded
    by construction — never corpus-sized."""
    arr = F.sort_array(F.collect_list("v"))
    agg = state.groupBy(*group_cols).agg(arr.alias("_vs"))
    m = F.size("_vs")
    cols = [
        F.element_at(
            "_vs",
            F.greatest(F.lit(1), F.ceil(F.lit(float(q)) * m)).cast("int"),
        ).alias(_q_label(q))
        for q in qs
    ]
    return agg.select(*group_cols, *cols)


def reservoir_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str | Column,
    id_col: str | Column,
    qs: tuple[float, ...] = (0.5,),
    k: int = 256,
) -> DataFrame:
    """Per-group quantile estimates from the bottom-k sketch (one-shot
    spelling). Returns ``group_cols + [p50, p90, ...]`` (one column per
    requested quantile, doubles). See the module docstring for the
    error bound and the KLL/t-digest determinism argument."""
    return rq_quantiles(
        rq_state_update(df, group_cols, value_col, id_col, k), group_cols, qs
    )


def reservoir_quantile_sql(
    table: str,
    group_cols: list[str],
    value_expr: str,
    id_expr: str,
    qs: tuple[float, ...] = (0.5,),
    k: int = 256,
) -> str:
    """DuckDB oracle replaying ``reservoir_quantile`` bit-for-bit."""
    g = ", ".join(group_cols)
    picks = ",\n           ".join(
        f"max(CASE WHEN vr = greatest(1, CAST(ceil({float(q)!r} * m) "
        f"AS BIGINT)) THEN v END) AS {_q_label(q)}"
        for q in qs
    )
    return f"""
    WITH hashed AS (
      SELECT DISTINCT {g}, {stable_hash64_sql(id_expr)} AS h,
             CAST({value_expr} AS DOUBLE) AS v
      FROM {table}
      WHERE {value_expr} IS NOT NULL
    ), ranked AS (
      SELECT {g}, h, v,
             row_number() OVER (PARTITION BY {g} ORDER BY h, v) AS rk
      FROM hashed
    ), samp AS (
      SELECT {g}, v,
             row_number() OVER (PARTITION BY {g} ORDER BY v) AS vr,
             count(*) OVER (PARTITION BY {g}) AS m
      FROM ranked WHERE rk <= {k}
    )
    SELECT {g},
           {picks}
    FROM samp GROUP BY {g}
    """


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str | Column,
    b: int = 6,
    rho_cap: int = 40,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (m = 2^b registers).

    Returns ``group_cols + [est_distinct: double]`` (rounded to 2dp).
    alpha uses the HLL paper's constants (0.709 for m=64). The rho cap
    keeps every harmonic-sum term dyadic so the double sum is exact and
    order-independent — see module docstring.
    """
    return hll_estimate(
        hll_register_update(df, group_cols, value_col, b, rho_cap),
        group_cols,
        b,
    )


def hll_register_update(
    df: DataFrame,
    group_cols: list[str],
    value_col: str | Column,
    b: int = 6,
    rho_cap: int = 40,
) -> DataFrame:
    """The sketch STATE: per (group, bucket) max leading-zero rank —
    ``group_cols + [bucket, reg]``. Mergeable (register-wise max) and
    therefore replay-IDEMPOTENT: re-folding the same rows can never
    change a max, which is what makes the streaming HLL state sink
    exactly-once by algebra rather than by marker."""
    if b != 6:
        raise ValueError("only b=6 (m=64, alpha=0.709) is wired up")
    rest_bits = 60 - b
    rest_space = 1 << rest_bits
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    h = stable_hash64(value)
    bucket = (h / F.lit(rest_space)).cast("bigint")  # top b bits
    rest = h % F.lit(rest_space)
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits + 1) - F.length(F.bin(rest))
    )
    rho = F.least(rho, F.lit(rho_cap))
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_fold(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """The HLL union over a set of ``group_cols + [bucket, reg]`` rows:
    register-wise max — associative, commutative, idempotent. One hash
    aggregation on (group, bucket); the append log's compaction and
    read fold through it."""
    return regs.groupBy(*group_cols, "bucket").agg(F.max("reg").alias("reg"))


def hll_estimate(
    regs: DataFrame, group_cols: list[str], b: int = 6
) -> DataFrame:
    """Estimate per-group distincts from a register table (the read side
    of the sketch state): HLL harmonic mean with the paper's linear-
    counting small-range correction. Returns ``group_cols +
    [est_distinct]`` rounded to 2dp — identical algebra to the one-shot
    :func:`hll_distinct`, so the same oracle gates both paths."""
    if b != 6:
        raise ValueError("only b=6 (m=64, alpha=0.709) is wired up")
    m = 1 << b
    alpha = 0.709
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("s_used"),
        F.count(F.lit(1)).alias("n_used"),
    )
    v_empty = F.lit(m) - F.col("n_used")  # empty registers (rho=0 → 2^0=1)
    s_total = F.col("s_used") + v_empty.cast("double")
    e_raw = F.lit(alpha * m * m) / s_total
    # linear counting in the small range (Flajolet et al. §4)
    e = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double")),
    ).otherwise(e_raw)
    return per_group.select(
        *group_cols, F.round(e, 2).alias("est_distinct")
    )


def hll_distinct_sql(
    table: str,
    group_cols: list[str],
    value_expr: str,
    b: int = 6,
    rho_cap: int = 40,
) -> str:
    """DuckDB oracle replaying ``hll_distinct`` bit-for-bit."""
    if b != 6:
        raise ValueError("only b=6 (m=64, alpha=0.709) is wired up")
    m = 1 << b
    rest_bits = 60 - b
    rest_space = 1 << rest_bits
    g = ", ".join(group_cols)
    h = stable_hash64_sql(value_expr)
    return f"""
    WITH regs AS (
      SELECT {g}, h // {rest_space} AS bucket,
             max(least(CASE WHEN h % {rest_space} = 0 THEN {rest_bits + 1}
                            ELSE {rest_bits + 1}
                                 - length(bin(h % {rest_space}))
                       END, {rho_cap})) AS reg
      FROM (SELECT {g}, {h} AS h FROM {table}) hashed
      GROUP BY {g}, bucket
    ), pg AS (
      SELECT {g}, sum(pow(2.0, -reg)) AS s_used, count(*) AS n_used
      FROM regs GROUP BY {g}
    )
    SELECT {g},
           round(CASE WHEN {0.709 * m * m} / (s_used + ({m} - n_used))
                           <= {2.5 * m}
                       AND {m} - n_used > 0
                      THEN {float(m)} * ln({float(m)}
                                           / CAST({m} - n_used AS DOUBLE))
                      ELSE {0.709 * m * m} / (s_used + ({m} - n_used))
                 END, 2) AS est_distinct
    FROM pg
    """


def weighted_sample(
    df: DataFrame, weight_col: str, k: int, on: str
) -> DataFrame:
    """Deterministic weight-proportional sample of k rows (no replacement).

    ``on`` is the identity column hashed for the uniform draw; rows with
    non-positive weight are excluded (canonical A-ES domain). Returns the
    input columns of the k winners.
    """
    u = (stable_hash64(F.col(on)) + 1) / F.lit(HASH_SPACE)
    key = F.log(u) / F.col(weight_col)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__aes_key", key)
        .orderBy(F.col("__aes_key").desc(), F.col(on))
        .limit(k)
        .drop("__aes_key")
    )


def weighted_sample_sql(
    table: str, cols: list[str], weight_expr: str, k: int, on: str
) -> str:
    """DuckDB oracle replaying ``weighted_sample``."""
    c = ", ".join(cols)
    u = f"(({stable_hash64_sql(on)}) + 1) / {HASH_SPACE!r}"
    return f"""
    SELECT {c} FROM {table}
    WHERE {weight_expr} > 0
    ORDER BY ln({u}) / ({weight_expr}) DESC, {on}
    LIMIT {k}
    """


def _cms_buckets(depth: int, width: int):
    """The CMS hash family: per row, the array of `depth` bucket ids of
    column ``k`` (md5-derived, salt-independent rows)."""
    from pyspark.sql import functions as F

    from ralf_spark.functions.hashing import stable_hash64

    return F.array(
        *[
            (stable_hash64(F.col("k"), salt=f"cms{r}") % width).alias(
                f"b{r}"
            )
            for r in range(depth)
        ]
    )


def cms_counter_update(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """The sketch STATE: the (r, bucket, c) counter matrix of ``df`` —
    at most ``depth * width`` rows whatever the input size. Mergeable by
    counter-wise SUM (:func:`cms_fold` over the union); unlike the HLL
    register max, a sum double-counts on replay, so the streaming sink
    logs each batch under its own partition, which a replay rewrites in
    place."""
    from pyspark.sql import functions as F

    keyed = df.select(F.col(key_col).cast("string").alias("k"))
    hashed = keyed.select(
        "k", F.posexplode(_cms_buckets(depth, width)).alias("r", "bucket")
    )
    return hashed.groupBy("r", "bucket").agg(F.count("*").alias("c"))


def cms_fold(counters: DataFrame) -> DataFrame:
    """The CMS union over a set of ``(r, bucket, c)`` rows: counter-wise
    sum, one hash aggregation on (r, bucket). The append log's
    compaction and read fold through it."""
    return counters.groupBy("r", "bucket").agg(F.sum("c").alias("c"))


def cms_counters_sql(
    key_expr: str, from_clause: str, depth: int = 4, width: int = 256
) -> str:
    """DuckDB replay of :func:`cms_counter_update` (bit-for-bit)."""
    from ralf_spark.functions.hashing import stable_hash64_sql

    rows = " UNION ALL ".join(
        f"SELECT k, {r} AS r,"
        f" {stable_hash64_sql('k', salt=f'cms{r}')} % {width} AS bucket"
        f" FROM keyed"
        for r in range(depth)
    )
    return f"""
    WITH keyed AS (SELECT CAST({key_expr} AS VARCHAR) AS k {from_clause}),
    b AS ({rows})
    SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
    FROM b GROUP BY r, bucket
    """


def cms_heavy_hitters(
    df,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
):
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimates, deterministic and replayable cross-engine.

    Each key is hashed by ``depth`` independent md5-derived functions into
    ``width`` buckets; the counter matrix is ``groupBy(row, bucket).count``
    — a mergeable sketch whose map-side partial aggregation IS the sketch
    merge, so the shuffle moves at most ``depth * width`` counters per
    partition regardless of input size (the entire point at 100 TB: a
    4x256 matrix summarizes any stream). The estimate for a key is the
    min over its ``depth`` counters, an upper bound on the true count
    (one-sided error <= 2N/width with prob 1 - (1/2)^depth).

    Returns (key, exact, cms_estimate, overestimate) for the ``top_k``
    keys by exact count — pairing the sketch with ground truth is the
    standard accuracy harness shape. The reference has no sketch surface
    (SURVEY §2.6: no aggregates beyond user code); this extends the
    engine's approximate-bookkeeping family (A4/KMV/HLL).
    """
    from pyspark.sql import functions as F

    keyed = df.select(F.col(key_col).cast("string").alias("k"))
    buckets = _cms_buckets(depth, width)
    counters = cms_counter_update(df, key_col, depth, width)
    exact = keyed.groupBy("k").agg(F.count("*").alias("exact"))
    key_buckets = exact.select(
        "k", "exact", F.posexplode(buckets).alias("r", "bucket")
    )
    est = (
        key_buckets.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("k", "exact")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        est.select(
            F.col("k").alias("key"),
            "exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact")).alias("overestimate"),
        )
        .orderBy(F.desc("exact"), "key")
        .limit(top_k)
    )


def cms_heavy_hitters_sql(
    key_expr: str,
    from_clause: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
) -> str:
    """DuckDB replay of :func:`cms_heavy_hitters` (bit-for-bit)."""
    from ralf_spark.functions.hashing import stable_hash64_sql

    bucket_rows = " UNION ALL ".join(
        f"SELECT k, {r} AS r,"
        f" {stable_hash64_sql('k', salt=f'cms{r}')} % {width} AS bucket"
        f" FROM keyed"
        for r in range(depth)
    )
    return f"""
    WITH keyed AS (SELECT CAST({key_expr} AS VARCHAR) AS k {from_clause}),
    hashed AS ({bucket_rows}),
    counters AS (SELECT r, bucket, count(*) AS c
                 FROM hashed GROUP BY r, bucket),
    exact AS (SELECT k, count(*) AS exact FROM keyed GROUP BY k),
    est AS (
      SELECT h.k, min(e.exact) AS exact, min(c.c) AS cms_estimate
      FROM (SELECT DISTINCT k, r, bucket FROM hashed) h
      JOIN counters c ON c.r = h.r AND c.bucket = h.bucket
      JOIN exact e ON e.k = h.k
      GROUP BY h.k
    )
    SELECT k AS key, exact, cms_estimate,
           cms_estimate - exact AS overestimate
    FROM est
    ORDER BY exact DESC, key
    LIMIT {top_k}
    """
