"""Registry entries for deterministic sketches and document fingerprints.

See ``ralf_spark.operators.sketches`` for the cardinality/sampling
algorithms and the cross-engine determinism argument; each query here
replays bit-for-bit in DuckDB, estimator output included — which is the
point: an *estimator* whose result is part of the correctness contract,
not just "close to exact". The winnowing queries cover the rolling-hash
local-fingerprint family
(``operators.text_analysis.add_winnow_fingerprints``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ralf_spark.functions.hashing import stable_hash64_sql
from ralf_spark.functions.text import tokens_sql, word_shingles_sql
from ralf_spark.operators.sketches import (
    cms_counters_sql,
    hll_distinct,
    hll_distinct_sql,
    kmv_distinct,
    kmv_distinct_sql,
    reservoir_quantile,
    reservoir_quantile_sql,
    weighted_sample,
    weighted_sample_sql,
)
from ralf_spark.operators.text_analysis import add_winnow_fingerprints
from ralf_spark.queries import _docs_par, _scratch, _t, query


def _winnow_fp_cte(k: int = 3, win: int = 4) -> str:
    """DuckDB CTE chain ``toks -> hs -> fp(doc_id, fingerprints)``
    replaying :func:`add_winnow_fingerprints` bit-for-bit."""
    return f"""
    toks AS (SELECT doc_id, {tokens_sql('text')} AS w FROM documents),
    hs AS (SELECT doc_id,
           list_transform({word_shingles_sql('w', k)},
                          s -> {stable_hash64_sql('s')}) AS h
           FROM toks),
    fp AS (SELECT doc_id,
      CASE WHEN len(h) >= {win} THEN list_sort(list_distinct(
             list_transform(generate_series(1, len(h) - {win - 1}),
                            i -> list_min(h[i:i + {win - 1}]))))
           WHEN len(h) > 0 THEN [list_min(h)]
           ELSE CAST([] AS BIGINT[]) END AS fingerprints
      FROM hs)"""


@query(
    "kmv_distinct_users",
    kmv_distinct_sql("events", ["event_type"], "user_id", k=32)
    + " ORDER BY event_type",
)
def kmv_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event type (k=32). The per-group
    k-smallest runs as WindowGroupLimit — map-side pre-limiting to k
    rows per group before the shuffle, so the exchange carries
    O(groups·k) rows however many distinct users there are."""
    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev.df, ["event_type"], "user_id", k=32).orderBy(
        "event_type"
    )


@query(
    "hll_distinct_event_ids",
    hll_distinct_sql("events", ["event_type"], "event_id")
    + " ORDER BY event_type",
)
def hll_distinct_event_ids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-event estimate per event type (m=64
    registers) — two partial-aggregating shuffles whose payload is at
    most m register rows per group, independent of cardinality. The
    estimate itself is order-independent (exact dyadic harmonic sum),
    so it is reproducible on any engine/partitioning."""
    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev.df, ["event_type"], "event_id").orderBy(
        "event_type"
    )


@query(
    "reservoir_quantile_values",
    reservoir_quantile_sql(
        "events", ["event_type"], "value", "event_id",
        qs=(0.5, 0.9, 0.99), k=64,
    )
    + " ORDER BY event_type",
)
def reservoir_quantile_values_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable quantile-sketch estimates per event type (r14, VERDICT
    r13 #3): p50/p90/p99 of ``value`` from the bottom-k row sample
    (k=64 — every sf's groups exceed k, so the gate exercises the
    genuine sketch regime, not the exact-below-k fallback). The state
    is an order-independent idempotent-mergeable function of the row
    set (the KMV algebra applied to quantiles — see
    ``operators/sketches.py`` for why KLL/t-digest cannot meet this
    family's cross-engine replay discipline), so the estimate — the
    sampled values themselves, no arithmetic — replays bit-for-bit in
    DuckDB. At 100 TB the shuffle carries O(groups·k) rows via the same
    WindowGroupLimit map-side pre-limit as KMV; the exact alternative
    sorts every value per group."""
    ev = _t(spark, sf_dir, "events")
    return reservoir_quantile(
        ev.df, ["event_type"], "value", "event_id",
        qs=(0.5, 0.9, 0.99), k=64,
    ).orderBy("event_type")


def _rq_drift_sql() -> str:
    ref = reservoir_quantile_sql(
        "(SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16')",
        ["event_type"], "value", "event_id", qs=(0.5, 0.9), k=128,
    )
    cur = reservoir_quantile_sql(
        "(SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16')",
        ["event_type"], "value", "event_id", qs=(0.5, 0.9), k=128,
    )
    return f"""
    WITH ref AS ({ref}), cur AS ({cur})
    SELECT ref.event_type,
           ref.p50 AS ref_p50, cur.p50 AS cur_p50,
           round(cur.p50 - ref.p50, 4) AS p50_shift,
           ref.p90 AS ref_p90, cur.p90 AS cur_p90,
           round(cur.p90 - ref.p90, 4) AS p90_shift
    FROM ref JOIN cur USING (event_type)
    ORDER BY event_type
    """


@query("quantile_drift_windows", _rq_drift_sql())
def quantile_drift_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based drift monitoring (r14): per-key p50/p90 of the
    value distribution in a reference window vs the current window,
    each estimated from the bottom-k quantile sketch — the
    sketch-powered sibling of ``feature_drift_psi`` for the latency/
    value-drift dashboards VERDICT r13 #3 motivates. At 100 TB each
    window's state is O(groups·k) (WindowGroupLimit pre-limit, no
    per-group sort), the two sketches join on the group key, and in
    production the reference sketch is a PERSISTED state table
    (``foreach_batch_rq_append``) — only the current
    window is scanned per cadence."""
    from ralf_spark.operators.sketches import reservoir_quantile

    ev = _t(spark, sf_dir, "events").df
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    rq = lambda df: reservoir_quantile(  # noqa: E731
        df, ["event_type"], "value", "event_id", qs=(0.5, 0.9), k=128
    )
    ref = rq(ev.where(F.col("ts") < cut))
    cur = rq(ev.where(F.col("ts") >= cut))
    r, c = ref.alias("r"), cur.alias("c")
    return (
        r.join(c, "event_type")
        .select(
            "event_type",
            F.col("r.p50").alias("ref_p50"),
            F.col("c.p50").alias("cur_p50"),
            F.round(F.col("c.p50") - F.col("r.p50"), 4).alias("p50_shift"),
            F.col("r.p90").alias("ref_p90"),
            F.col("c.p90").alias("cur_p90"),
            F.round(F.col("c.p90") - F.col("r.p90"), 4).alias("p90_shift"),
        )
        .orderBy("event_type")
    )


@query(
    "weighted_sample_docs",
    "SELECT * FROM ("
    + weighted_sample_sql(
        "documents", ["doc_id", "n_chars"], "n_chars", 20, "doc_id"
    )
    + ") ORDER BY doc_id",
)
def weighted_sample_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic document sample (k=20, weight =
    n_chars, Efraimidis-Spirakis keys from the content hash) — the
    'oversample long documents' pretraining mix knob, reproducible
    across runs/engines. Executes as TakeOrdered partial top-k."""
    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        docs.df.select("doc_id", "n_chars"), "n_chars", 20, on="doc_id"
    )
    return out.orderBy("doc_id")


@query(
    "winnow_fingerprints",
    "WITH " + _winnow_fp_cte()
    + """
    SELECT doc_id,
           CAST(generate_subscripts(fingerprints, 1) AS BIGINT) AS pos,
           unnest(fingerprints) AS fingerprint
    FROM fp ORDER BY doc_id, pos
    """,
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint sets (k=3-gram hashes, window
    w=4): the rolling-hash local fingerprint — any shared 6-token run
    between two documents is guaranteed a shared fingerprint. Scan-side
    array expressions only; zero shuffles before the output sort. The
    fingerprint array is unnested to scalar (doc, pos, fingerprint) rows
    for the hash check (array cells break the harness's row sort).

    persist() before the explode is load-bearing: Catalyst inlines a
    Project into its Generate child, so without the InMemoryRelation
    barrier the whole shingle+md5 winnow pipeline is re-evaluated inside
    the per-element explode loop (measured 1s → 80s+; same trap as
    winnow_shared_pairs — the expensive-expression guard does not cover
    Generate inputs)."""
    docs = _docs_par(spark, sf_dir)
    fp = add_winnow_fingerprints(docs.df).select(
        "doc_id", "fingerprints"
    ).persist()
    return (
        fp.select(
            "doc_id", F.posexplode("fingerprints").alias("pos0", "fingerprint")
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "fingerprint",
        )
        .orderBy("doc_id", "pos")
    )


@query(
    "winnow_shared_pairs",
    "WITH " + _winnow_fp_cte()
    + """,
    ex AS (SELECT doc_id, unnest(fingerprints) AS f FROM fp),
    rare AS (SELECT f FROM ex GROUP BY f HAVING count(*) <= 10)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
    WHERE a.f IN (SELECT f FROM rare)
    GROUP BY doc_a, doc_b HAVING count(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)
def winnow_shared_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism/overlap candidate pairs from shared winnowing
    fingerprints — the MOSS match step as a bucket equi-join: explode
    fingerprints, drop frequent ones (document frequency > 10, the same
    Σdf² bound the inverted-index Jaccard uses), self-join on the
    fingerprint value, keep pairs sharing >= 2. Never an all-pairs
    comparison: work is Σ df² over rare fingerprints only.

    persist() on the fingerprint table is load-bearing twice over: (a)
    it is read by three branches (df filter + both self-join sides), and
    (b) the InMemoryRelation is an optimizer barrier — without it
    Catalyst inlines the winnow expression into the Generate (explode)
    node, which puts the whole shingle+md5 pipeline back inside the
    per-window lambda (measured 43s → 3s at sf0.01; the Project-collapse
    expensive-expression check does not guard Generate inputs).
    Cluster-scale spelling: checkpoint to parquet; release with
    ``unpersist_cached`` after the action."""
    docs = _docs_par(spark, sf_dir)
    fp = (
        add_winnow_fingerprints(docs.df)
        .select("doc_id", "fingerprints")
        .persist()
    )
    ex = fp.select("doc_id", F.explode("fingerprints").alias("f"))
    rare = (
        ex.groupBy("f")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 10)
        .select("f")
    )
    exr = ex.join(rare, "f", "left_semi")
    a = exr.select(F.col("doc_id").alias("doc_a"), "f")
    b = exr.select(F.col("doc_id").alias("doc_b"), "f")
    return (
        a.join(b, ["f"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 2)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "vocab_top_tokens",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS t FROM documents
    )
    SELECT t AS token, count(*) AS n_occ,
           count(DISTINCT doc_id) AS n_docs
    FROM toks GROUP BY t
    ORDER BY n_occ DESC, token LIMIT 50
    """,
)
def vocab_top_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary mining: occurrence + document frequency per
    token, top-50 — the vocab-building / stopword-discovery step of a
    pretraining pipeline. Explode → one partial-agg shuffle on the token
    (the distinct-doc count piggybacks on the same exchange); the top-k
    is a TakeOrdered, never a full sort."""
    docs = _docs_par(spark, sf_dir)
    from ralf_spark.functions.text import tokens

    ex = docs.df.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    return (
        ex.groupBy(F.col("t").alias("token"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occ").desc(), "token")
        .limit(50)
    )


@query(
    "collocation_top_bigrams",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS w FROM documents
    ), grams AS (
      SELECT doc_id, unnest({word_shingles_sql('w', 2)}) AS g FROM toks
    )
    SELECT g AS bigram, count(*) AS n_occ
    FROM grams GROUP BY g
    ORDER BY n_occ DESC, bigram LIMIT 30
    """,
)
def collocation_top_bigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top word bigrams across the corpus — the
    n-gram statistics step (phrase vocabulary, boilerplate detection).
    Same explode → partial-agg → TakeOrdered shape as the unigram
    vocabulary."""
    from ralf_spark.functions.text import tokens, word_shingles

    docs = _docs_par(spark, sf_dir)
    ex = docs.df.select(
        F.explode(word_shingles(tokens(F.col("text")), 2)).alias("bigram")
    )
    return (
        ex.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "bigram")
        .limit(30)
    )


from ralf_spark.operators.sketches import (  # noqa: E402
    cms_heavy_hitters,
    cms_heavy_hitters_sql,
)


@query(
    "cms_token_heavy_hitters",
    cms_heavy_hitters_sql(
        "tok",
        f"FROM (SELECT unnest({tokens_sql('text')}) AS tok "
        "FROM documents)",
    ),
)
def cms_token_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over the corpus token stream — the
    fixed-size (4x256 counters) approximate frequency sketch paired with
    ground truth, estimator output oracle-checked bit-for-bit (see
    ``operators.sketches.cms_heavy_hitters`` for the merge argument)."""
    from ralf_spark.functions.text import tokens

    docs = _docs_par(spark, sf_dir).df
    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    return cms_heavy_hitters(toks, "tok")


@query(
    "streaming_hll_state",
    hll_distinct_sql("events", ["event_type"], "event_id")
    + " ORDER BY event_type",
)
def streaming_hll_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 as maintained STREAMING state (r7): the events stream drains in
    3 micro-batches through ``foreach_batch_hll_append`` — each batch
    appends its (group, bucket, max-rho) registers to the log, ZERO
    reads of existing state — and the estimate over the UNCOMPACTED log
    (``hll_log_state``: register-wise max on read) must equal the
    one-shot ``hll_distinct`` oracle EXACTLY: the register merge is
    associative, commutative and idempotent, so ANY micro-batching (and
    any replay) converges on the identical sketch, unlike the
    order-contracted fold sinks. ``streaming_hll_log_state`` gates the
    same log after a merging compaction."""
    import hashlib as _hl

    from ralf_spark.operators.sketches import hll_estimate
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_hll_append,
        hll_log_state,
        run_bounded,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    src = _scratch(f"hll_src_{tag}_")
    ev = _t(spark, sf_dir, "events").df.select("event_type", "event_id")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    state = _scratch(f"hll_state_{tag}_") + "/log"
    stream = file_events(
        spark, src, schema="event_type string, event_id long",
        max_files_per_trigger=1,
    )
    run_bounded(
        foreach_batch_hll_append(
            stream, state, group_cols=["event_type"], value_col="event_id"
        ),
        checkpoint=_scratch(f"ck_hll_{tag}_"),
    )
    return hll_estimate(
        hll_log_state(spark, state, ["event_type"]), ["event_type"]
    ).orderBy("event_type")


@query(
    "streaming_hll_log_state",
    hll_distinct_sql("events", ["event_type"], "event_id")
    + " ORDER BY event_type",
)
def streaming_hll_log_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 streaming HLL log after a merging compaction (r10): the same
    append-log drain as ``streaming_hll_state`` (each micro-batch's
    registers under its own ``_batch`` partition, merged ON READ), then
    ``maintain_sketch_log`` MERGES all but the newest batch partition in
    place mid-gate — register max is associative/commutative/
    idempotent, so the estimate must be unchanged by it. Same oracle as
    ``streaming_hll_state``."""
    import hashlib as _hl

    from ralf_spark.operators.sketches import hll_estimate
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_hll_append,
        hll_log_state,
        maintain_sketch_log,
        run_bounded,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    src = _scratch(f"hlog_src_{tag}_")
    ev = _t(spark, sf_dir, "events").df.select("event_type", "event_id")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    state = _scratch(f"hlog_state_{tag}_") + "/log"
    stream = file_events(
        spark, src, schema="event_type string, event_id long",
        max_files_per_trigger=1,
    )
    run_bounded(
        foreach_batch_hll_append(
            stream, state, group_cols=["event_type"], value_col="event_id"
        ),
        checkpoint=_scratch(f"ck_hlog_{tag}_"),
    )
    maintain_sketch_log(
        spark, state,
        merge=lambda df: df.groupBy("event_type", "bucket").agg(
            F.max("reg").alias("reg")
        ),
    )
    return hll_estimate(
        hll_log_state(spark, state, ["event_type"]), ["event_type"]
    ).orderBy("event_type")


@query(
    "streaming_kmv_state",
    kmv_distinct_sql("events", ["event_type"], "user_id", k=32)
    + " ORDER BY event_type",
)
def streaming_kmv_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 KMV as maintained STREAMING state (r7): 3 micro-batches through
    ``foreach_batch_kmv_append`` (each batch's min-k hash table appended
    to the log, merged on read by ``kmv_log_state``'s
    union-distinct-keep-k — idempotent by algebra), final estimate gated
    by the SAME oracle as the one-shot ``kmv_distinct_users``."""
    import hashlib as _hl

    from ralf_spark.operators.sketches import kmv_estimate
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_kmv_append,
        kmv_log_state,
        run_bounded,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    src = _scratch(f"kmv_src_{tag}_")
    ev = _t(spark, sf_dir, "events").df.select("event_type", "user_id")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    state = _scratch(f"kmv_state_{tag}_") + "/log"
    stream = file_events(
        spark, src, schema="event_type string, user_id long",
        max_files_per_trigger=1,
    )
    run_bounded(
        foreach_batch_kmv_append(
            stream, state, group_cols=["event_type"], value_col="user_id",
            k=32,
        ),
        checkpoint=_scratch(f"ck_kmv_{tag}_"),
    )
    return kmv_estimate(
        kmv_log_state(spark, state, ["event_type"], k=32), ["event_type"],
        k=32,
    ).orderBy("event_type")


@query(
    "streaming_cms_state",
    cms_counters_sql("user_id", "FROM events", depth=4, width=64)
    + " ORDER BY r, bucket",
)
def streaming_cms_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 count-min as maintained STREAMING state (r7): the events stream
    drains in 3 micro-batches through ``foreach_batch_cms_append``, each
    batch's counter matrix appended to the log and summed on read by
    ``cms_log_state``, and the final matrix is gated CELL-FOR-CELL
    against DuckDB computing the same matrix over the full table —
    counter sums are micro-batching-invariant, and replay safety rides
    the per-batch partition (a replay rewrites its own partition; sums
    double-count, unlike the HLL register max). State is depth x width
    cells per logged batch, folded to one matrix by compaction."""
    import hashlib as _hl

    from ralf_spark.streaming import (
        cms_log_state,
        file_events,
        foreach_batch_cms_append,
        run_bounded,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    src = _scratch(f"cms_src_{tag}_")
    ev = _t(spark, sf_dir, "events").df.select("user_id")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    state = _scratch(f"cms_state_{tag}_") + "/log"
    stream = file_events(
        spark, src, schema="user_id long", max_files_per_trigger=1
    )
    run_bounded(
        foreach_batch_cms_append(
            stream, state, key_col="user_id", depth=4, width=64
        ),
        checkpoint=_scratch(f"ck_cms_{tag}_"),
    )
    return (
        cms_log_state(spark, state)
        .select("r", "bucket", F.col("c").cast("bigint").alias("c"))
        .orderBy("r", "bucket")
    )


@query(
    "streaming_rq_log_state",
    reservoir_quantile_sql(
        "events", ["event_type"], "value", "event_id",
        qs=(0.5, 0.9, 0.99), k=64,
    )
    + " ORDER BY event_type",
)
def streaming_rq_log_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch as maintained STREAMING state (r14, VERDICT r13
    #3): the events stream drains in 3 micro-batches through
    ``foreach_batch_rq_append`` — each batch's bottom-k sample rows land
    under their own ``_batch`` partition (O(batch) per batch, zero reads
    of existing state) — then ``maintain_sketch_log`` MERGES all but the
    newest partition mid-gate (the union-distinct-keep-k fold, idempotent
    by algebra, so compaction cannot change the estimate), and the final
    p50/p90/p99 read must equal the one-shot ``reservoir_quantile``
    oracle EXACTLY: the bottom-k union is associative/commutative/
    idempotent, so any micro-batching and any replay converge on the
    identical sample. State is O(groups·k) whatever the stream length."""
    import hashlib as _hl

    from ralf_spark.operators.sketches import rq_quantiles
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_rq_append,
        maintain_sketch_log,
        rq_log_merge,
        rq_log_state,
        run_bounded,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    src = _scratch(f"rq_src_{tag}_")
    ev = _t(spark, sf_dir, "events").df.select(
        "event_type", "event_id", "value"
    )
    ev.repartition(3).write.mode("overwrite").parquet(src)
    state = _scratch(f"rq_state_{tag}_") + "/log"
    stream = file_events(
        spark, src,
        schema="event_type string, event_id long, value double",
        max_files_per_trigger=1,
    )
    run_bounded(
        foreach_batch_rq_append(
            stream, state, group_cols=["event_type"],
            value_col="value", id_col="event_id", k=64,
        ),
        checkpoint=_scratch(f"ck_rq_{tag}_"),
    )
    maintain_sketch_log(
        spark, state, merge=rq_log_merge(["event_type"], k=64)
    )
    return rq_quantiles(
        rq_log_state(spark, state, ["event_type"], k=64),
        ["event_type"], qs=(0.5, 0.9, 0.99),
    ).orderBy("event_type")


# Registry finalization: re-applies the driver-prefix ordering when THIS
# module was the import entry point (circular-entry tolerance; no-op when
# ralf_spark.queries was imported first and has already finalized).
from ralf_spark.queries import finalize_registry as _finalize  # noqa: E402

_finalize()
