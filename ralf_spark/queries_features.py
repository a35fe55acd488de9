"""Registry entries for feature-engineering transforms.

The reference's feature tables carry user-computed scalar features
(``ralf/operator.py`` transform surface); these queries cover the
standard feature-preparation operators a training pipeline applies on
top: per-group normalization, equal-frequency binning, and corpus
scrubbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ralf_spark.functions.hashing import stable_hash64_sql
from ralf_spark.functions.text import tokens_sql, word_shingles_sql
from ralf_spark.queries import _doc_stream, _docs_par, _scratch, _t, query

#: blocklist for the redaction query (inlined into both engines)
_SCRUB_PATTERN = r"\b(customer|spark)\b"


@query(
    "zscore_per_event_type",
    """
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    ORDER BY e.event_id
    """,
)
def zscore_per_event_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization — computed as a tiny aggregate
    joined back (broadcast: one row per event type), NOT as a window over
    the group: a window partitioned by a low-cardinality key funnels each
    whole group through one task at scale, while agg + broadcast join
    keeps the normalization embarrassingly parallel."""
    ev = _t(spark, sf_dir, "events").df
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias(
                "z"
            ),
        )
        .orderBy("event_id")
    )


@query(
    "value_deciles",
    """
    SELECT event_id, event_type,
           ntile(10) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS decile
    FROM events ORDER BY event_id
    """,
)
def value_deciles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (deciles) per event type — the quantile
    bucketing feature transform, deterministic via the event_id
    tie-break. One sort-shuffle on the group key; at scale with few
    groups, pre-aggregate approximate quantile cuts instead (documented
    trade-off — this query is the exact form)."""
    ev = _t(spark, sf_dir, "events").df
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type", F.ntile(10).over(w).alias("decile")
    ).orderBy("event_id")


@query(
    "redact_blocklist",
    f"""
    SELECT doc_id,
           md5(regexp_replace(text, '{_SCRUB_PATTERN}', '<redacted>', 'g'))
             AS clean_md5,
           CAST(len(regexp_extract_all(text, '{_SCRUB_PATTERN}'))
                AS INTEGER) AS n_redacted
    FROM documents ORDER BY doc_id
    """,
)
def redact_blocklist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrubbing: replace blocklisted terms with a redaction
    token and count the hits — the PII/contamination-removal shape of a
    pretraining cleaning pipeline (the digest of the cleaned text is
    compared, keeping the oracle payload small). Scan-side regex only.
    Note DuckDB needs the 'g' flag for replace-all; Spark's
    regexp_replace is replace-all by default."""
    docs = _docs_par(spark, sf_dir)
    return docs.df.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.col("text"), _SCRUB_PATTERN, "<redacted>")
        ).alias("clean_md5"),
        F.regexp_count(F.col("text"), F.lit(_SCRUB_PATTERN)).alias(
            "n_redacted"
        ),
    ).orderBy("doc_id")


@query(
    "token_entropy",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS w FROM documents
    )
    SELECT doc_id,
           len(w) AS n_tokens,
           round(-list_sum(list_transform(list_distinct(w),
                 t -> (CAST(len(list_filter(w, x -> x = t)) AS DOUBLE)
                       / len(w))
                      * log2(CAST(len(list_filter(w, x -> x = t)) AS DOUBLE)
                             / len(w)))), 4) AS entropy
    FROM toks ORDER BY doc_id
    """,
)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (Shannon) entropy of each document's token distribution —
    the repetitiveness/quality signal (boilerplate and keyword-stuffed
    documents score low; a compression-ratio proxy computable natively).
    Higher-order array expressions only, scan-side; O(distinct·n) per
    document, bounded by document length."""
    from ralf_spark.functions.text import tokens

    docs = _docs_par(spark, sf_dir)
    w = tokens(F.col("text"))
    docs_df = docs.df.withColumn("w", w)
    n = F.size("w")
    p = lambda t: (
        F.size(F.filter(F.col("w"), lambda x: x == t)).cast("double") / n
    )
    ent = -F.aggregate(
        F.transform(F.array_distinct("w"), lambda t: p(t) * F.log2(p(t))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return docs_df.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(ent, 4).alias("entropy"),
    ).orderBy("doc_id")


@query(
    "kmeans_refine_step",
    """
    WITH init AS (
      SELECT label AS cid, min_by(embedding, vec_id) AS cvec
      FROM embeddings GROUP BY label
    ), dists AS (
      SELECT e.vec_id, i.cid, e.embedding,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               j -> (CAST(e.embedding[j] AS DOUBLE)
                     - CAST(i.cvec[j] AS DOUBLE))
                    * (CAST(e.embedding[j] AS DOUBLE)
                       - CAST(i.cvec[j] AS DOUBLE)))) AS d
      FROM embeddings e CROSS JOIN init i
    ), assign AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT vec_id, cid, embedding,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        FROM dists) WHERE rk = 1
    ), flat AS (
      SELECT cid, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS v
      FROM assign
    ), dims AS (
      SELECT cid, pos, avg(CAST(v AS DOUBLE)) AS av
      FROM flat GROUP BY cid, pos
    ), norms AS (
      SELECT cid, round(sum(av * av), 4) AS new_sq_norm
      FROM dims GROUP BY cid
    ), counts AS (
      SELECT cid, count(*) AS n_members FROM assign GROUP BY cid
    )
    SELECT n.cid, c.n_members, n.new_sq_norm
    FROM norms n JOIN counts c ON c.cid = n.cid
    ORDER BY n.cid
    """,
)
def kmeans_refine_step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) refinement iteration, fully distributed and
    deterministic: seed centroids are the min-vec_id vector per label
    (exact floats — no averaging, so distances are bit-identical in any
    engine), assignment is nearest-centroid via a broadcast cross join
    against the k=10 seed rows (k tiny by contract — this is the one
    place a nested-loop join is the RIGHT plan), new centroids are
    per-(cluster, dim) cell means via posexplode + hash-agg — never a
    whole-vector reduce on one node. Iterating = re-running with the
    output as the next seed (plan-literal centroids, as ivf_topk does).
    Output: cluster size + new centroid squared norm."""
    emb = _t(spark, sf_dir, "embeddings").df
    init = emb.groupBy(F.col("label").alias("cid")).agg(
        F.min_by("embedding", "vec_id").alias("cvec")
    )
    diff_sq = lambda x, c: (x.cast("double") - c.cast("double")) * (
        x.cast("double") - c.cast("double")
    )
    d = F.aggregate(
        F.zip_with("embedding", "cvec", diff_sq),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = emb.crossJoin(F.broadcast(init)).withColumn("d", d)
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    assign = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "cid", "embedding")
    )
    cells = (
        assign.select("cid", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("av"))
    )
    norms = cells.groupBy("cid").agg(
        F.round(F.sum(F.col("av") * F.col("av")), 4).alias("new_sq_norm")
    )
    counts = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    # broadcast hint (r15): counts is ≤ k rows by the same k-tiny
    # contract that broadcasts the seed centroids, but it sits under an
    # agg whose size estimate freezes pessimistic — the static plan
    # paired two exchanges + sorts into a SortMergeJoin for a k-row join
    return (
        norms.join(F.broadcast(counts), "cid")
        .select("cid", "n_members", "new_sq_norm")
        .orderBy("cid")
    )


@query(
    "psi_split_drift",
    f"""
    WITH assigned AS (
      SELECT least(CAST(n_chars // 100 AS INTEGER), 5) AS bucket,
             CASE WHEN {stable_hash64_sql('doc_id')} % 10000 < 8000
                  THEN 'train'
                  WHEN {stable_hash64_sql('doc_id')} % 10000 >= 9000
                  THEN 'test' END AS split
      FROM documents
    ), counts AS (
      SELECT bucket,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_test
      FROM assigned WHERE split IS NOT NULL GROUP BY bucket
    ), tot AS (
      SELECT CAST(sum(n_train) AS DOUBLE) AS tr,
             CAST(sum(n_test) AS DOUBLE) AS te
      FROM counts
    )
    SELECT bucket, n_train, n_test,
           round(((n_train + 1.0) / (tr + 6) - (n_test + 1.0) / (te + 6))
                 * ln(((n_train + 1.0) / (tr + 6))
                      / ((n_test + 1.0) / (te + 6))), 6) AS psi_term
    FROM counts CROSS JOIN tot ORDER BY bucket
    """,
)
def psi_split_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the train and test splits of
    the deterministic dataset_split, over the document-length
    distribution — the standard "did my split/mix shift?" data-quality
    check (PSI < 0.1 = stable). Fixed-width buckets keep the binning
    deterministic cross-engine (quantile cuts would not be); +1 Laplace
    smoothing keeps empty buckets finite identically in both engines.
    Two tiny aggregations; the totals broadcast back."""
    from ralf_spark.operators.policies import dataset_split
    from ralf_spark.table import FeatureTable

    docs = _t(spark, sf_dir, "documents")
    assigned = dataset_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, on="doc_id"
    ).df.where(F.col("split").isin("train", "test"))
    bucket = F.least(F.expr("n_chars div 100").cast("int"), F.lit(5))
    counts = (
        assigned.select(bucket.alias("bucket"), "split")
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
    )
    tot = counts.agg(
        F.sum("n_train").cast("double").alias("tr"),
        F.sum("n_test").cast("double").alias("te"),
    )
    p = (F.col("n_train") + 1.0) / (F.col("tr") + 6)
    q = (F.col("n_test") + 1.0) / (F.col("te") + 6)
    return (
        counts.join(F.broadcast(tot))
        .select(
            "bucket",
            "n_train",
            "n_test",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


@query(
    "multimodal_audio_energy",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n, length(text) // 4 AS b
      FROM documents
    )
    SELECT doc_id,
           n / 16000.0 AS duration_s,
           round((CAST(('0x' || substring(md5(substring(text, 1, b)), 1, 4))
                  AS BIGINT) % 10000) / 10000.0, 4) AS e0,
           round((CAST(('0x' || substring(md5(substring(text, 1 + b, b)),
                  1, 4)) AS BIGINT) % 10000) / 10000.0, 4) AS e1,
           round((CAST(('0x' || substring(md5(substring(text, 1 + 2 * b, b)),
                  1, 4)) AS BIGINT) % 10000) / 10000.0, 4) AS e2,
           round((CAST(('0x' || substring(md5(substring(text, 1 + 3 * b,
                  n - 3 * b)), 1, 4)) AS BIGINT) % 10000) / 10000.0, 4) AS e3
    FROM d ORDER BY doc_id
    """,
)
def multimodal_audio_energy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 audio: Arrow-batched mapInPandas kernel treating the binary
    payload as PCM — duration from byte length, per-byte-range chunk
    pseudo-energies (stub codec; real RMS swaps into the same iterator).
    The oracle replays the byte-chunking + digest math in SQL (payload is
    UTF-8 of ASCII text, so byte slices == char slices), hash-checking
    the whole Python batch path including the chunk boundary arithmetic.
    The 4-chunk energy array is projected to one scalar column per chunk:
    the harness's row sort rejects array cells."""
    from ralf_spark.operators.multimodal import (
        decode_audio_features,
        with_binary_payload,
    )

    docs = with_binary_payload(_docs_par(spark, sf_dir))
    out = decode_audio_features(docs, mode="stub")
    e = F.col("chunk_energy")
    return out.df.select(
        "doc_id",
        "duration_s",
        e[0].alias("e0"),
        e[1].alias("e1"),
        e[2].alias("e2"),
        e[3].alias("e3"),
    ).orderBy("doc_id")


@query(
    "debounce_per_key_hourly",
    """
    SELECT user_id, bucket_start, event_id, round(value, 4) AS value
    FROM (
      SELECT user_id,
             CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP)
               AS bucket_start,
             event_id, value,
             row_number() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
               ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
    WHERE rk = 1
    ORDER BY user_id, bucket_start
    """,
)
def debounce_per_key_hourly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / rate-limit policy: at most one emitted row per key per
    hour (the latest), the time-based cousin of the reference's
    load-shedding policies (``ralf/policies/load_shedding_policy.py`` —
    sample/threshold variants) for downstream consumers that can't absorb
    every update. max_by per (key, hour bucket) — map-side-partial hash
    agg, one shuffle, no sort window."""
    ev = _t(spark, sf_dir, "events").df
    bucket = F.window(F.col("ts"), "1 hour").start.alias("bucket_start")
    payload = F.struct("event_id", "value")
    return (
        ev.groupBy(F.col("user_id"), bucket)
        .agg(
            F.max_by(payload, F.struct("ts", "event_id")).alias("_w")
        )
        .select(
            "user_id",
            "bucket_start",
            F.col("_w.event_id").alias("event_id"),
            F.round("_w.value", 4).alias("value"),
        )
        .orderBy("user_id", "bucket_start")
    )


#: Gopher-style repetition thresholds (Rae et al. 2021, table A1 shape —
#: adapted to the whitespace-token fixture corpus; inlined into both engines)
_GOPHER_TTR_MIN = 0.30
_GOPHER_TOP_BIGRAM_MAX = 0.08
_GOPHER_DUP_TRIGRAM_MAX = 0.20


@query(
    "gopher_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, text, {tokens_sql('text')} AS w FROM documents
    ),
    stats AS (
      SELECT doc_id, length(text) AS n_chars_t, len(w) AS n_words,
             CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT)
               / len(w) AS mean_word_len,
             len(list_distinct(w)) / len(w) AS ttr
      FROM toks
    ),
    big AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id,
                   unnest({word_shingles_sql('w', 2)}) AS g
            FROM toks)
      GROUP BY doc_id, g
    ),
    bigtop AS (
      SELECT doc_id, max(struct_pack(c := c, g := g)) AS top
      FROM big GROUP BY doc_id
    ),
    tri AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id,
                   unnest({word_shingles_sql('w', 3)}) AS g
            FROM toks)
      GROUP BY doc_id, g
    ),
    tridup AS (
      SELECT doc_id,
             sum(CASE WHEN c > 1 THEN c * length(g) END) AS dup_chars
      FROM tri GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_words,
           round(s.mean_word_len, 4) AS mean_word_len,
           round(s.ttr, 4) AS ttr,
           round(coalesce(b.top.c * length(b.top.g), 0) / s.n_chars_t, 4)
             AS top_bigram_frac,
           round(coalesce(t.dup_chars, 0) / s.n_chars_t, 4)
             AS dup_trigram_frac,
           (s.ttr >= {_GOPHER_TTR_MIN}
            AND coalesce(b.top.c * length(b.top.g), 0) / s.n_chars_t
                <= {_GOPHER_TOP_BIGRAM_MAX}
            AND coalesce(t.dup_chars, 0) / s.n_chars_t
                <= {_GOPHER_DUP_TRIGRAM_MAX}) AS keep
    FROM stats s
    LEFT JOIN bigtop b ON b.doc_id = s.doc_id
    LEFT JOIN tridup t ON t.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def gopher_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per
    document, the fraction of characters covered by the most frequent
    bigram, the fraction covered by duplicated trigrams, type-token
    ratio, and mean word length — the standard pretraining corpus
    repetition battery (the reference has no text surface; this extends
    E4 per SURVEY §2.10).

    Scale: n-gram counting is explode → groupBy(doc_id, gram) — a single
    hash-partitioned shuffle whose key cardinality grows with the corpus
    (never a per-doc Python loop); per-doc scalars stay in one scan-side
    projection. The top-bigram argmax is `max(struct(count, gram))` —
    map-side partial, deterministic tie-break by gram text."""
    from ralf_spark.functions.text import tokens, word_shingles

    docs = _docs_par(spark, sf_dir).df
    base = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("w")
    )
    stats = base.select(
        "doc_id",
        F.length("text").alias("n_chars_t"),
        F.size("w").alias("n_words"),
        (
            F.aggregate(
                "w", F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
            )
            / F.size("w")
        ).alias("mean_word_len"),
        (F.size(F.array_distinct("w")) / F.size("w")).alias("ttr"),
    )
    bigtop = (
        base.select(
            "doc_id", F.explode(word_shingles(F.col("w"), 2)).alias("g")
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max(F.struct("c", "g")).alias("top"))
        .select(
            "doc_id",
            (F.col("top.c") * F.length("top.g")).alias("top_chars"),
        )
    )
    tridup = (
        base.select(
            "doc_id", F.explode(word_shingles(F.col("w"), 3)).alias("g")
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("g"))
            ).alias("dup_chars")
        )
    )
    top_frac = F.coalesce(F.col("top_chars"), F.lit(0)) / F.col("n_chars_t")
    dup_frac = F.coalesce(F.col("dup_chars"), F.lit(0)) / F.col("n_chars_t")
    return (
        stats.join(bigtop, "doc_id", "left")
        .join(tridup, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.round("mean_word_len", 4).alias("mean_word_len"),
            F.round("ttr", 4).alias("ttr"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
            F.round(dup_frac, 4).alias("dup_trigram_frac"),
            (
                (F.col("ttr") >= _GOPHER_TTR_MIN)
                & (top_frac <= _GOPHER_TOP_BIGRAM_MAX)
                & (dup_frac <= _GOPHER_DUP_TRIGRAM_MAX)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


#: decontamination shingle width (GPT-3 appendix C uses 13-gram exact
#: match; the fixture corpus is short so 8 keeps overlap non-trivial)
_DECON_N = 8
#: eval-split rate, per-10000 buckets of the content hash
_DECON_EVAL_PCT = 5


@query(
    "decontaminate_against_eval",
    f"""
    WITH toks AS (
      SELECT doc_id,
             {stable_hash64_sql('text', salt='decon')} % 100
               < {_DECON_EVAL_PCT} AS is_eval,
             {tokens_sql('text')} AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, is_eval,
             unnest(list_distinct({word_shingles_sql('w', _DECON_N)})) AS g
      FROM toks
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE is_eval)
    SELECT doc_id, count(DISTINCT g) AS n_shared_grams
    FROM grams JOIN eval_grams USING (g)
    WHERE NOT is_eval
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def decontaminate_against_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Gopher §A2 shape):
    flag training documents that share any {n}-gram with the held-out
    eval split, so contaminated examples can be dropped before training.
    The eval split is the deterministic content-hash split (same family
    as ``dataset_split``), so train/eval membership is reproducible.

    Scale: the eval n-gram set is small by contract (benchmarks are),
    so it broadcasts and the train-side scan never shuffles its grams —
    contamination checking over 100 TB is one map-side semi-join plus a
    per-doc count. If the eval side ever outgrows broadcast, drop the
    hint and the same plan shuffle-joins on the gram key.
    """
    from ralf_spark.functions.hashing import stable_hash64
    from ralf_spark.functions.text import distinct_shingles

    docs = _docs_par(spark, sf_dir).df
    base = docs.select(
        "doc_id",
        (
            stable_hash64(F.col("text"), salt="decon") % 100
            < _DECON_EVAL_PCT
        ).alias("is_eval"),
        distinct_shingles(F.col("text"), _DECON_N).alias("grams"),
    )
    exploded = base.select(
        "doc_id", "is_eval", F.explode("grams").alias("g")
    )
    eval_grams = (
        exploded.filter("is_eval").select("g").distinct()
    )
    return (
        exploded.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def _decon_spans_oracle_sql() -> str:
    from ralf_spark.operators.dedup import cross_corpus_duplicate_spans_sql

    inner = cross_corpus_duplicate_spans_sql(
        table=(
            "(SELECT doc_id, text FROM documents WHERE "
            f"{stable_hash64_sql('text', salt='decon')} % 100"
            f" >= {_DECON_EVAL_PCT})"
        ),
        other=(
            "(SELECT doc_id, text FROM documents WHERE "
            f"{stable_hash64_sql('text', salt='decon')} % 100"
            f" < {_DECON_EVAL_PCT})"
        ),
        min_tokens=_DECON_N,
    )
    return f"""
    WITH spans AS ({inner})
    SELECT doc_id, span_start, span_end, span_tokens
    FROM spans ORDER BY doc_id, span_start
    """


@query("decontaminate_spans_eval", _decon_spans_oracle_sql())
def decontaminate_spans_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination (r12): the exact token ranges of each
    training document that appear verbatim in the eval split — the
    ExactSubstr formulation of benchmark decontamination
    (:func:`cross_corpus_duplicate_spans`). Where
    ``decontaminate_against_eval`` flags whole documents, this emits the
    removable ranges, so a 100 TB curation loop keeps the document and
    cuts only the leak. Same deterministic content-hash train/eval
    split; same broadcast-eval-grams scale shape (the eval digest set
    broadcasts into the training-gram scan, auto-degrading past the
    broadcast bound)."""
    from ralf_spark.functions.hashing import stable_hash64
    from ralf_spark.operators.dedup import cross_corpus_duplicate_spans
    from ralf_spark.table import FeatureTable

    docs = _docs_par(spark, sf_dir).df
    is_eval = stable_hash64(F.col("text"), salt="decon") % 100 < (
        _DECON_EVAL_PCT
    )
    train = FeatureTable(docs.where(~is_eval), key="doc_id")
    eval_t = FeatureTable(docs.where(is_eval), key="doc_id")
    from ralf_spark.operators.util import attach_cached

    spans = cross_corpus_duplicate_spans(train, eval_t, min_tokens=_DECON_N)
    # re-attach through the sort (attribute-based handle; r12 review)
    return attach_cached(
        spans.orderBy("doc_id", "span_start"),
        getattr(spans, "_ralf_cached", []),
    )


def _decon_removal_oracle_sql() -> str:
    from ralf_spark.operators.dedup import remove_contaminated_spans_sql

    train = (
        "(SELECT doc_id, text FROM documents WHERE "
        f"{stable_hash64_sql('text', salt='decon')} % 100"
        f" >= {_DECON_EVAL_PCT})"
    )
    eval_ = (
        "(SELECT doc_id, text FROM documents WHERE "
        f"{stable_hash64_sql('text', salt='decon')} % 100"
        f" < {_DECON_EVAL_PCT})"
    )
    inner = remove_contaminated_spans_sql(
        table=train, other=eval_, min_tokens=_DECON_N
    )
    return f"""
    WITH cleaned AS ({inner})
    SELECT doc_id, md5(clean_text) AS clean_md5, n_kept, n_removed
    FROM cleaned ORDER BY doc_id
    """


@query("decontaminate_removal_eval", _decon_removal_oracle_sql())
def decontaminate_removal_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination, detect→CUT composition (r12): the
    leaked eval substrings are removed from each training document
    in-place (:func:`remove_contaminated_spans`) — every train doc
    appears exactly once, cleaned; the md5 of the cleaned text plus the
    kept/removed counts are hash-gated against the full DuckDB replay."""
    from ralf_spark.functions.hashing import stable_hash64
    from ralf_spark.operators.dedup import remove_contaminated_spans
    from ralf_spark.table import FeatureTable

    docs = _docs_par(spark, sf_dir).df
    is_eval = stable_hash64(F.col("text"), salt="decon") % 100 < (
        _DECON_EVAL_PCT
    )
    train = FeatureTable(docs.where(~is_eval), key="doc_id")
    eval_t = FeatureTable(docs.where(is_eval), key="doc_id")
    out = remove_contaminated_spans(train, eval_t, min_tokens=_DECON_N)
    from ralf_spark.operators.util import attach_cached

    return attach_cached(
        out.select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_kept",
            "n_removed",
        ).orderBy("doc_id"),
        getattr(out, "_ralf_cached", []),
    )


@query("streaming_decontaminate_eval", _decon_removal_oracle_sql())
def streaming_decontaminate_eval_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING span-level decontamination (r12): the train split
    arrives as two micro-batches through
    ``foreach_batch_gram_decontaminate``, each checked READ-ONLY against
    a fixed eval-set GramIndex and written with the leaked spans cut.
    Because the eval store never changes, per-batch cleaning equals
    cleaning the whole corpus at once — the oracle is the SAME one-shot
    ``remove_contaminated_spans`` replay that gates the batch
    composition, which pins batch-decomposition invariance."""
    import hashlib as _hl

    from ralf_spark.functions.hashing import stable_hash64
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.streaming import (
        foreach_batch_gram_decontaminate,
        run_bounded,
    )
    from ralf_spark.table import FeatureTable

    docs = _docs_par(spark, sf_dir).df.select("doc_id", "text")
    is_eval = stable_hash64(F.col("text"), salt="decon") % 100 < (
        _DECON_EVAL_PCT
    )
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    idx = GramIndex(_scratch(f"decon_idx_{tag}_"), min_tokens=_DECON_N)
    idx.build(FeatureTable(docs.where(is_eval), key="doc_id"))
    train = docs.where(~is_eval)
    stream = _doc_stream(
        [train.where(F.col("doc_id") % 2 == 0),
         train.where(F.col("doc_id") % 2 == 1)],
        "decon_stream_",
    )
    out_path = _scratch(f"decon_out_{tag}_") + "/cleaned"
    run_bounded(
        foreach_batch_gram_decontaminate(
            stream, idx, out_path, key="doc_id"
        ),
        checkpoint=_scratch("ck_decon_"),
        shuffle_partitions=8,
    )
    return (
        spark.read.parquet(out_path)
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_kept",
            "n_removed",
        )
        .orderBy("doc_id")
    )


#: training-sequence chunk length and stride, in tokens
_CHUNK_LEN = 32
_CHUNK_STRIDE = 24


def _cdc_oracle() -> str:
    from ralf_spark.operators.text_analysis import cdc_chunks_sql

    return cdc_chunks_sql() + "\n    ORDER BY doc_id, chunk_idx"


@query("cdc_chunk_documents", _cdc_oracle())
def cdc_chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (r11b): rolling-hash boundaries cut each
    token stream into edit-stable chunks (~2^5 tokens expected) — insert
    a paragraph and only the chunks containing it re-cut, so chunk-hash
    dedup and incremental storage see everything else unchanged (the
    Rabin/LBFS trick at token granularity; the fixed-window
    ``chunk_documents`` is the context-packing sibling). One row-local
    scan, zero shuffle before the presentation sort."""
    from ralf_spark.operators.text_analysis import cdc_chunks

    docs = _docs_par(spark, sf_dir)
    return cdc_chunks(docs.df, hash_fn="md5").orderBy("doc_id", "chunk_idx")


def _cdc_dedup_oracle() -> str:
    from ralf_spark.operators.text_analysis import cdc_chunk_dedup_stats_sql

    return cdc_chunk_dedup_stats_sql() + "\n    ORDER BY doc_id"


@query("cdc_chunk_dedup", _cdc_dedup_oracle())
def cdc_chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level storage dedup (r12): per document, the fraction of
    CDC-chunk tokens whose content hash occurs more than once
    corpus-wide — what a content-addressed store saves by writing each
    chunk once (:func:`cdc_chunk_dedup_stats`). One chunking scan + one
    hash-keyed groupBy/rejoin; edit-stable boundaries mean near-dup
    documents share most chunks."""
    from ralf_spark.operators.text_analysis import cdc_chunk_dedup_stats

    docs = _docs_par(spark, sf_dir)
    return cdc_chunk_dedup_stats(docs.df, hash_fn="md5").orderBy("doc_id")


@query(
    "chunk_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS w FROM documents
    ),
    sized AS (
      SELECT doc_id, w,
             CASE WHEN len(w) > {_CHUNK_LEN}
                  THEN (len(w) - {_CHUNK_LEN} + {_CHUNK_STRIDE} - 1)
                       // {_CHUNK_STRIDE}
                  ELSE 0 END AS n_extra
      FROM toks
    )
    SELECT doc_id, k AS chunk_id,
           len(w[1 + k * {_CHUNK_STRIDE} :
                 k * {_CHUNK_STRIDE} + {_CHUNK_LEN}]) AS n_tokens,
           array_to_string(w[1 + k * {_CHUNK_STRIDE} :
                 k * {_CHUNK_STRIDE} + {_CHUNK_LEN}], ' ') AS chunk_text
    FROM (SELECT doc_id, w, unnest(generate_series(0, n_extra)) AS k
          FROM sized)
    ORDER BY doc_id, chunk_id
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunking: split each document's token stream
    into overlapping fixed-length windows (len {_CHUNK_LEN}, stride
    {_CHUNK_STRIDE}) — the context-window packing step every pretraining
    pipeline runs before tokenized examples hit the trainer. Pure
    per-row fan-out (sequence → explode → slice), no shuffle until the
    presentation sort; at 100 TB this is scan-shaped and embarrassingly
    parallel."""
    from ralf_spark.functions.text import tokens

    C, S = _CHUNK_LEN, _CHUNK_STRIDE
    docs = _docs_par(spark, sf_dir).df
    base = docs.select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).withColumn(
        "n_extra",
        F.when(
            F.size("w") > C,
            F.expr(f"(size(w) - {C} + {S} - 1) div {S}"),
        ).otherwise(F.lit(0)),
    )
    chunk = F.slice(F.col("w"), F.col("k") * S + 1, C)
    return (
        base.select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.col("n_extra"))).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").alias("chunk_id"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "interval_join_clicks_before_purchase",
    """
    SELECT l.event_id, count(*) AS n_prior_clicks,
           round(sum(r.value), 4) AS sum_click_value
    FROM events l JOIN events r
      ON r.user_id = l.user_id
     AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
    WHERE l.event_type = 'purchase' AND r.event_type = 'click'
    GROUP BY l.event_id
    ORDER BY l.event_id
    """,
)
def interval_join_clicks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-bounded stream-stream) join: for each purchase,
    the clicks by the same user in the preceding hour — attribution the
    reference's latest-state join cannot express (it keeps ONE right
    row per key; this keeps all within the bound). See
    ``operators.joins.interval_join`` for streaming/watermark behavior."""
    from ralf_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = interval_join(purchases, clicks, lookback="1 hour")
    return (
        joined.df.groupBy("event_id")
        .agg(
            F.count("*").alias("n_prior_clicks"),
            F.round(F.sum("value_r"), 4).alias("sum_click_value"),
        )
        .orderBy("event_id")
    )


#: TextRank damping and iteration count (fixed, unrolled in the oracle)
_TEXTRANK_D = 0.85
_TEXTRANK_ITERS = 5


def _textrank_oracle() -> str:
    """Unrolled PageRank iterations as chained CTEs (DuckDB replays the
    exact computation — same float ops, same iteration count)."""
    d, iters = _TEXTRANK_D, _TEXTRANK_ITERS
    steps = []
    for k in range(iters):
        steps.append(
            f"""r{k + 1} AS (
      SELECT n.node,
             (1 - {d}) / (SELECT n FROM nn)
             + {d} * coalesce(s.acc, 0) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.pr * e.w / o.ow) AS acc
        FROM edges e
        JOIN r{k} r ON r.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) s ON s.node = n.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS w FROM documents
    ),
    big AS (
      SELECT unnest({word_shingles_sql('w', 2)}) AS g FROM toks
    ),
    pairs AS (
      SELECT string_split(g, ' ')[1] AS a, string_split(g, ' ')[2] AS b,
             count(*) AS c
      FROM big GROUP BY a, b
    ),
    edges AS (
      SELECT a AS src, b AS dst, c AS w FROM pairs WHERE a <> b
      UNION ALL
      SELECT b AS src, a AS dst, c AS w FROM pairs WHERE a <> b
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
    {chain}
    SELECT node AS token, round(pr * 1000, 4) AS textrank_x1000
    FROM r{iters}
    ORDER BY pr DESC, token
    LIMIT 20
    """


@query("textrank_tokens", _textrank_oracle())
def textrank_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): PageRank over the token
    co-occurrence (bigram) graph — keyword importance scoring, and the
    engine's iterative-algorithm pattern: each of the {iters} fixed
    iterations is one join-aggregate round trip, expressed declaratively
    so Catalyst plans every round (the reference has no iterative
    surface at all).

    Scale: the rank state is one row per vocabulary token — tiny next to
    the corpus — so each iteration is a broadcast-joinable aggregate; the
    corpus-sized work (bigram counting) happens once up front. The
    oracle unrolls the same {iters} iterations as chained CTEs, so the
    estimator output itself is cross-engine-checked."""
    from ralf_spark.functions.text import tokens, word_shingles

    d, iters = _TEXTRANK_D, _TEXTRANK_ITERS
    docs = _docs_par(spark, sf_dir).df
    grams = docs.select(
        F.explode(
            word_shingles(tokens(F.col("text")), 2)
        ).alias("g")
    )
    pairs = (
        grams.select(
            F.split("g", " ").getItem(0).alias("a"),
            F.split("g", " ").getItem(1).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .filter(F.col("a") != F.col("b"))
    )
    # cache the bigram counts: the symmetric union references them twice,
    # so the corpus-sized counting job would run 2x inside the edges
    # materialization (r7; same recompute class as semdedup/minhash)
    pairs = pairs.cache()
    edges = pairs.selectExpr("a AS src", "b AS dst", "c AS w").unionAll(
        pairs.selectExpr("b AS src", "a AS dst", "c AS w")
    )
    edges = edges.cache()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ranks = nodes.select(
        "node", (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr")
    )
    contrib_edges = edges.join(outw, "src")
    for _ in range(iters):
        acc = (
            contrib_edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .groupBy("dst")
            .agg(
                F.sum(
                    F.col("pr") * F.col("w") / F.col("ow")
                ).alias("acc")
            )
        )
        ranks = nodes.join(
            acc.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                F.lit((1 - d) / n_nodes)
                + F.lit(d) * F.coalesce(F.col("acc"), F.lit(0.0))
            ).alias("pr"),
        )
    out = (
        ranks.select(
            F.col("node").alias("token"),
            F.round(F.col("pr") * 1000, 4).alias("textrank_x1000"),
        )
        .orderBy(F.desc("pr"), "token")
        .limit(20)
    )
    # hand the two persisted intermediates to the caller for release
    # (the sweep/driver run 164 queries in one session; leaked storage
    # blocks would accumulate — same convention as semdedup/curation)
    from ralf_spark.operators.util import attach_cached

    return attach_cached(out, [pairs, edges])


@query(
    "ewma_per_user",
    """
    WITH seq AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS xs
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events,
           round(list_reduce(xs,
                 (acc, x) -> 0.2::DOUBLE * x + 0.8::DOUBLE * acc), 4)
             AS ewma
    FROM seq ORDER BY user_id
    """,
)
def ewma_per_user_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    (alpha=0.2, event-time order) — the decayed per-key feature the
    reference's actors maintain incrementally (``ralf/operators``
    examples), spelled as one hash-agg + native array fold."""
    from ralf_spark.operators.moments import ewma_per_key

    ev = _t(spark, sf_dir, "events")
    out = ewma_per_key(
        ev.df, "user_id", "ts", "value", alpha=0.2, tiebreak_col="event_id"
    )
    return out.select(
        "user_id", "n_events", F.round("ewma", 4).alias("ewma")
    ).orderBy("user_id")


@query(
    "time_decayed_sum_per_user",
    """
    WITH seq AS (
      SELECT user_id,
             list(struct_pack(t := epoch_ns(ts) // 1000,
                              x := CAST(value AS DOUBLE))
                  ORDER BY ts, event_id) AS es
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(es) AS BIGINT) AS n_events,
           round(list_reduce(es, (acc, e) -> struct_pack(
                 t := e.t,
                 x := e.x + pow(0.5, (e.t - acc.t) / 86400000000.0) * acc.x
           )).x, 4) AS decayed_sum,
           es[len(es)].t AS last_ts_us
    FROM seq ORDER BY user_id
    """,
)
def time_decayed_sum_per_user_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-time decayed sum per user (half-life 1 day over event
    time) — the time-aware decayed counter: unlike the per-event EWMA
    above, a week-long gap decays a user's accumulated mass where a
    burst of events barely does. Same distributed shape (one hash-agg +
    native struct-accumulator fold); the oracle replays the identical
    (t, s) recurrence with DuckDB's list_reduce."""
    from ralf_spark.operators.moments import time_decayed_sum

    ev = _t(spark, sf_dir, "events")
    out = time_decayed_sum(
        ev.df, "user_id", "ts", "value",
        half_life_s=86_400.0, tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("decayed_sum", 4).alias("decayed_sum"),
        "last_ts_us",
    ).orderBy("user_id")


@query(
    "mad_outliers_per_type",
    """
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - med.m)) AS d
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           round(med.m, 4) AS group_median,
           round(mad.d, 4) AS group_mad,
           round(CASE WHEN mad.d > 0
                 THEN (e.value - med.m) / (1.4826 * mad.d) END, 4)
             AS robust_z,
           coalesce(abs(CASE WHEN mad.d > 0
                    THEN (e.value - med.m) / (1.4826 * mad.d) END) > 3.0,
                    FALSE) AS is_outlier
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    ORDER BY e.event_id
    """,
)
def mad_outliers_per_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier flags via median/MAD z-scores —
    the contamination-resistant sibling of zscore_per_event_type."""
    from ralf_spark.operators.policies import mad_outliers

    ev = _t(spark, sf_dir, "events")
    out = mad_outliers(ev.df, "event_type", "value", z_threshold=3.0)
    return out.select(
        "event_id",
        "event_type",
        F.round("group_median", 4).alias("group_median"),
        F.round("group_mad", 4).alias("group_mad"),
        F.round("robust_z", 4).alias("robust_z"),
        "is_outlier",
    ).orderBy("event_id")


@query(
    "embedding_int8_quantize",
    """
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     v -> abs(CAST(v AS DOUBLE)))) / 127
               AS scale,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_sum(list_transform(embedding,
                 v -> abs(floor(CAST(v AS DOUBLE) / scale + 0.5))))
             AS BIGINT) AS q_l1,
           round(list_sum(list_transform(embedding,
                 v -> abs(floor(CAST(v AS DOUBLE) / scale + 0.5) * scale
                          - CAST(v AS DOUBLE)))), 6) AS abs_err
    FROM s
    WHERE scale > 0
    ORDER BY vec_id
    """,
)
def embedding_int8_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the compression step a
    100 TB ANN index applies before sharding (4× smaller vectors, SIMD
    int8 dot products). Pure scan-side array expressions: per-vector
    scale = max|v|/127, code = floor(v/scale + 0.5) (explicit half-up so
    both engines round identically), plus the reconstruction-error L1 —
    no shuffle at all before the output sort. Zero vectors are excluded
    (scale 0 has no quantization)."""
    emb = _t(spark, sf_dir, "embeddings").df
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / F.lit(127.0)
    )
    df = emb.select("vec_id", F.col("embedding"), scale.alias("scale")).where(
        F.col("scale") > 0
    )
    q_of = lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5))
    q_l1 = F.aggregate(
        F.transform("embedding", lambda x: F.abs(q_of(x))),
        F.lit(0.0),
        lambda a, x: a + x,
    ).cast("long")
    abs_err = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.abs(q_of(x) * F.col("scale") - x.cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # NB: quantize with the UNROUNDED scale, round only for display — and
    # in a separate projection: `round(scale).alias("scale")` in the same
    # select list would shadow the input column via Spark's lateral column
    # alias resolution, silently quantizing with the 6-decimal scale.
    staged = df.select("vec_id", q_l1.alias("q_l1"),
                       F.round(abs_err, 6).alias("abs_err"), "scale")
    return staged.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "q_l1",
        "abs_err",
    ).orderBy("vec_id")


@query(
    "winsorize_values_per_type",
    """
    WITH pct AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(sum(CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(sum(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           round(avg(greatest(p.p05, least(p.p95, e.value))), 4)
             AS winsorized_mean
    FROM events e JOIN pct p USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def winsorize_values_per_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clamping at p05/p95 per group) — the robust
    alternative to z-score trimming for heavy-tailed features. Exact
    interpolated percentiles per type (5 groups → tiny), broadcast back
    onto the scan, clamp with greatest/least, re-aggregate. Two passes
    over events but the first reduces to |types| rows — at 100 TB the
    percentile pass is the only real cost, and `approx_percentile` is the
    drop-in mergeable-sketch spelling."""
    ev = _t(spark, sf_dir, "events")
    pct = ev.df.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clamped = ev.df.join(F.broadcast(pct), "event_type").select(
        "event_type",
        (F.col("value") < F.col("p05")).cast("long").alias("low"),
        (F.col("value") > F.col("p95")).cast("long").alias("high"),
        F.greatest("p05", F.least("p95", F.col("value"))).alias("w"),
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.sum("low").alias("n_low"),
            F.sum("high").alias("n_high"),
            F.round(F.avg("w"), 4).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


@query(
    "multimodal_resize",
    """
    WITH d AS (
      SELECT doc_id, text, md5(text) AS h FROM documents
    ),
    dims AS (
      SELECT doc_id, text,
             CAST(1 + CAST(('0x' || substring(h, 1, 4)) AS BIGINT) % 2048
                  AS BIGINT) AS src_w,
             CAST(1 + CAST(('0x' || substring(h, 5, 4)) AS BIGINT) % 2048
                  AS BIGINT) AS src_h
      FROM d
    ),
    fit AS (
      SELECT doc_id, text, src_w, src_h,
             CASE
               WHEN src_w <= 256 AND src_h <= 256 THEN src_w
               WHEN src_w * 256 >= src_h * 256
                 THEN 256
               ELSE greatest(1, src_w * 256 // src_h)
             END AS dst_w,
             CASE
               WHEN src_w <= 256 AND src_h <= 256 THEN src_h
               WHEN src_w * 256 >= src_h * 256
                 THEN greatest(1, src_h * 256 // src_w)
               ELSE 256
             END AS dst_h
      FROM dims
    )
    SELECT doc_id,
           CAST(src_w AS INTEGER) AS src_w, CAST(src_h AS INTEGER) AS src_h,
           CAST(dst_w AS INTEGER) AS dst_w, CAST(dst_h AS INTEGER) AS dst_h,
           md5(text || '|' || dst_w || 'x' || dst_h) AS resized_md5
    FROM fit ORDER BY doc_id
    """,
)
def multimodal_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 resize: aspect-preserving fit into a 256×256 box through the
    Arrow-batched stub kernel — pure-integer rescale arithmetic so the
    oracle replays every dimension and the resized-buffer digest
    bit-for-bit (payload is UTF-8 of text, so byte concat == text
    concat)."""
    from ralf_spark.operators.multimodal import resize_images, with_binary_payload

    docs = with_binary_payload(_docs_par(spark, sf_dir))
    out = resize_images(docs, max_w=256, max_h=256, mode="stub")
    return out.df.orderBy("doc_id")


# Registry finalization: re-applies the driver-prefix ordering when THIS
# module was the import entry point (circular-entry tolerance; no-op when
# ralf_spark.queries was imported first and has already finalized).
from ralf_spark.queries import finalize_registry as _finalize  # noqa: E402

_finalize()
