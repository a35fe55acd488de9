"""Registry entries: retrieval / training-data-curation operators.

BM25 keyword retrieval, unigram-LM quality scoring, duplicated-span
(memorization) statistics, SemDeDup semantic pruning, and hard-negative
mining — the curation surface an LLM data pipeline layers on top of the
dedup/similarity operators (SURVEY.md §2.10). Every query is paired with a
DuckDB oracle that replays the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ralf_spark.functions.hashing import stable_hash64_sql
from ralf_spark.functions.text import tokens, tokens_sql, word_shingles_sql
from ralf_spark.operators.dedup import duplicated_spans
from ralf_spark.operators.retrieval import (
    bm25_oracle_sql,
    bm25_scores,
    hard_negatives,
    unigram_nll,
    unigram_nll_oracle_sql,
)
from ralf_spark.operators.similarity import semdedup_prune
from ralf_spark.queries import _COS_SQL, _docs_par, _scratch, _t, query

#: fixed keyword set for the BM25 query (inlined into both engines)
_BM25_TERMS = ["spark", "join", "window"]


@query("bm25_keyword_search", bm25_oracle_sql(_BM25_TERMS))
def bm25_keyword_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set —
    one corpus scan + a broadcast single-row stats join; reference has no
    retrieval surface (features are scalar aggregates, ``ralf/table.py``)."""
    docs = _docs_par(spark, sf_dir)
    out = bm25_scores(docs, _BM25_TERMS)
    return out.select(
        "doc_id", F.round("bm25", 4).alias("bm25")
    ).orderBy("doc_id")


@query("unigram_nll_quality", unigram_nll_oracle_sql())
def unigram_nll_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus unigram
    LM (Laplace smoothing) — the cheap perplexity-style quality signal."""
    docs = _docs_par(spark, sf_dir)
    out = unigram_nll(docs)
    return out.select(
        "doc_id",
        "n_toks",
        F.round("avg_nll", 4).alias("avg_nll"),
    ).orderBy("doc_id")


@query(
    "duplicate_ngram_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS w FROM documents
    ),
    sp AS (
      SELECT doc_id, unnest({word_shingles_sql('w', 10)}) AS span
      FROM toks WHERE len(w) >= 10
    ),
    h AS (SELECT doc_id, {stable_hash64_sql('span')} AS hs FROM sp),
    occ AS (SELECT hs, count(*) AS occ FROM h GROUP BY hs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           round(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) AS dup_frac
    FROM h JOIN occ USING (hs)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def duplicate_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style duplicated-span fraction per document (10-token
    spans occurring >= 2x corpus-wide) — the memorization-risk filter."""
    docs = _docs_par(spark, sf_dir)
    return duplicated_spans(docs, n=10).orderBy("doc_id")


@query(
    "semdedup_prune",
    f"""
    WITH s AS (
      SELECT vec_id AS sid, embedding::DOUBLE[] AS sv
      FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, v, sid AS cluster FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.sid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], s.sv) /
                          (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                 e.embedding::DOUBLE[])) *
                           sqrt(list_dot_product(s.sv, s.sv))) DESC,
                          s.sid
               ) AS rk
        FROM embeddings e, s
      ) WHERE rk = 1
    ),
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) >= 0.4
    )
    SELECT a.vec_id, a.cluster,
           (a.vec_id IN (SELECT vec_id FROM pruned)) AS pruned
    FROM assigned a ORDER BY a.vec_id
    """,
)
def semdedup_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): nearest-seed clustering then
    within-cluster cosine pruning at the near-dup threshold; first 8
    corpus vectors act as the (broadcastable) seed set."""
    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.df.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("seed_vec"),
    )
    return semdedup_prune(emb, seeds, threshold=0.4).orderBy("vec_id")


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


@query(
    "semdedup_two_level",
    f"""
    WITH s AS (
      SELECT vec_id AS sid, embedding::DOUBLE[] AS sv
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (  -- coarse quantizer: first ceil(sqrt(8)) = 3 seeds by id
      SELECT sid AS gid, sv AS cv FROM s ORDER BY sid LIMIT 3
    ),
    g AS (  -- level 1: every seed joins its max-cos coarse group
      SELECT sid, sv, gid AS grp FROM (
        SELECT s.sid, s.sv, c.gid,
               row_number() OVER (
                 PARTITION BY s.sid
                 ORDER BY {_cos_sql('s.sv', 'c.cv')} DESC, c.gid
               ) AS rk
        FROM s, c
      ) WHERE rk = 1
    ),
    vg AS (  -- each vector probes its nearest NON-EMPTY group
      SELECT vec_id, v, grp FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.gid AS grp,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding::DOUBLE[]', 'c.cv')}
                          DESC, c.gid
               ) AS rk
        FROM embeddings e, c
        WHERE c.gid IN (SELECT DISTINCT grp FROM g)
      ) WHERE rk = 1
    ),
    assigned AS (  -- level 2: argmax over the probed group's seeds only
      SELECT vec_id, v, sid AS cluster FROM (
        SELECT vg.vec_id, vg.v, g.sid,
               row_number() OVER (
                 PARTITION BY vg.vec_id
                 ORDER BY {_cos_sql('vg.v', 'g.sv')} DESC, g.sid
               ) AS rk
        FROM vg JOIN g ON vg.grp = g.grp
      ) WHERE rk = 1
    ),
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
    )
    SELECT a.vec_id, a.cluster,
           (a.vec_id IN (SELECT vec_id FROM pruned)) AS pruned
    FROM assigned a ORDER BY a.vec_id
    """,
)
def semdedup_two_level_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the two-level (coarse-probed) nearest-seed
    assignment (r8, SCALEPROBE.md finding 3): the k ∝ n scale spelling —
    assignment costs ~2n√k cosines instead of n·k. Deterministic
    restriction of the argmax, so the whole composition (coarse argmax →
    within-group argmax → pair prune) replays bit-for-bit in DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.df.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("seed_vec"),
    )
    return semdedup_prune(
        emb, seeds, threshold=0.4, two_level=True
    ).orderBy("vec_id")


@query(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS anchor_id, label AS al, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT anchor_id, e.vec_id AS neighbor_id,
             e.embedding::DOUBLE[] AS v, qv
      FROM q, embeddings e WHERE e.label <> q.al
    ),
    r AS (
      SELECT anchor_id, neighbor_id, {_COS_SQL} AS cos,
             row_number() OVER (
               PARTITION BY anchor_id ORDER BY {_COS_SQL} DESC, neighbor_id
             ) AS rnk
      FROM c
    )
    SELECT anchor_id, neighbor_id, round(cos, 4) AS cos_sim, rnk
    FROM r WHERE rnk <= 3 ORDER BY anchor_id, rnk
    """,
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding-model training: per anchor, the
    top-3 most-similar vectors with a DIFFERENT label (broadcast anchors x
    one corpus scan, label predicate inside the join)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("anchor_vec"),
    )
    out = hard_negatives(emb, anchors, k=3)
    return out.select(
        "anchor_id",
        "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").alias("rnk"),
    ).orderBy("anchor_id", "rnk")


@query(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rk FROM ranked
    WHERE rk <= 3 ORDER BY doc_id, rk
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the keyword-extraction complement
    of BM25 (query-independent, so the whole corpus is scored in one
    pass). Plan: explode tokens -> (doc, term) tf hash-agg -> term df
    hash-agg -> equi-join tf⋈df on the term key (both sides already
    partitioned by term from their aggs) -> broadcast single-row corpus
    count -> per-doc rank filter. Σ|tokens| work, no all-pairs step."""
    docs = _docs_par(spark, sf_dir)
    tok = docs.df.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .orderBy("doc_id", "rk")
    )


from ralf_spark.operators.similarity import IvfIndex  # noqa: E402
from ralf_spark.queries import QUERIES as _Q  # noqa: E402


@query("ivf_index_query", _Q["similarity_topk_ivf"].oracle)
def ivf_index_query_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 persistent form: build the cell-partitioned IVF index on disk,
    then answer the benchmark query set reading ONLY the probed cell
    directories (partition pruning — asserted in tests). Same quantizer
    and probe semantics as the one-shot ivf_topk, so the SAME oracle gates
    both paths."""
    import hashlib as _hl

    from ralf_spark.queries import _query_vectors
    from ralf_spark.table import FeatureTable

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.df.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("centroid_vec")
    ).select(F.col("label").alias("centroid_id"), "centroid_vec")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    idx = IvfIndex(_scratch(f"ivf_{tag}_"))
    idx.build(emb, centroids)
    out = idx.query(_query_vectors(spark, sf_dir), k=5, nprobe=1)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")


def kmeans_lattice_oracle_sql(iters: int = 2, decimals: int = 4) -> str:
    """DuckDB replay of the ENTIRE quantized Lloyd loop (not just one
    step): label-seeded exact-float seeds rounded onto the 10^-d lattice,
    then ``iters`` rounds of max-cosine assignment (ties -> smallest cid,
    same contract as ``nearest_cells``) and lattice-rounded cell means
    (empty cells keep their centroid). The rounding between rounds absorbs
    cross-engine summation-order noise, which is what makes the full fit
    hash-gateable (VERDICT r4 #2)."""
    cos = (
        "list_dot_product(c.cvec, e.ev) / "
        "(sqrt(list_dot_product(c.cvec, c.cvec)) * "
        "sqrt(list_dot_product(e.ev, e.ev)))"
    )
    parts = [
        f"""
    WITH cen0 AS (
      SELECT CAST(label AS BIGINT) AS cid,
             list_transform(min_by(embedding, vec_id),
                            x -> round(CAST(x AS DOUBLE), {decimals})) AS cvec
      FROM embeddings GROUP BY label
    ),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""",
    d{i} AS (
      SELECT e.vec_id, c.cid, e.ev, {cos} AS s
      FROM emb e CROSS JOIN cen{i - 1} c
    ),
    a{i} AS (
      SELECT vec_id, cid, ev FROM (
        SELECT vec_id, cid, ev,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        FROM d{i}) WHERE rk = 1
    ),
    m{i} AS (
      SELECT cid, pos, round(avg(v), {decimals}) AS av
      FROM (SELECT cid, generate_subscripts(ev, 1) AS pos,
                   unnest(ev) AS v FROM a{i})
      GROUP BY cid, pos
    ),
    cen{i} AS (
      SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
      FROM cen{i - 1} p LEFT JOIN
           (SELECT cid, list(av ORDER BY pos) AS cvec
            FROM m{i} GROUP BY cid) n
      ON n.cid = p.cid
    )""")
    parts.append(f"""
    SELECT c.cid, COALESCE(k.n, 0) AS n_members,
           round(list_sum(list_transform(c.cvec, x -> x * x)), 4) AS sq_norm
    FROM cen{iters} c LEFT JOIN
         (SELECT cid, CAST(count(*) AS BIGINT) AS n
          FROM a{iters} GROUP BY cid) k
    ON k.cid = c.cid
    ORDER BY c.cid
    """)
    return "".join(parts)


def kmeans_plusplus_oracle_sql(k: int = 8, seed: str = "kpp") -> str:
    """DuckDB replay of the deterministic spherical k-means++ seeding:
    the same content-hash uniforms, the same left-fold dot/norm shapes
    (``list_reduce`` folds x1+x2+… exactly like Spark's ``aggregate``
    with a 0.0 init — adding 0.0 first is IEEE-exact), the same
    Efraimidis-Spirakis key ``ln(u)/w``, the same (key DESC, id) argmax
    per round."""
    from ralf_spark.functions.hashing import stable_hash64_sql

    def fold_dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}),"
            " z -> z[1] * z[2]), (acc, x) -> acc + x)"
        )

    def fold_norm(a: str) -> str:
        return (
            f"sqrt(list_reduce(list_transform({a}, x -> x * x),"
            " (acc, x) -> acc + x))"
        )

    def cos(a: str, b: str) -> str:
        return f"({fold_dot(a, b)} / ({fold_norm(a)} * {fold_norm(b)}))"

    two60 = "1152921504606846976.0"
    parts = [
        f"""
    WITH e AS (
      -- zero-norm rows are excluded from selection (same filter as the
      -- Spark side, r13): no direction under the angular metric
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE list_reduce(
        list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
        (acc, x) -> acc + x
      ) > 0
    ),
    s0 AS (
      SELECT id, v FROM e
      ORDER BY {stable_hash64_sql('id', salt=f'{seed}|0')} DESC, id
      LIMIT 1
    )"""
    ]
    for i in range(1, k):
        cos_terms = ", ".join(
            cos("e.v", f"s{j}.v") for j in range(i)
        )
        srcs = ", ".join(f"s{j}" for j in range(i))
        u = stable_hash64_sql("e.id", salt=f"{seed}|{i}")
        d = f"(1.0 - greatest({cos_terms}))"
        parts.append(f""",
    s{i} AS (
      SELECT e.id, e.v FROM e, {srcs}
      WHERE {d} > 0
      ORDER BY ln(CAST({u} + 1 AS DOUBLE) / {two60})
               / ({d} * {d}) DESC, e.id
      LIMIT 1
    )""")
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS centroid_id, id AS seed_id FROM s{i}"
        for i in range(k)
    )
    parts.append(f"""
    SELECT CAST(centroid_id AS BIGINT) AS centroid_id, seed_id
    FROM ({selects}) ORDER BY centroid_id
    """)
    return "".join(parts)


@query("kmeans_plusplus_seeds", kmeans_plusplus_oracle_sql(k=8))
def kmeans_plusplus_seeds_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 quantizer seeding (r12): deterministic spherical k-means++ over
    the embeddings table, k=8 — the chosen seed ids hash-gated against a
    full DuckDB replay of every selection round (content-hash uniforms +
    Efraimidis-Spirakis angular-distance keys; see
    :func:`ralf_spark.operators.similarity.kmeans_plusplus_seeds`)."""
    from ralf_spark.operators.similarity import kmeans_plusplus_seeds

    emb = _t(spark, sf_dir, "embeddings")
    return (
        kmeans_plusplus_seeds(emb, k=8)
        .select("centroid_id", "seed_id")
        .orderBy("centroid_id")
    )


@query("kmeans_fit_centroids", kmeans_lattice_oracle_sql(iters=2, decimals=4))
def kmeans_fit_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 quantizer training, oracle-gated end to end: the distributed
    Lloyd LOOP (label-seeded, k=10) in fixed-point-lattice mode — seeds
    and per-round cell means rounded to 1e-4 (Spark round == DuckDB round,
    half-away-from-zero), so the 2-round fit replays bit-for-bit in SQL
    and the registry's last rows-only oracle is closed (VERDICT r4 #2).
    ``tol=-1`` pins exactly 2 rounds (no data-dependent early stop to
    replay). The unquantized to-convergence mode of the same loop remains
    the production API, verified against numpy Lloyd in unit tests.
    Output per centroid: final member count + squared norm."""
    from ralf_spark.operators.similarity import kmeans_fit
    from ralf_spark.functions.arrays import dot

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.df.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("centroid_vec")
    ).select(F.col("label").alias("centroid_id"), "centroid_vec")
    out = kmeans_fit(
        emb, seeds, max_iter=2, tol=-1.0,
        quantize_decimals=4, return_counts=True,
    )
    return out.select(
        F.col("centroid_id").alias("cid"),
        "n_members",
        F.round(dot(F.col("centroid_vec"), F.col("centroid_vec")), 4).alias(
            "sq_norm"
        ),
    ).orderBy("cid")


_PQ_M = 4  # subspaces over the 64-dim embeddings -> dsub = 16
_PQ_DSUB = 16


def _pq_seed_vectors(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The per-label min-vec_id embeddings in label order (the same
    representative-set recipe the IVF gates use) — ONE scan + collect,
    shared by codebooks and coarse centroids so the IVF-PQ gate does not
    run the aggregation twice (reviewed r7)."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.df.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("cv")
    ).collect()
    return [
        cv
        for _, cv in sorted(
            (int(r["label"]), [float(x) for x in r["cv"]]) for r in rows
        )
    ]


def _pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    seeds: list[list[float]] | None = None,
) -> list:
    """Deterministic position-indexed PQ codebooks for the gates: the
    seed vectors sliced into _PQ_M subspaces, codes ordered by label.
    Small by the codebook contract (10 x 64 doubles), collected at
    plan-build time like every quantizer literal in E3."""
    cen = seeds if seeds is not None else _pq_seed_vectors(spark, sf_dir)
    return [
        [cv[j * _PQ_DSUB:(j + 1) * _PQ_DSUB] for cv in cen]
        for j in range(_PQ_M)
    ]


def _pq_sq_sql(a: str, b: str) -> str:
    """DuckDB squared-L2 as the IDENTICAL left fold Spark's F.aggregate
    runs (same association order -> bit-for-bit replay)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " z -> (z[1]-z[2])*(z[1]-z[2])), (acc, x) -> acc + x)"
    )


def _pq_common_sql() -> str:
    """Shared CTEs: dense-coded per-label codebooks + the PQ encoding of
    every corpus vector (argmin squared-L2 per subspace, ties -> smallest
    code)."""
    enc_cols = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
        d = _pq_sq_sql(f"e.v[{lo}:{hi}]", f"cv[{lo}:{hi}]")
        enc_cols.append(
            f"(SELECT code FROM cen ORDER BY {d} ASC, code LIMIT 1)"
            f" AS code_{j}"
        )
    return f"""
    WITH cen AS (
      SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS INTEGER)
               AS code,
             (arg_min(embedding, vec_id)::DOUBLE[]) AS cv
      FROM embeddings GROUP BY label
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    enc AS (
      SELECT vec_id, {", ".join(enc_cols)}
      FROM e
    )"""


def pq_encode_oracle_sql() -> str:
    codes = ", ".join(f"code_{j}" for j in range(_PQ_M))
    return f"{_pq_common_sql()}\n    SELECT vec_id, {codes} FROM enc ORDER BY vec_id"


def pq_adc_oracle_sql(k: int = 5) -> str:
    joins = "\n      ".join(
        f"JOIN cen c{j} ON c{j}.code = enc.code_{j}" for j in range(_PQ_M)
    )
    terms = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
        terms.append(_pq_sq_sql(f"q.qv[{lo}:{hi}]", f"c{j}.cv[{lo}:{hi}]"))
    dist = " + ".join(terms)
    return f"""{_pq_common_sql()},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, enc.vec_id AS neighbor_id,
             {dist} AS approx_dist
      FROM q CROSS JOIN enc
      {joins}
      WHERE enc.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, approx_dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id
             ) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, round(approx_dist, 4) AS approx_dist, rnk
    FROM r WHERE rnk <= {k} ORDER BY query_id, rnk"""


@query("pq_encode_codes", pq_encode_oracle_sql())
def pq_encode_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 compression (r7): product-quantization encoding of the corpus —
    each 64-dim embedding becomes _PQ_M small int codes (argmin
    squared-L2 per subspace against plan-literal codebooks; Jégou et al.
    TPAMI 2011). Row-local native projection, no shuffle, no corpus x
    codebook join; at 100 TB this single scan builds the compressed
    index and cuts per-vector storage ~32x (m ints vs dim floats)."""
    from ralf_spark.operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir)
    out = pq_encode(
        emb.df.select("vec_id", "embedding"), books
    )
    return out.orderBy("vec_id")


@query("similarity_topk_pq", pq_adc_oracle_sql(k=5))
def similarity_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 PQ-ADC search (r7): approximate top-k by asymmetric distance —
    the query side builds an m x k LUT of subspace distances natively;
    a candidate's distance is m element_at lookups + adds over its code
    columns. This gate uses the one-shot spelling (encodes inline, one
    raw-vector scan); production persists the code table once and
    searches via ``pq_adc_topk_precoded``, scanning m ints per row
    instead of dim floats. Same benchmark query set as the brute-force/
    LSH/IVF gates, so the four E3 strategies are directly comparable.
    The oracle replays codebooks, encoding, LUTs, and ranking with the
    identical fold association."""
    from ralf_spark.operators.similarity import pq_adc_topk
    from ralf_spark.queries import _query_vectors

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir)
    out = pq_adc_topk(emb, _query_vectors(spark, sf_dir), books, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("approx_dist", 4).alias("approx_dist"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")


def ivf_pq_oracle_sql(k: int = 5) -> str:
    """DuckDB replay of the full IVF-PQ composition: one cen CTE serves
    both roles (the per-label vector is the coarse centroid; its slices
    are the subspace codebooks), cells assigned by max cosine (ties ->
    smallest code), candidates restricted to the query's cell, scored by
    the PQ LUT sum with the identical fold association."""
    cos = (
        "list_dot_product(e.v, cv) / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(cv, cv)))"
    )
    joins = "\n      ".join(
        f"JOIN cen c{j} ON c{j}.code = enc.code_{j}" for j in range(_PQ_M)
    )
    terms = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
        terms.append(_pq_sq_sql(f"q.qv[{lo}:{hi}]", f"c{j}.cv[{lo}:{hi}]"))
    dist = " + ".join(terms)
    return f"""{_pq_common_sql()},
    ecell AS (
      SELECT vec_id,
             (SELECT code FROM cen ORDER BY {cos} DESC, code LIMIT 1)
               AS cell
      FROM e
    ),
    q AS (
      SELECT e.vec_id AS query_id, e.v AS qv, ecell.cell
      FROM e JOIN ecell USING (vec_id) WHERE e.vec_id < 5
    ),
    pairs AS (
      SELECT q.query_id, enc.vec_id AS neighbor_id,
             {dist} AS approx_dist
      FROM q
      JOIN ecell ON ecell.cell = q.cell
      JOIN enc ON enc.vec_id = ecell.vec_id
      {joins}
      WHERE enc.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, approx_dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id
             ) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, round(approx_dist, 4) AS approx_dist, rnk
    FROM r WHERE rnk <= {k} ORDER BY query_id, rnk"""


@query("similarity_topk_ivf_pq", ivf_pq_oracle_sql(k=5))
def similarity_topk_ivf_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 IVF-PQ (r7): the canonical billion-vector ANN composition —
    the coarse quantizer prunes candidates to the query's cell (IVF),
    and PQ asymmetric distance scores them over m int codes instead of
    full vectors. Both the candidate COUNT and the candidate WIDTH
    shrink; at 100 TB the persisted layout is cell-partitioned code
    columns (partition pruning + column pruning at the same scan). Same
    quantizer recipe and query set as the sibling E3 gates."""
    from ralf_spark.operators.similarity import ivf_pq_topk
    from ralf_spark.queries import _query_vectors

    emb = _t(spark, sf_dir, "embeddings")
    # ONE scan+collect serves both roles: the per-label vectors ARE the
    # coarse centroids (dense ids in label order, matching the oracle's
    # row_number) and their slices are the codebooks
    seeds = _pq_seed_vectors(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir, seeds=seeds)
    centroids = spark.createDataFrame(
        [(pos, cv) for pos, cv in enumerate(seeds)],
        "centroid_id long, centroid_vec array<double>",
    )
    out = ivf_pq_topk(
        emb, _query_vectors(spark, sf_dir), centroids, books,
        k=5, nprobe=1,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("approx_dist", 4).alias("approx_dist"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")


def pq_rerank_oracle_sql(r: int = 20, k: int = 5) -> str:
    """DuckDB replay of PQ-ADC shortlist (top ``r`` by approx distance)
    + exact-cosine refine (top ``k``)."""
    joins = "\n      ".join(
        f"JOIN cen c{j} ON c{j}.code = enc.code_{j}" for j in range(_PQ_M)
    )
    terms = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_DSUB + 1, (j + 1) * _PQ_DSUB
        terms.append(_pq_sq_sql(f"q.qv[{lo}:{hi}]", f"c{j}.cv[{lo}:{hi}]"))
    dist = " + ".join(terms)
    cos = (
        "list_dot_product(q.qv, ev.v) /"
        " (sqrt(list_dot_product(q.qv, q.qv))"
        " * sqrt(list_dot_product(ev.v, ev.v)))"
    )
    return f"""{_pq_common_sql()},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, enc.vec_id AS neighbor_id,
             {dist} AS approx_dist
      FROM q CROSS JOIN enc
      {joins}
      WHERE enc.vec_id <> q.query_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id
      FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY approx_dist ASC, neighbor_id
               ) AS arnk
        FROM pairs
      ) WHERE arnk <= {r}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id, {cos} AS cos,
             row_number() OVER (
               PARTITION BY s.query_id ORDER BY {cos} DESC, s.neighbor_id
             ) AS rnk
      FROM shortlist s
      JOIN e ev ON ev.vec_id = s.neighbor_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim, rnk
    FROM rer WHERE rnk <= {k} ORDER BY query_id, rnk"""


@query("similarity_topk_pq_rerank", pq_rerank_oracle_sql(r=20, k=5))
def similarity_topk_pq_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 PQ + refine (r7): the production two-pass search — the
    compressed ADC scan surfaces a top-R shortlist (m int lookups per
    candidate), then ``exact_rerank`` joins the R raw vectors back and
    ranks by true cosine. The expensive float math runs on |q| x R rows,
    never the corpus, so the IO win of the compressed first pass
    survives while the final ranking's approximation error drops to
    zero within the shortlist."""
    from ralf_spark.operators.similarity import exact_rerank, pq_adc_topk
    from ralf_spark.queries import _query_vectors

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir)
    qv = _query_vectors(spark, sf_dir)
    shortlist = pq_adc_topk(emb, qv, books, k=20)
    out = exact_rerank(shortlist, emb, qv, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")


from ralf_spark.operators.similarity import (  # noqa: E402
    sq8_adc_topk_precoded,
    sq8_bounds,
    sq8_dims_sql,
    sq8_encode,
)


@query(
    "sq8_encode_codes",
    f"""
    WITH {sq8_dims_sql()}
    SELECT vec_id,
           array_to_string(list(code ORDER BY dim), ',') AS codes_csv
    FROM enc GROUP BY vec_id ORDER BY vec_id
    """,
)
def sq8_encode_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 compression (SQ8): scalar-quantize every embedding to one
    uint8 per dimension against corpus per-dim (min, max) bounds — the
    4x-smaller, near-exact-recall sibling of PQ (which is ~32x smaller
    but saturates recall at subspace-centroid resolution). Bounds are a
    dim-row collect (the quantizer-literal contract); encoding is one
    row-local scan, no shuffle. Output as a csv string (the driver's
    hash compare requires scalar cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.df.select("vec_id", "embedding")
    bounds = sq8_bounds(base)
    enc = sq8_encode(base, bounds)
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes_csv"),
    ).orderBy("vec_id")


def _sq8_adc_oracle_sql(k: int = 5) -> str:
    fold = (
        "list_reduce(list_transform(list_zip(rv, qv),"
        " z -> (z[1]-z[2])*(z[1]-z[2])), (acc, x) -> acc + x)"
    )
    return f"""
    WITH {sq8_dims_sql()},
    rec AS (
      SELECT vec_id, dim, lo + code * (hi - lo) / 255.0 AS r
      FROM enc JOIN dims USING (dim)
    ),
    recl AS (SELECT vec_id, list(r ORDER BY dim) AS rv FROM rec
             GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    pairs AS (
      SELECT q.query_id, recl.vec_id AS neighbor_id, {fold} AS approx_dist
      FROM q CROSS JOIN recl WHERE recl.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, approx_dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id
             ) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, round(approx_dist, 4) AS approx_dist, rnk
    FROM r WHERE rnk <= {k} ORDER BY query_id, rnk"""


def _ivf_sq8_oracle_sql(k: int = 5) -> str:
    cos = (
        "list_dot_product(e.v, cv) / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(cv, cv)))"
    )
    fold = (
        "list_reduce(list_transform(list_zip(rv, qv),"
        " z -> (z[1]-z[2])*(z[1]-z[2])), (acc, x) -> acc + x)"
    )
    return f"""
    WITH {sq8_dims_sql()},
    cen AS (
      SELECT label AS cid, arg_min(embedding, vec_id)::DOUBLE[] AS cv
      FROM embeddings GROUP BY label
    ),
    ecell AS (
      SELECT vec_id,
             (SELECT cid FROM cen ORDER BY {cos} DESC, cid LIMIT 1)
               AS cell
      FROM e
    ),
    rec AS (
      SELECT vec_id, dim, lo + code * (hi - lo) / 255.0 AS r
      FROM enc JOIN dims USING (dim)
    ),
    recl AS (SELECT vec_id, list(r ORDER BY dim) AS rv FROM rec
             GROUP BY vec_id),
    q AS (
      SELECT e.vec_id AS query_id, e.v AS qv, ecell.cell
      FROM e JOIN ecell USING (vec_id) WHERE e.vec_id < 5
    ),
    pairs AS (
      SELECT q.query_id, recl.vec_id AS neighbor_id, {fold} AS approx_dist
      FROM q
      JOIN ecell ON ecell.cell = q.cell
      JOIN recl ON recl.vec_id = ecell.vec_id
      WHERE recl.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, approx_dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id
             ) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, round(approx_dist, 4) AS approx_dist, rnk
    FROM r WHERE rnk <= {k} ORDER BY query_id, rnk"""


@query("similarity_topk_ivf_sq8", _ivf_sq8_oracle_sql(k=5))
def similarity_topk_ivf_sq8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 IVF-SQ8 (r11b): the recall-sensitive sibling of IVF-PQ — the
    coarse quantizer prunes candidates to the query's cell; SQ8
    per-dimension codes (error bounded at (hi-lo)/255 per dim) score
    them at 4x-narrower width. Same per-label centroid recipe and query
    set as the sibling E3 gates; at 100 TB the layout is
    cell-partitioned uint8 code columns (partition + column pruning at
    one scan)."""
    from ralf_spark.operators.similarity import ivf_sq8_topk
    from ralf_spark.queries import _query_vectors

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.df.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("centroid_vec")
    ).select(F.col("label").alias("centroid_id"), "centroid_vec")
    out = ivf_sq8_topk(
        emb, _query_vectors(spark, sf_dir), centroids, k=5, nprobe=1
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("approx_dist", 4).alias("approx_dist"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")


@query("ivf_index_query_sq8", _ivf_sq8_oracle_sql(k=5))
def ivf_index_query_sq8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 persistent IVF-SQ8 serving (r12): the index spelling of
    ``similarity_topk_ivf_sq8`` — ``build(..., sq8=True)`` freezes the
    per-dimension bounds beside the quantizer and persists uint8 codes
    cell-partitioned; ``query(method='sq8')`` reads ONLY (id, codes)
    inside the probed cell directories (partition + column pruning at
    one scan — the deployment layout the one-shot models). Same oracle
    as the one-shot composition: the index path must be bit-identical."""
    import hashlib as _hl

    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.queries import _query_vectors, _scratch

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.df.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("centroid_vec")
    ).select(F.col("label").alias("centroid_id"), "centroid_vec")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    idx = IvfIndex(_scratch(f"ivf_sq8_{tag}_"))
    idx.build(emb, centroids, sq8=True)
    out = idx.query(
        _query_vectors(spark, sf_dir), k=5, nprobe=1,
        method="sq8", coarse_probe=None,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("approx_dist", 4).alias("approx_dist"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")


@query("sq8_adc_topk", _sq8_adc_oracle_sql(), headline=True)
def sq8_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 serving (SQ8 asymmetric distance): full-precision queries vs
    the dequantized uint8 corpus — squared-L2 as a dimension-order left
    fold (bit-replayable), top-5 per query, ties -> smallest neighbor.
    The deployment path scans the persisted code table only (~4x less
    IO than raw floats; column pruning reaches the parquet scan);
    queries ride a broadcast, the corpus never shuffles before the
    per-query top-k window."""
    from ralf_spark.queries import _query_vectors

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding")
    )
    bounds = sq8_bounds(base)
    enc = sq8_encode(base, bounds)
    out = sq8_adc_topk_precoded(
        enc, _query_vectors(spark, sf_dir), bounds, k=5
    )
    # bounded-domain global sort (r15, same class as q1/q5): the result
    # is ≤ |queries| × k rows — bounded by the broadcast-small query-set
    # contract, not by corpus size — so a single-partition sort replaces
    # the range exchange and its bounds-sampling job.
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("approx_dist", 4).alias("approx_dist"),
        F.col("rank").alias("rnk"),
    ).coalesce(1).sortWithinPartitions("query_id", "rnk")


# Registry finalization: re-applies the driver-prefix ordering when THIS
# module was the import entry point (circular-entry tolerance; no-op when
# ralf_spark.queries was imported first and has already finalized).
from ralf_spark.queries import finalize_registry as _finalize  # noqa: E402

_finalize()


def _ivf_twolevel_oracle_sql(k: int = 5) -> str:
    """DuckDB replay of the TWO-LEVEL serving cell selection (r9,
    ``TwoLevelCells``): coarse level = the ⌈√k_cells⌉ = 4 smallest-id
    centroids; every centroid joins its max-cosine coarse group (ties →
    lowest id); a query picks its best LIVE group, then its best cell
    among that group's members (coarse_probe = nprobe = 1), and searches
    that cell exactly like the flat gate. Replays the restriction
    algorithm itself — a selection bug (wrong grouping, dead-group probe,
    tie order) hash-mismatches here even when the flat gate stays green."""
    def cos(a: str, b: str) -> str:
        return (f"list_dot_product({a}, {b}) / (sqrt(list_dot_product"
                f"({a}, {a})) * sqrt(list_dot_product({b}, {b})))")

    cos_q = (
        "list_dot_product(qv, v) /"
        " (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))"
    )
    return f"""
    WITH cen AS (
      SELECT CAST(label AS BIGINT) AS cid,
             (arg_min(embedding, vec_id)::DOUBLE[]) AS cv
      FROM embeddings GROUP BY label
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ecell AS (
      SELECT vec_id, v,
             (SELECT cid FROM cen
              ORDER BY {cos('e.v', 'cv')} DESC, cid LIMIT 1) AS cell
      FROM e
    ),
    coarse AS (SELECT cid, cv FROM cen ORDER BY cid LIMIT 4),
    grp AS (
      SELECT c.cid,
             (SELECT g.cid FROM coarse g
              ORDER BY {cos('c.cv', 'g.cv')} DESC, g.cid LIMIT 1) AS grp
      FROM cen c
    ),
    live AS (SELECT DISTINCT grp FROM grp),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    qgrp AS (
      SELECT query_id, qv,
             (SELECT g.cid FROM coarse g JOIN live l ON l.grp = g.cid
              ORDER BY {cos('q.qv', 'g.cv')} DESC, g.cid LIMIT 1) AS grp
      FROM q
    ),
    qcell AS (
      SELECT query_id, qv,
             (SELECT m.cid FROM grp m JOIN cen c2 ON c2.cid = m.cid
              WHERE m.grp = qgrp.grp
              ORDER BY {cos('qgrp.qv', 'c2.cv')} DESC, m.cid LIMIT 1) AS cell
      FROM qgrp
    ),
    c AS (
      SELECT query_id, e.vec_id AS neighbor_id, qv, e.v
      FROM qcell JOIN ecell e USING (cell)
      WHERE e.vec_id <> query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, {cos_q} AS cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY {cos_q} DESC, neighbor_id
             ) AS rnk
      FROM c
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim, rnk
    FROM r WHERE rnk <= {k} ORDER BY query_id, rnk
    """


@query("ivf_index_query_twolevel", _ivf_twolevel_oracle_sql())
def ivf_index_query_twolevel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 serving scale path (r9): the same persistent index as
    ``ivf_index_query`` answered through the TWO-LEVEL coarse search
    (``query(coarse_probe=1)``, O(q·√k) selection + O(probed) directory
    listing — SCALEPROBE finding 9). The oracle independently replays the
    two-level restriction (coarse grouping, live-group probe, member
    argmax), so the selection algorithm itself is hash-gated, not just
    its degenerate-exact case."""
    import hashlib as _hl

    from ralf_spark.queries import _query_vectors

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.df.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("centroid_vec")
    ).select(F.col("label").alias("centroid_id"), "centroid_vec")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    idx = IvfIndex(_scratch(f"ivf2l_{tag}_"))
    idx.build(emb, centroids)
    out = idx.query(
        _query_vectors(spark, sf_dir), k=5, nprobe=1, coarse_probe=1
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").alias("rnk"),
    ).orderBy("query_id", "rnk")
