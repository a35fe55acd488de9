"""Similarity search over embedding columns (E3).

North-star operator (SURVEY.md §2.10 E3): top-k nearest neighbors by cosine
over an ``array<float>`` embedding column — the reference stores np.ndarray
feature vectors (``ralf/table.py:160-166``) but has no search operator.

Two strategies, both pure native expressions (zip_with/aggregate compile to
codegen'd JVM loops — no Python in the hot path):

- **Brute force** (the correctness baseline): broadcast the (small) query
  set against the corpus — a broadcast nested-loop whose cost is
  |queries| x |corpus| dot products, embarrassingly parallel, no shuffle of
  the corpus. Right up to ~10^3 queries x 10^9 corpus rows at 100 TB.
- **Sign-LSH (random-hyperplane) bucketing** (the scale path): each vector
  hashes to a small bucket id from the signs of dot products with
  ``nbits`` deterministic pseudo-random ±1 hyperplanes; candidates come
  from an equi-join on the bucket id, so cost is Σ bucket² not n². This is
  SimHash-for-vectors; recall is tunable via nbits. Hyperplane signs are
  derived from md5 **in Python at plan-build time**, so the plan embeds
  plain ±1 literals and the DuckDB oracle reuses the identical constants.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ralf_spark.functions.arrays import cosine_similarity
from ralf_spark.functions.hashing import stable_hash64
from ralf_spark.layout import (
    AUTO_MAINTAIN_BATCHES,
    AddFence,
    BatchStore,
    batch_tag_count,
    compact_tiered,
)
from ralf_spark.operators.util import attach_cached, ensure_parallelism
from ralf_spark.table import FeatureTable


def hyperplane_signs(nbits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign = parity of md5("p|i"). Computed
    engine-independently so Spark plan and SQL oracle share the constants."""
    return [
        [
            1
            if int(hashlib.md5(f"{p}|{i}".encode()).hexdigest(), 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for p in range(nbits)
    ]


def _signed_dot(vec: Column, signs: list[int]) -> Column:
    plane = F.array(*[F.lit(float(s)) for s in signs])
    return F.aggregate(
        F.zip_with(vec, plane, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# ---- shared SQL-string builders for the parsed-expression fast path ----
# (one F.expr parses JVM-side in <1ms vs ~25-30ms of py4j lambda
# conversion PER Column-API higher-order call — BENCH_NOTES r7)


def _fmt_d(x: float) -> str:
    """Python float -> Spark SQL double literal. ``repr`` is the shortest
    round-tripping decimal, so the parsed double is bit-identical.
    Non-finite values raise a clear error instead of emitting invalid
    SQL ('nanD'): a NaN/Inf centroid or codebook entry means the
    upstream fit consumed garbage — quantizing against it silently is
    never what the caller wants (reviewed r7)."""
    import math

    f = float(x)
    if not math.isfinite(f):
        raise ValueError(
            f"non-finite plan literal {f!r}: centroids/codebooks must be "
            "finite (a NaN here usually means the k-means corpus "
            "contained NaN components)"
        )
    return f"{f!r}D"


def _arr_sql(vec: list[float]) -> str:
    return "array(" + ",".join(_fmt_d(x) for x in vec) + ")"


def _ident(name: str) -> str:
    """Backtick-quote a column name for generated SQL (keywords, odd
    characters)."""
    return "`" + name.replace("`", "``") + "`"


def _dot_sql(vec_name: str, lit: str) -> str:
    """Σ vᵢ·litᵢ as the identical fold ``functions.arrays.dot`` builds."""
    return (
        f"aggregate(zip_with({_ident(vec_name)}, {lit}, (x, y) -> x * y), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _cos_fold(a: list[float], b: list[float]) -> float:
    """Bit-identical Python replication of ``cosine_similarity``'s fold
    arithmetic (dot = left-to-right sum of pairwise products from 0.0;
    norms = left-to-right sums of squares; cos = dot / (sqrt·sqrt)) —
    Python floats are the same IEEE doubles evaluated in the same order,
    so a driver-side selection agrees with the JVM expression (and the
    DuckDB list_reduce oracle) to the last bit. Do NOT 'optimize' this
    to numpy: pairwise/SIMD summation changes the association and the
    knife-edge argmax with it."""
    import math

    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return acc / (math.sqrt(na) * math.sqrt(nb))


def nearest_cells_driver(
    cen_rows: list[tuple[int, list[float]]], vec: list[float], n: int
) -> list[int]:
    """Driver-side twin of :func:`nearest_cells` for the SERVING path
    (SCALEPROBE.md finding 7): the expression spelling embeds all k
    centroids as plan literals, so plan parse/analyze grows O(k·dim) per
    query batch — measured 1.5 → 5.4 s across a 48× index while scan IO
    stayed flat. When the query set is collected anyway (IvfIndex.query
    collects the probed-cell set for partition pruning), selecting cells
    driver-side is O(q·k·dim) Python flops with ZERO plan growth.

    Tie rules mirror the expression exactly: max cosine, ties → lowest
    cell id; NaN scores (zero-norm vectors — out of contract but
    possible) order ABOVE any real score, Spark's NaN-greatest ordering.
    """

    def key(scored: tuple[float, int]):
        import math

        s, cid = scored
        if math.isnan(s):
            return (0, 0.0, cid)  # NaN sorts greatest in Spark
        return (1, -s, cid)

    scored = sorted(
        ((_cos_fold(vec, cv), cid) for cid, cv in cen_rows), key=key
    )
    return [cid for _, cid in scored[:n]]


#: centroid count at which ``IvfIndex.query(coarse_probe="auto")`` flips
#: from the exact flat cell selection to the two-level coarse search
#: (r10, VERDICT r9 #2). From the finding-9 microbench (dim 16): the
#: exact driver-side scan costs ~3.5 ms/query at k=1000 and grows ~k^1.05
#: (278 ms at k=64k), the two-level path ~k^0.5 (0.34 → 2.9 ms) — raw
#: speed crosses over near k≈16, but two-level is a RESTRICTION of the
#: selection, so auto keeps the exact guarantee everywhere it stays
#: cheap and escalates only where the O(k) slope starts to dominate
#: serving. Explicit ``coarse_probe=None`` / ``coarse_probe=<int>`` pins
#: either spelling regardless of k (every oracle gate pins).
TWO_LEVEL_AUTO_MIN_K = 1024

#: coarse groups the auto path probes — the configuration the r9
#: evidence covers: `ivf_index_query_twolevel` (hash-gated vs DuckDB),
#: recall ≥ 0.9 floors on the clustered MoG set, and the finding-9
#: microbench column (cp=2).
TWO_LEVEL_AUTO_PROBE = 2


class TwoLevelCells:
    """Two-level DRIVER-side cell selection for IVF serving (r9, VERDICT
    r8 #2): the flat scan in :func:`nearest_cells_driver` is an honest
    O(q·k) — fine to k ~ 10³–10⁴, the wrong slope once cells ∝ corpus.
    This is the :func:`assign_to_seeds_two_level` structure applied to the
    serving path, entirely in Python: a coarse level of the first
    ``n_coarse`` (default ⌈√k⌉) centroids by id; every centroid joins its
    nearest coarse group at build time (O(k·√k), ONCE per index open —
    cached by ``IvfIndex``); a query scans the √k coarse centers, takes
    its best ``coarse_probe`` groups, and runs the exact flat selection
    over only those groups' members — O(√k·(1 + coarse_probe·dim)) per
    query.

    Same contract as ``assign_to_seeds_two_level``: a RESTRICTION of the
    exact argsort to probed groups — deterministic (same tie rules as
    :func:`nearest_cells_driver` at both levels, so bit-replayable), not
    randomized; a query whose true nearest cell lives in an unprobed
    group gets its best probed cells. ``coarse_probe >= n_coarse``
    degenerates to the exact scan (pinned by test)."""

    def __init__(
        self,
        cen_rows: list[tuple[int, list[float]]],
        n_coarse: int | None = None,
    ):
        if not cen_rows:
            raise ValueError("TwoLevelCells needs >= 1 centroid")
        k = len(cen_rows)
        self.n_coarse = n_coarse or max(1, math.isqrt(k - 1) + 1)
        cen_sorted = sorted(cen_rows)
        self.coarse = cen_sorted[: self.n_coarse]
        self.groups: dict[int, list[tuple[int, list[float]]]] = {}
        for cid, cv in cen_sorted:
            g = nearest_cells_driver(self.coarse, cv, 1)[0]
            self.groups.setdefault(g, []).append((cid, cv))
        # duplicate centroid vectors can leave a coarse center's own group
        # empty (ties at cos 1.0 go to the lower id) — probe only LIVE
        # groups, mirroring assign_to_seeds_two_level's non-empty rule
        self.live_coarse = [(g, v) for g, v in self.coarse
                            if g in self.groups]

    def query(
        self, vec: list[float], n: int, coarse_probe: int = 1
    ) -> list[int]:
        if coarse_probe < 1:
            raise ValueError("coarse_probe must be >= 1")
        gs = nearest_cells_driver(self.live_coarse, vec, coarse_probe)
        members: list[tuple[int, list[float]]] = []
        for g in sorted(gs):
            members.extend(self.groups[g])
        return nearest_cells_driver(members, vec, n)


def sign_lsh_bucket(vec: Column | str, nbits: int, dim: int) -> Column:
    """Bucket id in [0, 2^nbits): bit p set iff dot(vec, plane_p) >= 0.

    Pass ``vec`` as a COLUMN NAME to build the whole expression as one
    parsed SQL string instead of nbits py4j lambda conversions (the
    plan-BUILD cost class measured on the quantizers — BENCH_NOTES r7);
    semantics identical, equality pinned in tests."""
    planes = hyperplane_signs(nbits, dim)
    if isinstance(vec, str):
        parts = []
        for p, signs in enumerate(planes):
            d = _dot_sql(vec, _arr_sql([float(s) for s in signs]))
            parts.append(f"(CASE WHEN {d} >= 0 THEN {1 << p} ELSE 0 END)")
        if not parts:  # nbits=0: single-bucket degenerate config
            return F.expr("CAST(0 AS INT)")
        return F.expr("CAST(0 + " + " + ".join(parts) + " AS INT)")
    total = F.lit(0)
    for p, signs in enumerate(planes):
        total = total + F.when(
            _signed_dot(vec, signs) >= 0, F.lit(1 << p)
        ).otherwise(0)
    return total.cast("int")


def sign_lsh_bucket_sql(vec_expr: str, nbits: int, dim: int) -> str:
    """DuckDB spelling with the identical ±1 constants."""
    planes = hyperplane_signs(nbits, dim)
    parts = []
    for p, signs in enumerate(planes):
        lit = "[" + ", ".join(f"{float(s)}" for s in signs) + "]"
        parts.append(
            f"CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0"
            f" THEN {1 << p} ELSE 0 END"
        )
    return "CAST(" + " + ".join(parts) + " AS INTEGER)"


def cosine_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Brute-force cosine top-k: every query vector against the full corpus.

    ``queries`` must be small (it is broadcast); the corpus is scanned once
    with no shuffle — the per-query ranking shuffles only |q| x k-ish rows.
    Returns (query_id, neighbor_id, cos_sim, rank), self-matches excluded.
    """
    idc = corpus.key
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("neighbor_id") != F.col(query_id))
        .select(
            query_id,
            "neighbor_id",
            cosine_similarity(F.col("_qv"), F.col("_v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ann_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Bucket assignment is an equi-join key, so the corpus shuffles once on
    bucket id (or broadcasts the bucketed query set, as here). Recall < 1
    by design; rank/tie-break semantics match :func:`cosine_topk`.
    """
    idc = corpus.key
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).withColumn("_bucket", sign_lsh_bucket("_v", nbits, dim))
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    ).withColumn("_bucket", sign_lsh_bucket("_qv", nbits, dim))
    scored = (
        emb.join(F.broadcast(q), "_bucket")
        .where(F.col("neighbor_id") != F.col(query_id))
        .select(
            query_id,
            "neighbor_id",
            cosine_similarity(F.col("_qv"), F.col("_v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def nearest_cells(
    cen_rows: list[tuple[int, list[float]]], vec: Column | str, n: int
) -> Column:
    """ids of the ``n`` max-cosine centroids for ``vec`` against the
    plan-literal centroid set (ties -> smallest id) — a pure row-local
    expression, no shuffle, no corpus × centroid join.

    Pass ``vec`` as a COLUMN NAME to take the ``F.expr`` construction
    path: the Column-API spelling costs ~30ms of py4j lambda conversion
    PER centroid at plan-build time (k-means pays it k times per
    iteration), while one parsed SQL string is <1ms with bit-identical
    semantics (equality pinned in tests). The Column overload remains
    for composed expressions."""
    if isinstance(vec, str):
        vq = _ident(vec)

        def cos_sql(cv: list[float]) -> str:
            lit = _arr_sql([float(x) for x in cv])
            na = f"sqrt(aggregate({vq}, 0.0D, (acc, v) -> acc + v * v))"
            nb = f"sqrt(aggregate({lit}, 0.0D, (acc, v) -> acc + v * v))"
            return f"{_dot_sql(vec, lit)} / ({na} * {nb})"

        entries = ",".join(
            "named_struct('s', " + cos_sql(cv)
            + f", 'nc', CAST({-cid} AS DOUBLE))"
            for cid, cv in cen_rows
        )
        # sort asc by (score, -id), reverse => desc score, asc id on ties
        return F.expr(
            f"transform(slice(reverse(array_sort(array({entries}))), 1, "
            f"{int(n)}), e -> CAST(-e.nc AS BIGINT))"
        )
    entries = [
        F.struct(
            cosine_similarity(
                vec, F.array(*[F.lit(x) for x in cv])
            ).alias("s"),
            F.lit(-cid).cast("double").alias("nc"),
        )
        for cid, cv in cen_rows
    ]
    # sort asc by (score, -id), reverse => desc score, asc id on ties
    best = F.slice(F.reverse(F.array_sort(F.array(*entries))), 1, n)
    return F.transform(best, lambda e: (-e["nc"]).cast("long"))


def ivf_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """IVF-style approximate top-k: a small set of coarse-quantizer
    ``centroids`` partitions the corpus into cells (each vector assigned to
    its max-cosine centroid); a query searches only its ``nprobe`` nearest
    cells.

    The centroid set is caller-supplied (k-means in production; any small
    deterministic representative set works — the engine only requires it to
    be broadcastable). Cell assignment is a broadcast join + argmax — the
    corpus shuffles once on cell id at most; with nprobe=1 the search is a
    broadcast equi-join on the cell, Σ cell² not n².
    """
    idc = corpus.key
    # Centroids are small by contract (a coarse quantizer); collect them at
    # plan-build time and inline as literals, so CELL ASSIGNMENT is a pure
    # row-local projection — no shuffle, no corpus x centroids join.
    cen_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id, centroid_vec).collect()
    ]
    if not cen_rows:
        raise ValueError("ivf_topk needs a non-empty centroid set")

    def top_cells(vec: Column, n: int) -> Column:
        return nearest_cells(cen_rows, vec, n)

    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).withColumn("_cell", top_cells(F.col("_v"), 1)[0])
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    ).withColumn("_cell", F.explode(top_cells(F.col("_qv"), nprobe)))
    # no distinct needed: each corpus row lands in exactly ONE cell and
    # a query's probe cells are distinct, so the equi-join emits each
    # (query, neighbor) pair at most once even under nprobe>1 (a distinct
    # here cost a full-width hash-agg over the largest intermediate —
    # removed r7)
    scored = (
        emb.join(F.broadcast(q), "_cell")
        .where(F.col("neighbor_id") != F.col(query_id))
        .select(
            query_id,
            "neighbor_id",
            cosine_similarity(F.col("_qv"), F.col("_v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_near_dup(
    corpus: FeatureTable,
    threshold: float = 0.4,
    nbits: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucket blocking.

    Same-bucket pairs (id1 < id2) with cosine >= threshold. The pair
    generation is a bucket self-equi-join — Σ bucket², never n². Note the
    recall caveat of single-probe LSH: pairs straddling a bucket boundary
    are missed; production would multi-probe or union several plane sets.
    """
    idc = corpus.key
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).withColumn("_bucket", sign_lsh_bucket("_v", nbits, dim))
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            cosine_similarity(F.col("a._v"), F.col("b._v")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def assign_to_seeds(
    corpus: FeatureTable,
    seeds: DataFrame,
    vec_col: str = "embedding",
    seed_id: str = "seed_id",
    seed_vec: str = "seed_vec",
) -> DataFrame:
    """Assign every corpus vector to its max-cosine seed (ties -> lowest
    seed id). Broadcast seeds x corpus scan + per-row argmax — the corpus
    itself never shuffles; output is (vec_id, cluster, seed_cos)."""
    idc = corpus.key
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    s = seeds.select(
        F.col(seed_id).alias("_sid"),
        F.col(seed_vec).cast("array<double>").alias("_sv"),
    )
    scored = emb.crossJoin(F.broadcast(s)).select(
        idc,
        "_v",
        F.col("_sid"),
        cosine_similarity(F.col("_v"), F.col("_sv")).alias("_cos"),
    )
    w = Window.partitionBy(idc).orderBy(
        F.col("_cos").desc(), F.col("_sid")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col(idc),
            F.col("_v"),
            F.col("_sid").alias("cluster"),
            F.col("_cos").alias("seed_cos"),
        )
    )


def assign_to_seeds_two_level(
    corpus: FeatureTable,
    seeds: DataFrame,
    n_coarse: int | None = None,
    nprobe: int = 1,
    vec_col: str = "embedding",
    seed_id: str = "seed_id",
    seed_vec: str = "seed_vec",
) -> DataFrame:
    """Two-level nearest-seed assignment — the scale path for
    :func:`assign_to_seeds` once the seed count k grows with the corpus
    (SemDeDup's k ∝ n contract): the brute broadcast scan scores n·k
    cosines, O(n²) when k ∝ n (measured: the 48× scale-probe tail,
    SCALEPROBE.md finding 3).

    Route each vector through a coarse quantizer over the SEEDS — the
    first ``n_coarse`` seeds by id (default ⌈√k⌉), the same
    deterministic-subset seeding everywhere else in E3 — then score only
    the probed groups' seeds: n·(G + k/G)·nprobe cosines ≈ 2n√k at the
    default, the IVF trade applied to assignment. Deterministic given
    (seeds, n_coarse, nprobe) — this is a RESTRICTION of the argmax to
    probed groups, not a randomized approximation — so a SQL engine
    replays it bit-for-bit; like IVF search, a vector whose true nearest
    seed lives in an unprobed group gets its best PROBED seed (raise
    ``nprobe`` to trade compute for assignment recall; ``nprobe >= G``
    degenerates to the exact scan).

    Output schema equals :func:`assign_to_seeds`:
    (key, _v, cluster, seed_cos); ties -> lowest seed id at both levels.
    The per-vector argmax is a map-side-partial max over a
    (cos, -seed_id) struct — no window sort, the exchange carries one
    row per vector.
    """
    idc = corpus.key
    if idc is None:
        raise ValueError("assign_to_seeds_two_level needs a keyed table")
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    s = seeds.select(
        F.col(seed_id).cast("long").alias("_sid"),
        F.col(seed_vec).cast("array<double>").alias("_sv"),
    ).persist()
    k = s.count()
    if k == 0:
        raise ValueError("assign_to_seeds_two_level needs >= 1 seed")
    if n_coarse is None:
        n_coarse = max(1, math.isqrt(k - 1) + 1)  # ceil(sqrt(k))
    coarse_rows = sorted(
        (int(r["_sid"]), [float(x) for x in r["_sv"]])
        for r in s.orderBy("_sid").limit(n_coarse).collect()
    )
    # level 1: every seed joins its nearest coarse group (k × G, tiny)
    grouped = s.withColumn(
        "_grp", nearest_cells(coarse_rows, "_sv", 1)[0]
    )
    # duplicate seed vectors can leave a coarse center's own group empty
    # (its seed ties at cos 1.0 with a lower-id center); probing an
    # empty group would strand a vector, so the probe set is the
    # NON-EMPTY groups — G ids, one tiny distinct
    live = sorted(
        int(r["_grp"]) for r in grouped.select("_grp").distinct().collect()
    )
    probe_rows = [(g, v) for g, v in coarse_rows if g in set(live)]
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    probed = emb.withColumn(
        "_grp", F.explode(nearest_cells(probe_rows, "_v", nprobe))
    )
    scored = probed.join(F.broadcast(grouped), "_grp").select(
        idc,
        "_v",
        "_sid",
        cosine_similarity(F.col("_v"), F.col("_sv")).alias("_cos"),
    )
    # argmax by (cos desc, sid asc) as ONE map-side-partial max: struct
    # compare is lexicographic, (cos, -sid) is unique per (vector, seed),
    # so the trailing payload fields can never decide a comparison
    best = scored.groupBy(idc).agg(
        F.max(
            F.struct(
                F.col("_cos"),
                (-F.col("_sid")).alias("_neg"),
                F.col("_sid"),
                F.col("_v"),
            )
        ).alias("_b")
    )
    return attach_cached(
        best.select(
            F.col(idc),
            F.col("_b._v").alias("_v"),
            F.col("_b._sid").alias("cluster"),
            F.col("_b._cos").alias("seed_cos"),
        ),
        [s],
    )


def semdedup_prune(
    corpus: FeatureTable,
    seeds: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    seed_id: str = "seed_id",
    seed_vec: str = "seed_vec",
    two_level: bool = False,
    n_coarse: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    cluster by nearest seed, then inside each cluster drop any vector whose
    cosine to an EARLIER (lower-id) cluster member reaches ``threshold`` —
    keeping one representative per semantic-duplicate group.

    Returns (vec_id, cluster, pruned). The within-cluster pair join is
    Σ cluster², never n² — the 100 TB contract is that the seed count k
    scales with the corpus (SemDeDup uses k ~ sqrt(n)·ish) so cluster
    sizes stay bounded; the seed set must merely remain broadcastable.
    Pruning against lower ids (not "any member") makes the kept set
    deterministic and order-insensitive — exactly one survivor per dup
    group, no tie-break races.

    ``two_level=True`` swaps the brute n·k nearest-seed scan for
    :func:`assign_to_seeds_two_level` (coarse-probed assignment,
    ~2n√k·nprobe cosines) — the spelling for the k ∝ n regime where the
    brute assignment is O(n²) (SCALEPROBE.md finding 3). Cluster
    membership can differ from the exact scan exactly where IVF search
    differs from brute force (a vector whose true nearest seed lives in
    an unprobed group); the within-cluster prune semantics are
    unchanged, and the whole composition stays deterministic and
    SQL-replayable (``semdedup_two_level`` gate).
    """
    idc = corpus.key
    # persist the assignment: it feeds BOTH self-join sides and the final
    # flag join — without the barrier the k-cosine nearest-seed
    # projection runs three times (r7: 9.5s -> ~4s at sf0.1). Release
    # with unpersist_cached after the caller's action; cluster spelling
    # = checkpoint the assignment to parquet.
    extra_cached: list[DataFrame] = []
    if two_level:
        assigned = assign_to_seeds_two_level(
            corpus, seeds, n_coarse=n_coarse, nprobe=nprobe,
            vec_col=vec_col, seed_id=seed_id, seed_vec=seed_vec,
        )
        extra_cached = list(getattr(assigned, "_ralf_cached", []))
        assigned = assigned.persist()
    else:
        assigned = assign_to_seeds(
            corpus, seeds, vec_col=vec_col, seed_id=seed_id,
            seed_vec=seed_vec,
        ).persist()
    a, b = assigned.alias("a"), assigned.alias("b")
    pruned_ids = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{idc}") < F.col(f"b.{idc}")),
        )
        .where(
            cosine_similarity(F.col("a._v"), F.col("b._v"))
            >= F.lit(threshold)
        )
        .select(F.col(f"b.{idc}").alias(idc))
        .distinct()
    )
    out = (
        assigned.join(pruned_ids.withColumn("_p", F.lit(True)), idc, "left")
        .select(
            F.col(idc),
            F.col("cluster"),
            F.coalesce(F.col("_p"), F.lit(False)).alias("pruned"),
        )
    )
    return attach_cached(out, [assigned, *extra_cached])


def knn_graph(
    corpus: FeatureTable,
    k: int = 3,
    nbits: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus: for
    every vector, its top-k max-cosine neighbors among vectors sharing its
    sign-LSH bucket. The self-join building block for dedup clustering,
    diversity analysis, and graph-based selection — distinct from
    :func:`cosine_topk`, which ranks against a small query set.

    Scale: the self-join is a bucket equi-join (Σ bucket², never n²) and
    the ranking window partitions by vector id, so the shuffle keys are
    (bucket) then (id) — both well-distributed by construction. Recall
    caveat as everywhere with single-probe LSH: neighbors straddling a
    bucket boundary are missed; production unions multiple plane sets.
    """
    idc = corpus.key
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).withColumn("_bucket", sign_lsh_bucket("_v", nbits, dim))
    a, b = emb.alias("a"), emb.alias("b")
    scored = a.join(
        b,
        (F.col("a._bucket") == F.col("b._bucket"))
        & (F.col("a._id") != F.col("b._id")),
    ).select(
        F.col("a._id").alias(idc),
        F.col("b._id").alias("neighbor_id"),
        cosine_similarity(F.col("a._v"), F.col("b._v")).alias("cos_sim"),
    )
    w = Window.partitionBy(idc).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ------------------------------------------ E3 persistent partitioned index


class IvfIndex:
    """Persistent IVF ANN index: the corpus is stored partitioned BY CELL
    on disk (``cells/cell=<id>/*.parquet``), so a query's probe reads only
    its ``nprobe`` cell directories via partition pruning — at 100 TB a
    nprobe=1 search touches ~1/k of the corpus files and the scan's
    PartitionFilters prove it (asserted in tests).

    The coarse quantizer (small centroid set, k-means in production) is
    frozen at ``build()`` and stored alongside; ``add(batch)`` assigns new
    vectors with the STORED centroids and appends to their cell
    directories — the same incremental-maintenance regime as
    :class:`~ralf_spark.operators.dedup.MinHashIndex`, with cell files as
    the unit of growth (periodic re-clustering = rebuild, the standard IVF
    trade-off). Like MinHashIndex (r7), adds are EXACTLY-ONCE under
    micro-batch replay: the layout is two-level
    ``cells/cell=<id>/_batch=<tag>/``, and a named ``batch_tag`` replay
    dynamically overwrites only its own ``(cell, _batch)`` directories —
    assignment is deterministic (frozen centroids), so the rewrite is
    idempotent; other batches' files are untouched.

    Complements :func:`ivf_topk` (one-shot, in-memory cell assignment):
    same cell/probe semantics, so the one-shot oracle gates this index's
    query path bit-for-bit.

    **IVF-PQ mode** (r7): pass ``codebooks`` to ``build`` and the cells
    additionally store the ``pq_encode`` code columns next to the raw
    vector; ``query(method="adc")`` then scans ONLY (id, codes) inside
    the probed cell partitions — partition pruning and column pruning at
    the same scan, the on-disk layout the one-shot :func:`ivf_pq_topk`
    models (its oracle gates the semantics). ``rerank=R`` refines the
    ADC top-R shortlist by exact cosine over the raw vectors of the
    probed cells (|q| x R float rows — the standard two-pass search).
    The codebooks are frozen at ``build`` alongside the quantizer and
    reused by ``add``.

    **Versioning contract (r9, ADVICE r8):** the index is APPEND-ONLY and
    multi-version — re-``add``-ing an id under a NEW ``batch_tag`` does
    NOT supersede the old row. ``query`` collapses duplicate ids
    keep-BEST (min approx_dist / max cos_sim across versions), so a stale
    vector that scores better than its replacement can still supply the
    winning row. To genuinely UPDATE vectors, replay their ORIGINAL
    ``batch_tag``: the dynamic partition overwrite replaces exactly that
    batch's rows in place (the same exactly-once mechanism micro-batch
    replays use), leaving a single version. Keep-best (not keep-latest)
    is deliberate: batch tags carry no ordering (callers pick arbitrary
    strings; unnamed adds draw uuids), so "latest" is undefined without a
    registration log, and scoring-side dedup keeps the serving plan free
    of an extra per-query window over versions.
    """

    def __init__(
        self,
        path: str,
        vec_col: str = "embedding",
        auto_maintain: int | None = None,
        concurrent_adds: bool = False,
    ):
        self.path = path
        self.vec_col = vec_col
        if auto_maintain is None:
            auto_maintain = AUTO_MAINTAIN_BATCHES
        #: auto-maintenance cadence (r11, VERDICT r10 #1): ``add()``
        #: self-compacts via :meth:`maintain` once more than this many
        #: batch tags exist in the cell tree (one driver-side glob,
        #: checked before the batch is written; keep_last=1 preserves
        #: the newest — possibly in-flight-replay — tag). 0 disables.
        self.auto_maintain = auto_maintain
        #: r14 multi-writer ingest — same contract as
        #: ``GramIndex.concurrent_adds`` (tag-scoped add leases; root
        #: lease reserved for build/maintain, which refuse under
        #: in-flight adds and release the root on completion).
        #: Assignment under the FROZEN quantizer is deterministic and
        #: each batch owns its ``(cell, _batch=<tag>)`` directories, so
        #: concurrent folds commute exactly — the settled cell tree is
        #: byte-identical to any serial order.
        self.concurrent_adds = concurrent_adds

    @property
    def _store(self) -> BatchStore:
        """The store protocol at ``path`` (leases, fenced publish,
        epoch); no ``_meta`` pin — the frozen quantizer is the config."""
        return BatchStore(self.path, self.concurrent_adds)

    def _cen_rows(self, spark) -> list[tuple[int, list[float]]]:
        """Stored coarse quantizer, read DRIVER-side (r15, guide §5):
        the centroid set is nlist × dim doubles — KBs that every query/
        add/build path needs on the driver anyway, so the old
        ``spark.read.parquet(...).collect()`` paid a Spark job per call
        for nothing. The sidecar helper streams the committed part files
        through the Hadoop FS API (any filesystem) + pyarrow."""
        from ralf_spark.connectors import read_parquet_sidecar

        rows = read_parquet_sidecar(spark, f"{self.path}/centroids")
        if not rows:
            raise FileNotFoundError(
                f"IvfIndex at {self.path} has no committed centroids "
                "(never built, or a build crashed before the quantizer "
                "committed); build() first."
            )
        return sorted(
            (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
            for r in rows
        )

    def _load_books(self, spark) -> list[list[list[float]]] | None:
        """Stored PQ codebooks, or None for a plain-IVF index.
        Driver-side sidecar read (r15) — see ``_cen_rows``."""
        from ralf_spark.connectors import read_parquet_sidecar

        rows = read_parquet_sidecar(spark, f"{self.path}/pq_books")
        if rows is None:
            return None
        if not rows:
            raise FileNotFoundError(
                f"IvfIndex at {self.path}: pq_books exists but holds no "
                "committed part file (crashed codebook write); rebuild."
            )
        by_sub: dict[int, dict[int, list[float]]] = {}
        for r in rows:
            by_sub.setdefault(int(r["subspace"]), {})[int(r["code"])] = [
                float(x) for x in r["vec"]
            ]
        return [
            [by_sub[j][c] for c in sorted(by_sub[j])]
            for j in sorted(by_sub)
        ]

    def _load_sq8_bounds(
        self, spark
    ) -> list[tuple[float, float]] | None:
        """Stored SQ8 per-dimension bounds, or None (not an SQ8 index).
        Driver-side sidecar read (r15) — see ``_cen_rows``."""
        from ralf_spark.connectors import read_parquet_sidecar

        rows = read_parquet_sidecar(spark, f"{self.path}/sq8_bounds")
        if rows is None:
            return None
        if not rows:
            raise FileNotFoundError(
                f"IvfIndex at {self.path}: sq8_bounds exists but holds "
                "no committed part file (crashed bounds write); rebuild."
            )
        return [
            (float(r["lo"]), float(r["hi"]))
            for r in sorted(rows, key=lambda r: r["dim"])
        ]

    def _encode(self, assigned: DataFrame, books) -> DataFrame:
        """Attach PQ code columns to an assigned projection (raw vector
        kept: it serves the exact path and the rerank refine)."""
        return pq_encode(assigned, books, vec_col="_v", keep_vec=True)

    def _assign(self, table: FeatureTable, cen_rows) -> DataFrame:
        idc = table.key
        if idc is None:
            raise ValueError("IvfIndex needs a keyed table")
        return ensure_parallelism(
            table.df.select(
                F.col(idc).alias("_id"),
                F.col(self.vec_col).cast("array<double>").alias("_v"),
            )
        ).withColumn("cell", nearest_cells(cen_rows, "_v", 1)[0])

    def _read_probed_cells(self, spark, probed: list[int]) -> DataFrame:
        """Scan of the probed cells with O(probed) PLAN-time metadata
        (r9): ``spark.read.parquet(cells/)`` builds its file index by
        listing ALL k cell directories before the partition filter prunes
        any of them — a parallel listing job whose cost grows with the
        CELL COUNT, not the probe set (measured: the residual wall slope
        of the serving probe after finding 7, 0.97 s of plan-time listing
        at 48×). Passing the probed ``cell=<id>`` directories as explicit
        read paths (with ``basePath`` preserving the partition columns)
        lists only ``len(probed)`` directories. Cells with no directory
        (a centroid that never received a vector) are skipped by a cheap
        driver-side existence check — semantics identical to the pruned
        full listing. At warehouse scale the same O(probed) listing comes
        from a catalog's partition index; this is the path-API spelling.
        The ``where`` filter stays on the scan: redundant for pruning,
        but it keeps the plan's PartitionFilters self-describing."""
        from ralf_spark.connectors import _hadoop_fs

        root = f"{self.path}/cells"
        paths = []
        for c in probed:
            p = f"{root}/cell={c}"
            fs, jp = _hadoop_fs(spark, p)
            if fs.exists(jp):
                paths.append(p)
        if not paths:
            # no probed cell has data: fall back to the (empty after
            # filter) full listing — rare, and only as large as the store
            return spark.read.parquet(root).where(F.col("cell").isin(probed))
        return (
            spark.read.option("basePath", root)
            .parquet(*paths)
            .where(F.col("cell").isin(probed))
        )

    def _write_cells(
        self, assigned: DataFrame, tag: str, fence: AddFence = AddFence()
    ) -> None:
        """Fold an assigned projection into its ``_batch=<tag>`` subtree
        (:meth:`BatchStore.publish`): only the ``(cell, _batch)``
        directories present in ``assigned`` are rewritten — a replayed tag
        rewrites itself in place (idempotent: assignment under the frozen
        quantizer is deterministic).

        ``repartition(cell)`` first (r10, finding 16): a partitionBy
        write otherwise emits one file per (shuffle task × cell) — the
        batch-count probe measured 6.2k files from four 4k-vector adds
        at 64 cells. One shuffle of the (batch-sized) assignment buys
        one file per touched (cell, batch); the write stays parallel
        across cells, and at build scale a cell's file is its member
        count (cells ∝ √corpus keeps that bounded)."""
        self._store.publish(
            assigned.repartition(F.col("cell")), "cells", tag, fence,
            partition_by=("cell", "_batch"),
        )

    def build(
        self,
        table: FeatureTable,
        centroids: DataFrame,
        codebooks: list[list[list[float]]] | None = None,
        sq8: bool = False,
    ) -> None:
        """Freeze the quantizer and write the corpus partitioned by cell.
        ``centroids``: (centroid_id, centroid_vec) — small by contract.
        ``codebooks`` (optional) turns on IVF-PQ mode: the codebooks are
        stored alongside and every cell row carries its PQ codes.
        ``sq8=True`` (r12) turns on IVF-SQ8 mode instead: per-dimension
        (min, max) bounds are computed over THIS corpus, stored in an
        ``sq8_bounds`` sidecar, and every cell row carries its uint8
        codes — ``query(method="sq8")`` then scans only (id, codes)
        inside the probed cells, the persistent layout the one-shot
        :func:`ivf_sq8_topk` models. Bounds are frozen at build like the
        quantizer: ``add()`` encodes with the STORED bounds (values
        outside them clamp — recall degrades gracefully as the
        distribution drifts; periodic re-``build`` refreshes both).
        Mutually exclusive with ``codebooks``.

        A re-``build`` (periodic re-clustering) REPLACES the whole index:
        the cells tree is cleared first, because the dynamic-overwrite
        write below only touches the ``(cell, _batch=base)`` partitions
        present in the NEW assignment — without the delete, prior
        ``add()`` batches and cells the new quantizer no longer produces
        would survive with stale assignments under the OLD centroids and
        leak into every later ``query()`` (reviewed r7). The stored
        codebooks are likewise replaced (or removed on a plain rebuild)."""
        from ralf_spark.connectors import _hadoop_fs

        if codebooks is not None and sq8:
            raise ValueError(
                "codebooks and sq8 are mutually exclusive compression "
                "modes; pick IVF-PQ or IVF-SQ8"
            )
        if codebooks is not None:
            # validate BEFORE any destructive I/O: a rejected call must
            # not have overwritten the quantizer or cleared the cells of
            # a working index (reviewed r7)
            _check_codebooks(codebooks)
        spark = table.df.sparkSession
        # before the first destructive write
        with self._store.exclusive(spark) as op:
            centroids.select(
                F.col("centroid_id").cast("long"),
                F.col("centroid_vec").cast("array<double>"),
            ).write.mode("overwrite").parquet(f"{self.path}/centroids")
            cells_path = f"{self.path}/cells"
            fs, jcells = _hadoop_fs(spark, cells_path)
            if fs.exists(jcells):
                fs.delete(jcells, True)
            books_path = f"{self.path}/pq_books"
            if codebooks is not None:
                # driver-side sidecar write (r15, guide §5): the
                # codebooks are a driver-local list — no Spark job for KBs
                from ralf_spark.connectors import write_parquet_sidecar

                write_parquet_sidecar(
                    spark, books_path,
                    [
                        (j, c, [float(x) for x in cv])
                        for j, book in enumerate(codebooks)
                        for c, cv in enumerate(book)
                    ],
                    "subspace int, code int, vec array<double>",
                )
            else:
                fs2, jbooks = _hadoop_fs(spark, books_path)
                if fs2.exists(jbooks):
                    fs2.delete(jbooks, True)  # plain rebuild drops PQ mode
            bounds_path = f"{self.path}/sq8_bounds"
            fs3, jbounds = _hadoop_fs(spark, bounds_path)
            if fs3.exists(jbounds):
                fs3.delete(jbounds, True)  # rebuild drops/refreshes SQ8
            # a re-build replaces the quantizer, so the cached two-level
            # grouping (keyed on the OLD centroid set) must die with it —
            # equal-cardinality rebuilds would otherwise serve queries
            # through a stale coarse grouping (ADVICE r9). add() keeps
            # the cache: it folds vectors under the FROZEN quantizer.
            self._two_level = None
            cen_rows = self._cen_rows(spark)
            assigned = self._assign(table, cen_rows)
            if codebooks is not None:
                assigned = self._encode(assigned, codebooks)
            if sq8:
                bounds = sq8_bounds(assigned, "_v")
                from ralf_spark.connectors import write_parquet_sidecar

                write_parquet_sidecar(
                    spark, bounds_path,
                    [(d, float(lo), float(hi))
                     for d, (lo, hi) in enumerate(bounds)],
                    "dim int, lo double, hi double",
                )
                assigned = sq8_encode(
                    assigned, bounds, vec_col="_v", out_col="_sq8",
                    keep_vec=True,
                )
            self._write_cells(assigned, "base")
            op.rewritten = True

    def add(
        self,
        table: FeatureTable,
        batch_tag: str | None = None,
        writer_id: str | None = None,
    ) -> None:
        """Assign a new batch with the stored quantizer and fold it into
        the cell layout — only the batch is assigned and written (encoded
        with the STORED codebooks when the index is in IVF-PQ mode).

        ``batch_tag`` names the batch's partition: re-running ``add``
        with the same tag (a micro-batch replay after failure) REPLACES
        that batch's directories instead of duplicating vectors; unnamed
        batches get a unique tag (plain append semantics).

        CONCURRENT mode (r14 — ``concurrent_adds=True``): tag-scoped
        lease instead of the root, auto-maintenance skipped (the
        coordinator owns the cadence); see ``GramIndex.add``."""
        import uuid

        spark = table.df.sparkSession
        tag = batch_tag if batch_tag is not None else uuid.uuid4().hex[:12]
        with self._store.add_session(spark, tag, writer_id) as fence:
            if self.auto_maintain and not self.concurrent_adds:
                if (
                    batch_tag_count(spark, f"{self.path}/cells")
                    > self.auto_maintain
                ):
                    self.maintain(spark)
            cen_rows = self._cen_rows(spark)
            assigned = self._assign(table, cen_rows)
            books = self._load_books(spark)
            if books is not None:
                assigned = self._encode(assigned, books)
            bounds = self._load_sq8_bounds(spark)
            if bounds is not None:
                # STORED bounds (frozen at build): out-of-range values clamp
                assigned = sq8_encode(
                    assigned, bounds, vec_col="_v", out_col="_sq8",
                    keep_vec=True,
                )
            self._write_cells(assigned, tag, fence)

    def maintain(
        self,
        spark,
        keep_last: int = 1,
        target_file_bytes: int = 128 * 1024 * 1024,
        tiered: bool = True,
    ) -> dict | None:
        """Compact the per-batch cell-tree accretion (r10, VERDICT r9
        #4): every ``add()`` writes one ``cell=<c>/_batch=<tag>``
        directory per touched cell, so after 10³–10⁴ ingest batches each
        cell holds O(batches) small files and the probed-cell read pays
        per-batch file overhead even at fixed corpus size. Folds all but
        the newest ``keep_last`` batch partitions into one compacted
        partition per cell (``layout.compact_batch_partitions`` —
        manifest-transactional; interrupted attempts finish or roll back
        on the next call), preserving the ``cell=`` layout
        ``_read_probed_cells`` prunes on and the ``_meta``/``centroids``/
        ``pq_books``/``sq8_bounds`` sidecars. Query results are unchanged (pinned by
        test). Single-writer, run between adds; ``keep_last >= 1`` keeps
        the newest tag replayable for an in-flight micro-batch retry.
        ``tiered`` (default, r11): fold only raw batch tags until
        :data:`~ralf_spark.layout.COMPACTED_TIER_LIMIT` compacted
        partitions exist, then one full fold — ~8× less write
        amplification on a growing index (see MinHashIndex.maintain)."""
        # root lease first (r12 review): contend with add()/build() on
        # the store root, not only per-subtree inside the compaction
        with self._store.exclusive(spark) as op:
            out = compact_tiered(
                spark, f"{self.path}/cells", keep_last=keep_last,
                tiered=tiered, target_file_bytes=target_file_bytes,
            )
            op.rewritten = bool(out)
        return out

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 1,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        method: str = "exact",
        rerank: int | None = None,
        coarse_probe: int | None | str = "auto",
    ) -> DataFrame:
        """Top-k neighbors reading ONLY the probed cells. The probe set is
        resolved at plan-build time (queries are small by the same
        broadcast contract as ivf_topk), so the cell filter is a literal
        IN over the partition column and the parquet scan prunes to those
        directories.

        ``coarse_probe`` (r9; auto r10, VERDICT r9 #2): cell selection
        strategy. **Breaking default change in r10** (ADVICE r10): the
        default moved from ``None`` (exact flat selection) to ``"auto"``
        — indexes with >= :data:`TWO_LEVEL_AUTO_MIN_K` centroids now get
        the restricted two-level selection with NO code change on the
        caller's side (a recall change; the first escalation per handle
        emits a ``UserWarning`` naming the ``coarse_probe=None`` escape
        hatch). ``None`` pins the exact flat scan — O(q·k) driver
        flops, right to k ~ 10³–10⁴. An integer pins the TWO-LEVEL
        coarse search (:class:`TwoLevelCells`, built once per index
        open and cached): a query scans ⌈√k⌉ coarse centers, then only
        its best ``coarse_probe`` groups' centroids — O(q·√k) — the
        scale path once cells ∝ corpus. ``"auto"`` (the default) picks
        for you: exact below :data:`TWO_LEVEL_AUTO_MIN_K` centroids
        (where the flat scan costs ≲ ms/query and selection is exact
        for free), two-level with :data:`TWO_LEVEL_AUTO_PROBE` groups
        at or above it — the same escalate-past-the-measured-threshold
        discipline as ``choose_simhash_blocks`` and the dedup
        ``sizing.choose_broadcast``. Two-level selection is
        deterministic but a RESTRICTION: a query whose true nearest
        cell sits in an unprobed coarse group probes its best covered
        cells instead (raise ``coarse_probe`` for selection recall;
        ``>= ⌈√k⌉`` degenerates to exact).

        ``method="exact"`` (default): true cosine over the stored raw
        vectors — (query_id, neighbor_id, cos_sim, rank).
        ``method="adc"`` (IVF-PQ indexes only): PQ asymmetric distance
        over the stored CODE columns — the probed-cell scan reads m ints
        per row, never the float vector (column pruning, asserted in
        tests) — (query_id, neighbor_id, approx_dist, rank); add
        ``rerank=R`` to refine the ADC top-R by exact cosine (output
        shape as "exact"), the standard two-pass search.
        ``method="sq8"`` (r12, IVF-SQ8 indexes only): dequantized
        squared-L2 over the stored uint8 code column — same probe shape
        and output as "adc" (incl. ``rerank``), with SQ8's
        per-dimension resolution instead of PQ's subspace centroids;
        the one-shot :func:`ivf_sq8_topk` oracle gates it."""
        if method not in ("exact", "adc", "sq8"):
            raise ValueError(f"unknown query method {method!r}")
        if rerank is not None:
            if method == "exact":
                raise ValueError(
                    "rerank refines an ADC shortlist; method='exact' is "
                    "already exact — silently ignoring the knob would "
                    "mislead a caller who thinks they widened the search"
                )
            if rerank < 1:
                raise ValueError("rerank must be >= 1")
        spark = queries.sparkSession
        cen_rows = self._cen_rows(spark)
        # serving-path cell selection runs DRIVER-side (r8; before that
        # only the DISTINCT probed cell ids crossed the driver — this
        # widens the collect to the full query batch, fine under the
        # documented small-query broadcast contract): bit-identical to
        # the nearest_cells expression, but the plan no longer embeds k
        # centroid literals — O(1) plan size in k (SCALEPROBE finding 7)
        qid_type = {
            f.name: f.dataType.simpleString() for f in queries.schema.fields
        }[query_id]
        qrows = queries.select(
            F.col(query_id), F.col(query_vec).cast("array<double>")
        ).collect()
        # per-row probing requires unique ids: a duplicated query_id would
        # equi-join every duplicate against BOTH rows' probe cells (a
        # per-key cross product) and the final per-query top-k would mix
        # two vectors' neighbors under one id — reject early, driver-side
        if len({r[0] for r in qrows}) != len(qrows):
            raise ValueError(
                f"IvfIndex.query needs unique {query_id!r} values; the "
                "query batch contains duplicates"
            )
        if coarse_probe == "auto":
            coarse_probe = (
                TWO_LEVEL_AUTO_PROBE
                if len(cen_rows) >= TWO_LEVEL_AUTO_MIN_K
                else None
            )
            if coarse_probe is not None and not getattr(
                self, "_warned_auto_two_level", False
            ):
                # one-time breaking-default callout (ADVICE r10): before
                # r10 the default was None (exact flat cell selection);
                # "auto" silently restricts selection past the centroid
                # threshold — say so once per handle, with the escape
                # hatch, instead of changing recall in silence.
                self._warned_auto_two_level = True
                import warnings

                warnings.warn(
                    f"IvfIndex.query: {len(cen_rows)} centroids >= "
                    f"TWO_LEVEL_AUTO_MIN_K={TWO_LEVEL_AUTO_MIN_K}, so "
                    "coarse_probe='auto' (the default since r10; it was "
                    "None = exact flat selection) switches to the "
                    "RESTRICTED two-level coarse search "
                    f"(coarse_probe={TWO_LEVEL_AUTO_PROBE}). Pass "
                    "coarse_probe=None to pin the exact flat scan, or an "
                    "int to size the restriction.",
                    stacklevel=2,
                )
        elif isinstance(coarse_probe, str):
            raise ValueError(
                f"coarse_probe must be 'auto', None, or an int; got "
                f"{coarse_probe!r}"
            )
        if coarse_probe is not None:
            # two-level structure cached per index open: the quantizer is
            # frozen at build() (which clears the cache), so the grouping
            # never changes between rebuilds
            tl = getattr(self, "_two_level", None)
            if tl is None or tl[0] != len(cen_rows):
                tl = (len(cen_rows), TwoLevelCells(cen_rows))
                self._two_level = tl
            select = lambda v: tl[1].query(v, nprobe, coarse_probe)  # noqa: E731
        else:
            select = lambda v: nearest_cells_driver(  # noqa: E731
                cen_rows, v, nprobe
            )
        cell_pairs = [
            (r[0], int(c))
            for r in qrows
            for c in select([float(x) for x in r[1]])
        ]
        cell_df = spark.createDataFrame(
            cell_pairs, f"{query_id} {qid_type}, _cell long"
        )
        q = queries.select(
            F.col(query_id),
            F.col(query_vec).cast("array<double>").alias("_qv"),
        ).join(F.broadcast(cell_df), query_id)
        probed = sorted({c for _, c in cell_pairs})
        cells = self._read_probed_cells(spark, probed)
        if method == "sq8":
            bounds = self._load_sq8_bounds(spark)
            if bounds is None:
                raise ValueError(
                    f"IvfIndex at {self.path} stores no SQ8 bounds; "
                    "build(..., sq8=True) enables method='sq8'"
                )
            enc = cells.select(
                F.col("_id").alias("neighbor_id"), "cell", "_sq8"
            )
            dist = F.aggregate(
                F.zip_with(
                    _sq8_rec("_sq8", bounds),
                    _sq8_qv_guard(
                        F.col("_qv"), bounds, "IvfIndex.query(method='sq8')"
                    ),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            scored = (
                enc.join(F.broadcast(q), enc.cell == q._cell)
                .where(F.col("neighbor_id") != F.col(query_id))
                .select(query_id, "neighbor_id", dist.alias("approx_dist"))
                # same multi-version keep-best contract as the ADC path
                .groupBy(query_id, "neighbor_id")
                .agg(F.min("approx_dist").alias("approx_dist"))
            )
            w = Window.partitionBy(query_id).orderBy(
                F.col("approx_dist").asc(), F.col("neighbor_id")
            )
            out = (
                scored.withColumn("rank", F.row_number().over(w))
                .where(
                    F.col("rank") <= (rerank if rerank is not None else k)
                )
            )
            if rerank is None:
                return out
            corpus = FeatureTable(
                cells.select("_id", F.col("_v").alias(self.vec_col)),
                key="_id",
            )
            return exact_rerank(
                out, corpus, queries, k=k,
                vec_col=self.vec_col, query_id=query_id,
                query_vec=query_vec,
            )
        if method == "adc":
            books = self._load_books(spark)
            if books is None:
                raise ValueError(
                    f"IvfIndex at {self.path} stores no PQ codebooks; "
                    "build(..., codebooks=...) enables method='adc'"
                )
            m = len(books)
            enc = cells.select(
                F.col("_id").alias("neighbor_id"),
                "cell",
                *[f"code_{j}" for j in range(m)],
            )
            qlut = _adc_qlut(q, books, query_id, extra=("_cell",))
            scored = (
                enc.join(F.broadcast(qlut), enc.cell == qlut._cell)
                .where(F.col("neighbor_id") != F.col(query_id))
                .select(
                    query_id,
                    "neighbor_id",
                    _adc_dist(m).alias("approx_dist"),
                )
                # duplicate _ids across add() batches are possible
                # (unlike the one-shot operators), and a RE-added id may
                # carry NEW codes — keep one row per pair, best distance
                # (row-level distinct can't collapse changed vectors)
                .groupBy(query_id, "neighbor_id")
                .agg(F.min("approx_dist").alias("approx_dist"))
            )
            w = Window.partitionBy(query_id).orderBy(
                F.col("approx_dist").asc(), F.col("neighbor_id")
            )
            out = (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= (rerank if rerank is not None else k))
            )
            if rerank is None:
                return out
            corpus = FeatureTable(
                cells.select("_id", F.col("_v").alias(self.vec_col)),
                key="_id",
            )
            return exact_rerank(
                out, corpus, queries, k=k,
                vec_col=self.vec_col, query_id=query_id,
                query_vec=query_vec,
            )
        scored = (
            cells.join(F.broadcast(q), cells.cell == q._cell)
            .where(F.col("_id") != F.col(query_id))
            .select(
                query_id,
                F.col("_id").alias("neighbor_id"),
                cosine_similarity(F.col("_qv"), F.col("_v")).alias("cos_sim"),
            )
            # nprobe>1 can reach the same pair via two cells, and an id
            # re-added under a new batch_tag may carry a NEW vector —
            # keep one row per pair, best similarity (same contract as
            # the ADC path; row-level distinct misses changed vectors)
            .groupBy(query_id, "neighbor_id")
            .agg(F.max("cos_sim").alias("cos_sim"))
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )


def kmeans_fit(
    corpus: FeatureTable,
    init_centroids: DataFrame,
    max_iter: int = 10,
    tol: float = 1e-6,
    vec_col: str = "embedding",
    quantize_decimals: int | None = None,
    return_counts: bool = False,
) -> DataFrame:
    """Distributed Lloyd's k-means to convergence — the production builder
    of the IVF coarse quantizer (``IvfIndex``/``ivf_topk`` consume its
    output directly).

    Per iteration: row-local nearest-centroid assignment against the
    plan-literal centroid set (no corpus × centroid join), then new
    centroids as per-(cell, dim) cell means via posexplode + ONE hash-agg
    — never a whole-vector reduce on one node. k is small by the coarse-
    quantizer contract, so centroids collect to the driver between rounds
    (k × dim doubles); the corpus is scanned once per iteration and never
    shuffled on anything but the (cell, dim) agg key.

    Convergence = max centroid movement (squared L2) <= ``tol``. Only the
    small centroid table crosses the driver boundary; no per-iteration
    lineage accumulates (each round's plan starts from literals, the
    dedup_clusters checkpoint concern does not arise).

    Cross-engine caveat: from the second iteration on, centroids are float
    MEANS, and summation order differs between engines — borderline
    assignments can legitimately flip. Two verification regimes:

    - default (``quantize_decimals=None``): run to convergence; verified
      against an independent numpy Lloyd implementation (unit test).
    - ``quantize_decimals=d``: fixed-point-lattice mode — seeds and every
      new centroid are rounded to ``d`` decimals (Spark-side ``round``,
      half-away-from-zero, same rule as DuckDB), which absorbs
      summation-order noise (~1e-13) far below the lattice step (5e-5),
      so a SQL engine replays the whole loop bit-for-bit. This is the
      DuckDB-oracle-gated spelling (``kmeans_fit_centroids`` query); the
      quantization costs nothing at coarse-quantizer granularity.

    ``return_counts=True`` additionally reports each cell's member count
    from the final executed assignment (0 for emptied cells) — the same
    aggregation pass that computes the means, no extra scan.
    """
    idc = corpus.key
    if idc is None:
        raise ValueError("kmeans_fit needs a keyed table")
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).persist()
    init_df = init_centroids.select(
        "centroid_id", F.col("centroid_vec").cast("array<double>").alias("_cv")
    )
    if quantize_decimals is not None:
        init_df = init_df.select(
            "centroid_id",
            F.transform(
                "_cv", lambda x: F.round(x, quantize_decimals)
            ).alias("_cv"),
        )
    cen_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in init_df.collect()
    )
    if not cen_rows:
        raise ValueError("kmeans_fit needs a non-empty init centroid set")
    spark = corpus.df.sparkSession
    counts: dict[int, int] = {}
    for _ in range(max_iter):
        assigned = emb.withColumn(
            "_cell", nearest_cells(cen_rows, "_v", 1)[0]
        )
        mean_expr = F.avg("_x")
        if quantize_decimals is not None:
            mean_expr = F.round(mean_expr, quantize_decimals)
        dims = (
            assigned.select("_cell", F.posexplode("_v").alias("_p", "_x"))
            .groupBy("_cell", "_p")
            .agg(mean_expr.alias("_m"), F.count(F.lit(1)).alias("_n"))
        )
        cells = (
            dims.groupBy("_cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_p", "_m"))
                ).alias("_s"),
                F.max("_n").alias("_n"),
            )
            .select(
                "_cell",
                F.transform("_s", lambda e: e["_m"]).alias("_mv"),
                "_n",
            )
            .collect()
        )
        new_rows = {
            int(r["_cell"]): [float(x) for x in r["_mv"]] for r in cells
        }
        counts = {int(r["_cell"]): int(r["_n"]) for r in cells}
        moved = 0.0
        next_rows = []
        for cid, old in cen_rows:
            new = new_rows.get(cid, old)  # empty cell keeps its centroid
            moved = max(
                moved, sum((a - b) ** 2 for a, b in zip(old, new))
            )
            next_rows.append((cid, new))
        cen_rows = next_rows
        if moved <= tol:
            break
    emb.unpersist()
    if return_counts:
        return spark.createDataFrame(
            [(cid, counts.get(cid, 0), cv) for cid, cv in cen_rows],
            "centroid_id long, n_members long, centroid_vec array<double>",
        )
    return spark.createDataFrame(
        [(cid, cv) for cid, cv in cen_rows],
        "centroid_id long, centroid_vec array<double>",
    )


def kmeans_plusplus_seeds(
    corpus: FeatureTable,
    k: int,
    vec_col: str = "embedding",
    seed: str = "kpp",
) -> DataFrame:
    """Deterministic spherical k-means++ seeding (r12, VERDICT r11 #4) —
    the init that lifts :func:`kmeans_fit` out of bad local optima at
    fixed probe budgets (Arthur & Vassilvitskii 2007, adapted to the
    cosine objective the quantizer family uses).

    Round 0 picks the row with the largest content-hash uniform (a
    deterministic "uniformly random" first center); round i keys every
    row by ``ln(u_i) / w`` with ``w = (1 - max_cos(row, seeds so far))²``
    — the D² weighting of classic k-means++ under the angular metric
    (linear D under-spreads: 13/16 MoG clusters covered vs 15/16 with
    D², measured) — and takes the argmax: the Efraimidis-Spirakis
    spelling of "sample ∝ D²" already used by ``weighted_sample``
    (operators/sketches.py), so the selection is identical across runs,
    partitionings, and engines (DuckDB-replayable; the registry gate
    pins the chosen ids). Rows at zero distance to a seed (w <= 0) are
    never picked, and ZERO-NORM rows are dropped before round 0 (r13,
    ADVICE r12): they have no direction under the angular metric, and a
    zero-norm pick would put 0 in every later round's cosine
    denominator, NULL-ing d for all rows and silently truncating the
    seed set.

    Scale: k - 1 corpus scans, each a row-local expression against the
    plan-literal seed set followed by a distributed TakeOrdered(1) —
    no shuffle of the corpus, no pairwise join. Round i recomputes the
    max-cosine against all i seeds chosen so far, so the total work is
    O(k²·n) cosines (not O(k·n) — r13 correction, ADVICE r12); an
    incrementally-maintained per-row running max would shave the k
    factor at the cost of k materialized corpus passes. k is small by
    the coarse-quantizer contract; for k in the thousands seed from a
    deterministic sample (``weighted_sample``) first.

    Returns (centroid_id, seed_id, centroid_vec) — feed straight into
    :func:`kmeans_fit` as ``init_centroids``.
    """
    idc = corpus.key
    if idc is None:
        raise ValueError("kmeans_plusplus_seeds needs a keyed table")
    if k < 1:
        raise ValueError("k must be >= 1")
    emb = (
        ensure_parallelism(
            corpus.df.select(
                F.col(idc).alias("_id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
            )
        )
        # zero-norm rows have no direction under the angular metric:
        # excluded before round 0 so a degenerate pick can never NULL
        # every later round's d and truncate the seed set (r13, ADVICE)
        .where(F.expr("aggregate(`_v`, 0.0D, (acc, x) -> acc + x * x)") > 0)
        .persist()
    )
    try:
        def u_log(i: int) -> Column:
            # ln(u), u = (stable_hash64(id, salt)+1)/2^60 ∈ (0, 1]
            h = stable_hash64(F.col("_id"), salt=f"{seed}|{i}")
            return F.log((h + F.lit(1)).cast("double") / F.lit(2.0**60))

        first = (
            emb.orderBy(
                stable_hash64(F.col("_id"), salt=f"{seed}|0").desc(),
                F.col("_id"),
            )
            .limit(1)
            .collect()
        )
        if not first:
            raise ValueError("kmeans_plusplus_seeds: empty corpus")
        chosen = [(first[0]["_id"], [float(x) for x in first[0]["_v"]])]
        for i in range(1, k):
            cos_terms = ",".join(
                f"({_dot_sql('_v', _arr_sql(cv))} / "
                f"(sqrt(aggregate(`_v`, 0.0D, (acc, v) -> acc + v * v)) * "
                f"{_fmt_d(math.sqrt(sum(x * x for x in cv)))}))"
                for _, cv in chosen
            )
            d = F.lit(1.0) - F.expr(f"array_max(array({cos_terms}))")
            w = d * d
            key = u_log(i) / w
            nxt = (
                emb.where(d > 0)
                .orderBy(key.desc(), F.col("_id"))
                .limit(1)
                .collect()
            )
            if not nxt:
                break  # fewer distinct directions than k
            chosen.append(
                (nxt[0]["_id"], [float(x) for x in nxt[0]["_v"]])
            )
    finally:
        emb.unpersist()
    spark = corpus.df.sparkSession
    return spark.createDataFrame(
        [(cid, sid, vec) for cid, (sid, vec) in enumerate(chosen)],
        "centroid_id long, seed_id long, centroid_vec array<double>",
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the 100 TB memory/IO path for ANN.
#
# Raw float embeddings at 100 TB cannot be rescanned per query; the standard
# compression (Jégou/Douze/Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — the IVF-PQ design every large ANN system
# uses) splits each vector into m subvectors, quantizes each against its own
# k-entry codebook, and stores only the m small code ids (m bytes at k<=256
# vs 4*dim bytes raw — 32x for dim=64, m=8). Search is ADC (asymmetric
# distance computation): per query, precompute an m x k lookup table of
# subspace distances, then a candidate's approximate squared L2 distance is
# m table lookups + adds — no float vector is ever read at query time.
#
# Engine spelling: codebooks are plan literals (small by contract:
# m * k * dsub doubles); encoding is a row-local native argmin projection
# (no shuffle, no corpus x codebook join); the ADC scan reads ONLY the code
# columns (column pruning drops the raw vector at the parquet scan), builds
# the per-query LUTs natively on the (broadcast-small) query side, and
# scores via element_at — every step whole-stage-codegen, zero Python.
# Deterministic given the codebooks, so DuckDB replays encode AND search
# bit-for-bit (registry gates). The reference has no ANN surface at all;
# this extends E3 the way the north star asks.
# --------------------------------------------------------------------------


def _sq_l2_sql(sub: str, lit_vec: list[float]) -> str:
    """Squared L2 distance between a (pre-projected, let-bound) subvector
    COLUMN NAME and a plan-literal subvector — the identical fold the old
    Column-API spelling built (`zip_with` square + left `aggregate`), as
    a SQL string. Why SQL: each Column-API higher-order call costs
    ~25-30ms of py4j lambda conversion at PLAN BUILD time; a gate builds
    ~100 of them (measured ~5s/build at m=4, k=10). One `F.expr` parses
    the whole tree JVM-side in <1ms with bit-identical semantics
    (equality pinned in tests)."""
    return (
        f"aggregate(zip_with({_ident(sub)}, {_arr_sql(lit_vec)}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"
    )


def nearest_code(book: list[list[float]], sub: str) -> Column:
    """0-based index of the min-squared-L2 codebook entry for the
    subvector column named ``sub`` (ties -> smallest code) — a pure
    row-local expression, the PQ analog of :func:`nearest_cells` (which
    is max-cosine for the IVF coarse quantizer; PQ quantizes residual
    geometry, where L2 is the standard metric). Built as one ``F.expr``
    (see :func:`_sq_l2_sql` for why)."""
    entries = ",".join(
        f"named_struct('d', {_sq_l2_sql(sub, cv)}, 'c', {_fmt_d(c)})"
        for c, cv in enumerate(book)
    )
    # array_sort on struct: asc by (d, c) -> [0] is the argmin
    return F.expr(f"CAST(array_sort(array({entries}))[0].c AS INT)")


def _check_codebooks(codebooks: list[list[list[float]]]) -> tuple[int, int]:
    if not codebooks or not codebooks[0]:
        raise ValueError("pq needs at least one non-empty codebook")
    dsub = len(codebooks[0][0])
    k = len(codebooks[0])
    for j, book in enumerate(codebooks):
        if len(book) != k or any(len(cv) != dsub for cv in book):
            raise ValueError(
                f"codebook {j} is ragged: every subspace needs the same "
                f"(k={k}, dsub={dsub}) shape"
            )
    return k, dsub


def _adc_qlut(
    q: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Per-query ADC lookup tables over a projection carrying ``_qv``:
    one array column per subspace, position c+1 holding
    d²(q_sub_j, codebooks[j][c]). Let-binds the query subvectors first
    (interpreted higher-order lambdas re-evaluate referenced expressions
    per element). ``extra`` columns (e.g. the probe cell) pass through.
    Shared by every ADC spelling so the LUT/tie-break discipline cannot
    diverge between them."""
    m = len(codebooks)
    _, dsub = _check_codebooks(codebooks)
    qsub = q.select(
        F.col(query_id),
        *extra,
        *[
            F.slice(F.col("_qv"), j * dsub + 1, dsub).alias(f"_qs{j}")
            for j in range(m)
        ],
    )
    return qsub.select(
        query_id,
        *extra,
        *[
            F.expr(
                "array("
                + ",".join(
                    _sq_l2_sql(f"_qs{j}", cv) for cv in codebooks[j]
                )
                + ")"
            ).alias(f"_lut{j}")
            for j in range(m)
        ],
    )


def _adc_dist(m: int) -> Column:
    """Approximate squared distance: m LUT lookups + adds over the
    ``code_j`` columns."""
    dist = None
    for j in range(m):
        term = F.element_at(F.col(f"_lut{j}"), F.col(f"code_{j}") + 1)
        dist = term if dist is None else dist + term
    return dist


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_prefix: str = "code_",
    keep_vec: bool = False,
) -> DataFrame:
    """Encode ``vec_col`` into ``m`` small int code columns
    (``code_0 .. code_{m-1}``), one per subspace — the PQ compression
    step. Codebooks are position-indexed (``codebooks[j][c]`` is code
    ``c`` of subspace ``j``); vectors must have exactly ``m * dsub``
    dims — mismatched rows raise at execution instead of silently
    encoding garbage (a short slice would null-pad every distance).
    Row-local projection: no shuffle, no join; at 100 TB this is
    the one full scan that builds the compressed index, and everything
    after reads codes only (``keep_vec=False`` drops the float vector)."""
    m = len(codebooks)
    _, dsub = _check_codebooks(codebooks)
    v = F.col(vec_col).cast("array<double>")
    # let-bind the subvector slices as real columns: interpreted
    # higher-order lambdas re-evaluate referenced expressions PER ELEMENT,
    # so feeding F.slice(...) straight into the zip_with fold would
    # re-slice dsub times per distance term
    sliced = df.select(
        "*", *[
            F.slice(v, j * dsub + 1, dsub).alias(f"_sub{j}")
            for j in range(m)
        ]
    )
    keep = [c for c in df.columns if keep_vec or c != vec_col]
    codes = [
        nearest_code(codebooks[j], f"_sub{j}").alias(f"{code_prefix}{j}")
        for j in range(m)
    ]
    # dim guard on the first code column (one per row suffices): without
    # it a 32-dim vector under 64-dim codebooks silently encodes code 0
    # everywhere and ADC returns a confident, meaningless top-k
    expected = m * dsub
    codes[0] = (
        F.when(F.size(v) == expected, codes[0])
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"pq_encode: {vec_col} must have exactly "
                        f"{expected} dims (m={m} x dsub={dsub}), got "
                    ),
                    F.size(v).cast("string"),
                )
            )
        )
        .alias(f"{code_prefix}0")
    )
    return sliced.select(*keep, *codes)


def pq_adc_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ asymmetric distance:
    smallest sum of per-subspace LUT entries, ties -> smallest neighbor
    id. Output: (query_id, neighbor_id, approx_dist, rank).

    One-shot convenience: encodes the corpus INLINE (so this spelling
    still scans the raw vectors once) and delegates to
    :func:`pq_adc_topk_precoded` — the deployment path, where the code
    table is persisted and every search reads m small ints per row
    instead of dim floats. The query side (broadcast-small by the same
    contract as :func:`cosine_topk`) computes its m x k LUT natively per
    row; the score is m ``element_at`` lookups + adds inside codegen."""
    idc = corpus.key
    if idc is None:
        raise ValueError("pq_adc_topk needs a keyed corpus")
    enc = pq_encode(
        ensure_parallelism(
            corpus.df.select(
                F.col(idc).alias("neighbor_id"), F.col(vec_col)
            )
        ),
        codebooks,
        vec_col=vec_col,
    )
    return pq_adc_topk_precoded(
        enc, queries, codebooks, k=k, query_id=query_id,
        query_vec=query_vec,
    )


def pq_adc_topk_precoded(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "neighbor_id",
    code_prefix: str = "code_",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """ADC search over an ALREADY-ENCODED corpus — the deployment
    spelling: ``pq_encode`` runs once (the index build), the code table
    persists to parquet, and every search scans m small int columns
    instead of dim floats (~32x less IO at dim=64/m=4; column pruning
    reaches the parquet scan). ``pq_adc_topk`` is the one-shot
    convenience that encodes inline (scans raw vectors)."""
    m = len(codebooks)
    _check_codebooks(codebooks)
    enc = codes.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"{code_prefix}{j}").alias(f"code_{j}") for j in range(m)],
    )
    qlut = _adc_qlut(
        queries.select(
            F.col(query_id),
            F.col(query_vec).cast("array<double>").alias("_qv"),
        ),
        codebooks,
        query_id,
    )
    scored = (
        enc.crossJoin(F.broadcast(qlut))
        .where(F.col("neighbor_id") != F.col(query_id))
        .select(query_id, "neighbor_id", _adc_dist(m).alias("approx_dist"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_fit(
    corpus: FeatureTable,
    init_codebooks: list[list[list[float]]],
    max_iter: int = 10,
    tol: float = 1e-6,
    vec_col: str = "embedding",
    quantize_decimals: int | None = None,
) -> list[list[list[float]]]:
    """Train the PQ codebooks: an independent Lloyd's k-means per
    subspace over the sliced corpus, reusing :func:`kmeans_fit` (same
    convergence, determinism, and quantize-lattice contract). Cost: m
    independent fits, EACH up to ``max_iter`` corpus scans (over dsub of
    the dims) — up to m x max_iter scans total, not m; at scale the
    standard move is fitting on a sample — pass a sampled FeatureTable.
    Returns position-indexed codebooks shaped like the input."""
    m = len(init_codebooks)
    _, dsub = _check_codebooks(init_codebooks)
    idc = corpus.key
    if idc is None:
        raise ValueError("pq_fit needs a keyed corpus")
    spark = corpus.df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    out: list[list[list[float]]] = []
    for j, book in enumerate(init_codebooks):
        sub = FeatureTable(
            corpus.df.select(
                F.col(idc), F.slice(v, j * dsub + 1, dsub).alias(vec_col)
            ),
            key=idc,
        )
        init = spark.createDataFrame(
            [(c, cv) for c, cv in enumerate(book)],
            "centroid_id long, centroid_vec array<double>",
        )
        fitted = kmeans_fit(
            sub,
            init,
            max_iter=max_iter,
            tol=tol,
            vec_col=vec_col,
            quantize_decimals=quantize_decimals,
        ).collect()
        out.append(
            [
                [float(x) for x in r["centroid_vec"]]
                for r in sorted(fitted, key=lambda r: int(r["centroid_id"]))
            ]
        )
    return out


def ivf_pq_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 1,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """IVF-PQ: the canonical large-scale ANN composition (Jégou et al.
    TPAMI 2011 §V) — the coarse quantizer prunes the corpus to the
    query's ``nprobe`` cells, and candidates inside a probed cell are
    scored by PQ asymmetric distance instead of full-vector math.

    Cost per query: |probed cells' rows| LUT lookups (m adds each) —
    both the candidate COUNT (IVF pruning) and the candidate WIDTH (m
    ints, not dim floats) shrink, which is why this layout serves
    billion-vector corpora. Cell assignment and encoding are row-local
    projections against plan literals; the probe is a broadcast
    equi-join on the cell id (Σ probed-cell sizes, never n²); ranking is
    asc approx_dist, ties -> smallest neighbor id. Deployment spelling:
    persist the (cell, codes) table — ``IvfIndex``'s layout with
    ``pq_encode`` columns — and this plan's scan prunes to probed cell
    partitions AND reads only int columns."""
    idc = corpus.key
    if idc is None:
        raise ValueError("ivf_pq_topk needs a keyed corpus")
    m = len(codebooks)
    _check_codebooks(codebooks)
    cen_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id, centroid_vec).collect()
    ]
    if not cen_rows:
        raise ValueError("ivf_pq_topk needs a non-empty centroid set")
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).withColumn("_cell", nearest_cells(cen_rows, "_v", 1)[0])
    enc = pq_encode(emb, codebooks, vec_col="_v")  # keeps neighbor_id,_cell
    qv = F.col(query_vec).cast("array<double>")
    q = queries.select(F.col(query_id), qv.alias("_qv")).withColumn(
        "_cell", F.explode(nearest_cells(cen_rows, "_qv", nprobe))
    )
    qlut = _adc_qlut(q, codebooks, query_id, extra=("_cell",))
    # no distinct needed: each corpus row lands in exactly ONE cell and
    # a query's probe cells are distinct, so the equi-join emits each
    # (query, neighbor) pair at most once even under nprobe>1
    scored = (
        enc.join(F.broadcast(qlut), "_cell")
        .where(F.col("neighbor_id") != F.col(query_id))
        .select(query_id, "neighbor_id", _adc_dist(m).alias("approx_dist"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def exact_rerank(
    candidates: DataFrame,
    corpus: FeatureTable,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Exact-cosine re-ranking of an ANN shortlist — the standard
    refine step after a compressed/pruned first pass (IVF-PQ + refine):
    the approximate search (PQ ADC, LSH, IVF) produces |q| x R candidate
    ids; this joins their RAW vectors back and ranks by true cosine,
    returning top-``k``. Costs one corpus scan filtered by a broadcast
    of the (tiny) shortlist — the expensive float math runs on |q| x R
    rows, not the corpus, so the compressed scan's IO win survives while
    the approximation error of the final ranking drops to zero WITHIN
    the shortlist (recall is still bounded by what the first pass
    surfaced). Ties -> smallest neighbor id, as everywhere in E3.

    A corpus carrying duplicate ids (e.g. ``IvfIndex`` cells where an id
    was re-added under a new batch tag with an updated vector) yields one
    output row per (query, neighbor) pair — best similarity wins, same
    keep-best contract as ``IvfIndex.query``; for a properly keyed corpus
    the dedup is a no-op."""
    idc = corpus.key
    if idc is None:
        raise ValueError("exact_rerank needs a keyed corpus")
    short = candidates.select(F.col(query_id), F.col(id_col))
    emb = corpus.df.select(
        F.col(idc).alias(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    )
    scored = (
        emb.join(F.broadcast(short), id_col)
        .join(F.broadcast(q), query_id)
        .select(
            query_id,
            id_col,
            cosine_similarity(F.col("_qv"), F.col("_v")).alias("cos_sim"),
        )
        # keep-best per pair for duplicate-id corpora (no-op otherwise;
        # see docstring) — ALSO collapses a shortlist that itself named
        # the same neighbor twice
        .groupBy(query_id, id_col)
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --------------------------------------------- E3 scalar quantization (SQ8)


def sq8_bounds(
    df: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the SQ8 codebook.

    One posexplode + groupBy(dim) pass with map-side partial min/max (the
    shuffle carries dims x partitions rows, not the corpus), then a
    dim-row collect — the same k-row quantizer-literal contract as the
    k-means centroids and PQ codebooks. min/max are order-independent
    and exact in IEEE doubles, so any engine recomputing these bounds
    gets bit-identical values (the oracle relies on this). An empty
    corpus has no bounds.

    It measured faster than one fixed-width global aggregate of 2×dim
    ``min``/``max(element_at(v, i))`` expressions: on 2000 64-dim
    vectors (local[2] on a 4-CPU host), medians of five interleaved
    runs 0.19 s vs 0.51 s."""
    rows = (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                  .alias("_d", "_x"))
        .groupBy("_d")
        .agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"))
        .collect()
    )
    return [
        (float(r["_lo"]), float(r["_hi"]))
        for r in sorted(rows, key=lambda r: r["_d"])
    ]


def _sq8_lit(bounds: list[tuple[float, float]], which: int) -> Column:
    return F.array(*[F.lit(float(b[which])) for b in bounds])


def sq8_encode(
    df: DataFrame,
    bounds: list[tuple[float, float]],
    vec_col: str = "embedding",
    out_col: str = "codes",
    keep_vec: bool = False,
) -> DataFrame:
    """Scalar-quantize ``vec_col`` to one uint8 code per dimension:
    ``code = floor(255 * (x - lo) / (hi - lo) + 0.5)`` clamped to
    [0, 255] (explicit half-up so every engine rounds identically);
    a degenerate dimension (hi == lo) encodes 0.

    Row-local projection against plan-literal bounds — no shuffle, no
    join; the one full scan that builds the compressed index. At 100 TB
    the code table persists at ~4x smaller than float32 (vs PQ's ~32x,
    but with per-dimension resolution — SQ8 keeps recall near-exact
    where PQ's subspace centroids saturate), and the ADC search reads
    codes only."""
    lo, hi = _sq8_lit(bounds, 0), _sq8_lit(bounds, 1)
    v = F.col(vec_col).cast("array<double>")
    expected = len(bounds)

    def code(x: Column, i: Column) -> Column:
        l = F.element_at(lo, i + 1)
        h = F.element_at(hi, i + 1)
        raw = F.floor(
            F.lit(255.0) * (x - l) / (h - l) + F.lit(0.5)
        )
        clamped = F.least(F.lit(255.0), F.greatest(F.lit(0.0), raw))
        return (
            F.when(h == l, F.lit(0.0)).otherwise(clamped).cast("int")
        )

    codes = F.transform(v, code)
    # dim guard (one per row): mismatched vectors raise instead of
    # silently zip-padding nulls into every downstream distance
    codes = F.when(F.size(v) == expected, codes).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"sq8_encode: {vec_col} must have exactly "
                    f"{expected} dims, got "
                ),
                F.size(v).cast("string"),
            )
        )
    )
    keep = [c for c in df.columns if keep_vec or c != vec_col]
    return df.select(*keep, codes.alias(out_col))


def _sq8_qv_guard(
    qv: Column, bounds: list[tuple[float, float]], what: str
) -> Column:
    """Dim-guard the QUERY side of an SQ8 search (r13, ADVICE r12): the
    corpus side raises on mismatch in :func:`sq8_encode`, but a
    mis-dimensioned query vector would ``zip_with``-null-pad, make
    ``approx_dist`` NULL, and the ascending rank window then returns
    garbage rows at ranks 1..k (Spark orders NULLs FIRST ascending) —
    silent wrong answers. Same one-expression-per-row spelling as the
    encode guard."""
    expected = len(bounds)
    return F.when(F.size(qv) == expected, qv).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"{what}: query vector must have exactly "
                    f"{expected} dims (the stored SQ8 bounds), got "
                ),
                F.size(qv).cast("string"),
            )
        )
    )


def _sq8_rec(codes_col: str, bounds: list[tuple[float, float]]) -> Column:
    """Dequantized vector ``rec = lo + code * (hi - lo) / 255`` as a
    row-local expression against plan-literal bounds (shared by the flat
    ADC search and the IVF-SQ8 composition; spelled identically in the
    oracles for bit-for-bit replay)."""
    lo, hi = _sq8_lit(bounds, 0), _sq8_lit(bounds, 1)
    return F.transform(
        F.col(codes_col),
        lambda c, i: F.element_at(lo, i + 1)
        + c.cast("double")
        * (F.element_at(hi, i + 1) - F.element_at(lo, i + 1))
        / F.lit(255.0),
    )


def sq8_adc_topk_precoded(
    codes: DataFrame,
    queries: DataFrame,
    bounds: list[tuple[float, float]],
    k: int = 5,
    id_col: str = "neighbor_id",
    codes_col: str = "codes",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Asymmetric top-k over an ALREADY-ENCODED corpus: the full-precision
    query meets the dequantized corpus code
    (``rec = lo + code * (hi - lo) / 255``), squared-L2 summed as a
    left fold in dimension order (bit-replayable), ties -> smallest
    neighbor id. Output: (query_id, neighbor_id, approx_dist, rank).

    The deployment spelling: ``sq8_encode`` runs once, the code table
    persists, and every search scans int8-sized codes (column pruning
    reaches the parquet scan). Queries ride a broadcast (same
    broadcast-small contract as :func:`cosine_topk`); the corpus side
    never shuffles before the per-query top-k window."""
    enc = codes.select(
        F.col(id_col).alias("neighbor_id"),
        _sq8_rec(codes_col, bounds).alias("_rec"),
    )
    q = queries.select(
        F.col(query_id),
        _sq8_qv_guard(
            F.col(query_vec).cast("array<double>"),
            bounds,
            "sq8_adc_topk_precoded",
        ).alias("_qv"),
    )
    dist = F.aggregate(
        F.zip_with("_rec", "_qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col(query_id))
        .select(query_id, "neighbor_id", dist.alias("approx_dist"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sq8_adc_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    bounds: list[tuple[float, float]] | None = None,
    k: int = 5,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """One-shot convenience: derive bounds (unless given), encode the
    corpus inline, and delegate to :func:`sq8_adc_topk_precoded`."""
    idc = corpus.key
    if idc is None:
        raise ValueError("sq8_adc_topk needs a keyed corpus")
    base = ensure_parallelism(
        corpus.df.select(F.col(idc).alias("neighbor_id"), F.col(vec_col))
    )
    if bounds is None:
        bounds = sq8_bounds(base, vec_col)
    enc = sq8_encode(base, bounds, vec_col=vec_col)
    return sq8_adc_topk_precoded(
        enc, queries, bounds, k=k, query_id=query_id, query_vec=query_vec
    )


def sq8_dims_sql(table: str = "embeddings", dim: int = 64) -> str:
    """Shared oracle CTEs: corpus as DOUBLE[] + per-dim bounds + codes."""
    return f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
    dims AS (
      SELECT i AS dim, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, unnest(generate_series(1, {dim})) AS t(i)
      GROUP BY i
    ),
    enc AS (
      SELECT vec_id, dim,
             CAST(CASE WHEN hi = lo THEN 0 ELSE
               least(255, greatest(0,
                 floor(255 * (v[dim] - lo) / (hi - lo) + 0.5)))
             END AS INTEGER) AS code
      FROM e JOIN dims ON true
    )"""


def ivf_sq8_topk(
    corpus: FeatureTable,
    queries: DataFrame,
    centroids: DataFrame,
    bounds: list[tuple[float, float]] | None = None,
    k: int = 5,
    nprobe: int = 1,
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """IVF-SQ8: coarse cells prune the candidate COUNT, per-dimension
    uint8 codes shrink the candidate WIDTH 4x — the composition a
    recall-sensitive deployment picks when PQ's subspace centroids cost
    too much recall (SQ8 error is bounded per dimension at (hi-lo)/255).

    Same plan shape as :func:`ivf_pq_topk`: cell assignment and encoding
    are row-local projections against plan literals, the probe is a
    broadcast equi-join on cell id (Σ probed-cell sizes, never n²),
    distance is the dequantized squared-L2 left fold of
    :func:`sq8_adc_topk_precoded`, ties -> smallest neighbor id.
    Deployment layout: the (cell, codes) table persisted cell-partitioned
    — partition pruning AND 4x-narrower columns at one scan."""
    idc = corpus.key
    if idc is None:
        raise ValueError("ivf_sq8_topk needs a keyed corpus")
    cen_rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id, centroid_vec).collect()
    ]
    if not cen_rows:
        raise ValueError("ivf_sq8_topk needs a non-empty centroid set")
    emb = ensure_parallelism(
        corpus.df.select(
            F.col(idc).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    ).withColumn("_cell", nearest_cells(cen_rows, "_v", 1)[0])
    if bounds is None:
        bounds = sq8_bounds(emb, "_v")
    enc = sq8_encode(emb, bounds, vec_col="_v", out_col="_codes").select(
        "neighbor_id", "_cell", _sq8_rec("_codes", bounds).alias("_rec")
    )
    qv = F.col(query_vec).cast("array<double>")
    q = queries.select(F.col(query_id), qv.alias("_qv")).withColumn(
        "_cell", F.explode(nearest_cells(cen_rows, "_qv", nprobe))
    )
    dist = F.aggregate(
        F.zip_with("_rec", "_qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # each corpus row lands in exactly one cell and a query's probe
    # cells are distinct -> each (query, neighbor) pair emitted once
    scored = (
        enc.join(F.broadcast(q), "_cell")
        .where(F.col("neighbor_id") != F.col(query_id))
        .select(query_id, "neighbor_id", dist.alias("approx_dist"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
