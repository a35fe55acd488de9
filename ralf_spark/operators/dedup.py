"""Deduplication operators — exact and MinHash/LSH near-dedup (E1/E2).

North-star LLM-pipeline operators (SURVEY.md §2.10): the reference engine
has no dedup surface (its state tables are latest-per-key upserts,
``ralf/state/table_state.py:27-43`` — a *keyed* dedup the engine already
covers with ``FeatureTable.latest()``); these operators dedup by *content*,
the shape a training-data pipeline needs.

Scale design (100 TB):

- Exact dedup is one hash aggregation on a digest of the content columns:
  map-side partial agg, a single shuffle of (digest, winner, count) —
  never of full payloads.
- Near-dedup is banded MinHash LSH: signatures are computed scan-side with
  native higher-order expressions (no Python), candidate pairs come from an
  equi-join on (band, band_key) buckets — NEVER an all-pairs cross join —
  and only candidates pay the exact-Jaccard verification. Plan contains no
  CartesianProduct (asserted in tests).
- All hashing is md5-derived (``functions/hashing.py``) so signatures are
  bit-identical in any engine — the DuckDB oracle replays the exact same
  pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ralf_spark.functions.hashing import (
    HEX_CHARS,
    default_hash_fn,
    stable_hash64,
)
from ralf_spark.functions.text import (
    distinct_shingles,
    hashed_shingles,
    tokenizer_version,
)
from ralf_spark.layout import (
    AUTO_MAINTAIN_BATCHES,
    AddFence,
    BatchStore,
    batch_tag_count,
    compact_tiered,
    folded_tags,
    recover_recording_folds,
)
from ralf_spark.operators.util import (
    attach_cached,
    ensure_parallelism,
    observed_rows,
    plan_row_estimate,
)
from ralf_spark.plans import sizing
from ralf_spark.table import FeatureTable

# ------------------------------------------------------------------ E1 exact


def exact_dedup(
    table: FeatureTable,
    on: Column | None = None,
    id_col: str | None = None,
) -> FeatureTable:
    """Exact content dedup: one surviving row id per distinct content group.

    ``on`` is the content expression (defaults to the whole row minus the id
    column is NOT the right default at scale — callers name the content
    column, e.g. ``F.col("text")``). Winner = smallest id (deterministic).
    Returns (keep_id, n_copies) per group, keyed by keep_id.

    Plan: groupBy(md5(content)) with map-side partial ``min``/``count`` —
    the only shuffled payload is the 32-char digest + two longs.
    """
    idc = id_col or table.key
    if idc is None:
        raise ValueError("exact_dedup needs an id column (table.key)")
    if on is None:
        raise ValueError("exact_dedup needs a content expression `on`")
    out = (
        table.df.groupBy(F.md5(on.cast("string")).alias("_digest"))
        .agg(
            F.min(idc).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_digest")
    )
    return FeatureTable(out, key="keep_id")


# ------------------------------------------------------------ E2 MinHash/LSH


def minhash_signature(
    text_col: Column, num_perm: int = 16, shingle_n: int = 3,
    hash_fn: str | None = None,
) -> Column:
    """MinHash signature: array of ``num_perm`` 64-bit min-hashes over the
    document's distinct word shingles.

    ``hash_fn``:

    - ``"md5"`` (default): one md5 per (shingle, permutation) — JVM-side,
      codegen-friendly, and reproducible in DuckDB (the oracle recomputes
      identical signatures). This is the oracle-checked mode.
    - ``"xxhash64"``: Spark's native xxhash — ~3× cheaper per hash, the
      production mode for runs that don't need cross-engine replay.
      Signatures are NOT comparable between modes.

    Empty shingle sets (< shingle_n tokens) yield NULL signature entries;
    such docs never collide into LSH buckets.

    ``hash_fn=None`` resolves the engine-wide mode
    (``SPARK_GRAFT_HASH_FN``, see ``functions.hashing.default_hash_fn``).
    """
    hash_fn = hash_fn or default_hash_fn()
    sh = distinct_shingles(text_col, shingle_n)
    return F.array(
        *[
            F.array_min(F.transform(sh, _perm_hash(p, hash_fn)))
            for p in range(num_perm)
        ]
    )


def _perm_hash(p: int, hash_fn: str = "md5"):
    # Closure, NOT a defaulted lambda param: pyspark binds one lambda
    # variable per signature parameter, so `lambda s, p=p` would receive the
    # array index as `p` and hash with a garbage salt.
    if hash_fn == "xxhash64":
        # Salt via concat, not seed: keeps one codegen'd expression shape.
        return lambda s: F.xxhash64(F.concat_ws("|", F.lit(f"mh{p}"), s))
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    return lambda s: stable_hash64(s, salt=f"mh{p}")


def _sig_array_sql(sh_col: str, num_perm: int, hash_fn: str) -> str:
    """ONE-expression SQL spelling of the ``num_perm`` MinHash transforms
    over a bound shingle column (r15): semantically identical to the
    ``F.array(*[F.array_min(F.transform(...)) ...])`` Column loop — the
    md5 term is :func:`stable_hash64`'s exact chain, the xxhash64 term a
    multi-arg ``xxhash64(shingle, p)`` — but parsed JVM-side in a single
    call. The Column-API loop cost ~340 ms of py4j round trips per query
    CONSTRUCTION at num_perm=16 (measured r15); the expr spelling is
    ~50 ms with a bit-identical schema and values (oracle-gated)."""
    from ralf_spark.functions.hashing import HEX_CHARS

    if hash_fn == "xxhash64":
        def term(p: int) -> str:
            return f"xxhash64(s, {p})"
    elif hash_fn == "md5":
        def term(p: int) -> str:
            return (
                f"CAST(conv(substring(md5(concat('mh{p}', '|', s)), 1, "
                f"{HEX_CHARS}), 16, 10) AS BIGINT)"
            )
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    mins = ", ".join(
        f"array_min(transform(`{sh_col}`, s -> {term(p)}))"
        for p in range(num_perm)
    )
    return f"array({mins})"


def _band_array_sql(
    sig_col: str, bands: int, rows_per_band: int, hash_fn: str
) -> str:
    """LSH band keys as ONE SQL expression over a bound signature column
    (r15; same single-parse rationale as :func:`_sig_array_sql`): split
    the signature into ``bands`` bands of ``rows_per_band`` values, each
    hashed to a bucket key (md5 → 32-char string, the oracle mode;
    xxhash64 → bigint, the production mode). Returns
    array<struct<band,key>> ready to explode."""
    entries = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(element_at(`{sig_col}`, {b * rows_per_band + r + 1})"
            " AS STRING)"
            for r in range(rows_per_band)
        )
        concat = f"concat_ws(',', {cols})"
        key = (
            f"xxhash64({concat})" if hash_fn == "xxhash64"
            else f"md5({concat})"
        )
        entries.append(f"struct({b} AS band, {key} AS key)")
    return f"array({', '.join(entries)})"


def near_dup_pairs(
    table: FeatureTable,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_fn: str | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """Banded-LSH near-duplicate pairs with exact-Jaccard verification.

    Pipeline: shingle → MinHash(num_perm) → ``bands`` bands of
    ``num_perm // bands`` rows → explode → equi-join on (band, key) with
    id1 < id2 → distinct candidate pairs → exact Jaccard over shingle sets →
    keep pairs with jaccard >= threshold.

    ``hash_fn="md5"`` (default) keeps signatures replayable in the DuckDB
    oracle; ``"xxhash64"`` is the production fast path (~2-3× cheaper —
    signature hashing dominates wall time). Candidate RECALL can differ
    between modes (different permutations); the exact-Jaccard verification
    makes precision identical.

    The verification spelling (:func:`_verify_join`) is the engine's
    choice: a corpus its parquet footers prove small broadcasts its
    shingle table with no plan-construction job; otherwise the
    Σ c·(c−1)/2 pair bound over the persisted bucket table picks the
    chained-broadcast join (corpus streams map-side; candidates must fit
    the broadcast cap) or, past the bound, the plain shuffle join, so an
    adversarial corpus (one giant dup cluster) degrades instead of failing
    at Spark's 8 GB broadcast cap. The bound is one cheap aggregation job
    at plan-construction time, which materializes the persisted
    shingle/bucket projections — work the first consumer action needed
    anyway (the persists are reused).

    Returns (id1, id2, jaccard). No cross join anywhere: candidate
    generation is a bucket equi-join, so cost is Σ bucket² not n².
    After the caller's final action, release the persisted intermediates
    with :func:`ralf_spark.operators.util.unpersist_cached`.
    """
    hash_fn = hash_fn or default_hash_fn()
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    idc = table.key
    if idc is None:
        raise ValueError("near_dup_pairs needs a keyed table")

    # Spread the (CPU-heavy) shingle+hash work across the cluster even when
    # the source is a few big files: without this, a single-file corpus
    # hashes on one core. No-op when the scan already parallelizes.
    ids = ensure_parallelism(
        table.df.select(F.col(idc).alias("_id"), F.col(text_col).alias("_text"))
    )
    # Fast mode represents the shingle set as bigints (each n-gram hashed
    # directly from its tokens — no concatenated-string shingles), so the
    # signature, bucket and Jaccard stages are all fixed-width integer
    # work. md5 mode keeps string shingles: the DuckDB oracle replays them.
    if hash_fn == "xxhash64":
        sh_expr = hashed_shingles(F.col("_text"), shingle_n, token_mode)
    else:
        sh_expr = distinct_shingles(F.col("_text"), shingle_n, token_mode)
    # The shingle projection feeds three branches (signatures + both sides
    # of the verification join); Spark does not CSE across DAG branches, so
    # without a persist each branch re-tokenizes the corpus. At cluster
    # scale the same multi-pass algorithm checkpoints this projection to
    # parquet; persist() is the single-job spelling.
    docs = (
        ids.select("_id", sh_expr.alias("_sh"))
        .where(F.size("_sh") > 0)
        .persist()
    )
    # one-expr spellings of the perm/band loops (r15): bit-identical to
    # the Column-API trees, ~7x cheaper to CONSTRUCT (py4j round trips)
    sig = docs.withColumn(
        "_sig", F.expr(_sig_array_sql("_sh", num_perm, hash_fn))
    )
    # Both sides of the candidate self-join read the bucket table; persist
    # so the num_perm MinHash transforms run once, not twice.
    buckets = (
        sig.select(
            "_id",
            F.explode(
                F.expr(_band_array_sql("_sig", bands, rows_per_band, hash_fn))
            ).alias("_b"),
        )
        .select(
            "_id",
            F.col("_b.band").alias("_band"),
            F.col("_b.key").alias("_key"),
        )
        .persist()
    )

    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    # r16 (VERDICT r15 #3): when footer metadata PROVES the corpus side
    # broadcast-safe, skip the stats job (the measured spelling's only
    # plan-construction job) and broadcast the docs side instead — the
    # candidate stream stays un-broadcast, so the safety bound is
    # corpus-proportional, not dup-structure-dependent. At 100 TB the
    # gate refuses and the measured Σ c·(c−1)/2 spelling runs
    # unchanged.
    small = sizing.provably_small(
        table.df, per_byte=sizing.shingle_expansion(shingle_n)
    )
    hint = False if small else sizing.choose_broadcast(
        lambda: _pair_bound_from_buckets(buckets, "_band", "_key")
    )

    verified = (
        _verify_join(docs, cand, hint_broadcast=hint, broadcast_docs=small)
        .select(
            "id1",
            "id2",
            (
                F.size(F.array_intersect("_sh1", "_sh2"))
                / F.size(F.array_union("_sh1", "_sh2"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        # output barrier: pairs are tiny (∝ dups) and consumers (cluster
        # closure, keep-best, the curation pipeline) reference the pair
        # set several times — without it every reference re-executes the
        # bucket join + verification chain (r8 A/B: 1.7x on consumers)
        .persist()
    )
    return attach_cached(verified, [docs, buckets, verified])


def _pair_bound_from_buckets(bucket_like: DataFrame, *group_cols: str) -> int:
    """Upper bound on distinct candidate pairs from bucket statistics:
    Σ over groups of c·(c−1)/2. One aggregation job over the (persisted)
    bucket / posting table — map-side partial counts, a single scalar out;
    no corpus re-scan. It is an upper bound because ``distinct`` collapses
    pairs colliding in several bands, and exact because of ``id1 < id2``."""
    row = (
        bucket_like.groupBy(*[F.col(c) for c in group_cols])
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            F.sum(F.col("_c") * (F.col("_c") - F.lit(1)) / F.lit(2)).alias(
                "_pairs"
            )
        )
        .first()
    )
    return int(row["_pairs"] or 0)


def _verify_join(
    docs: DataFrame,
    cand: DataFrame,
    hint_broadcast: bool = True,
    broadcast_docs: bool = False,
) -> DataFrame:
    """Shuffle-free exact-verification join (scale probe r8, SCALEPROBE.md
    finding 1): pair each candidate (id1, id2) with BOTH documents'
    shingle sets without ever shuffling the corpus-sized shingle table.
    The raw spelling joined candidates against the full ``docs``
    projection twice; once the candidate set outgrew the broadcast
    estimate the planner fell to SMJ and shuffled 2 x corpus-fat
    exchanges (48x probe: 2 x 102 MiB of 240k fat rows for 26k pairs).

    Spelling: two chained broadcast joins — broadcast the (slim)
    candidate pairs into the shingle scan on id1, then broadcast the
    HALF-JOINED result (pairs + one shingle array, ∝ candidates) into a
    second shingle scan on id2. The corpus streams map-side through both
    joins from the persisted projection; the only broadcast payloads are
    candidate-proportional, which bounded dup-cluster sizes keep ∝ dups,
    not ∝ corpus. Output: (id1, id2, _sh1, _sh2).

    Tuning history (r8 A/B, BENCH_NOTES): a broadcast-SEMI prefilter of
    the shingle table needed a SECOND execution of the candidate subtree
    for its id set (two broadcast builds -> the bucket self-join shuffle
    twice, 315 vs 171 MB/pass at 48x), and persisting ``cand`` to share
    that work froze its size estimate (InMemoryRelation), flipping the
    verify joins to SMJ at scale and adding 2.7x DRIVER-side latency on
    composed consumers at sf0.1 (jobs ~1s, wall 6.4s — analyzed-plan
    blow-up). The chained-broadcast spelling executes ``cand`` exactly
    once, embeds it once, and persists nothing.

    ``hint_broadcast=False`` (r9): the SAME join tree with no hints — the
    planner shuffles the corpus (SMJ) instead of broadcasting a candidate
    set that would blow Spark's 8 GB broadcast cap. Callers resolve the
    choice from bucket statistics via ``sizing.choose_broadcast``; output
    is identical either way (equality pinned in tests + the adversarial
    SCALEPROBE row).

    One-store-scan contract in the no-hint spelling (ADVICE r9,
    verified r10): ``sh`` appears in BOTH half-joins, but both SMJs
    shuffle it by the same ``_id``, so the planner's exchange reuse
    serves the second join from the first join's shuffle — the store
    scans and shuffles ONCE per projection (plan-pinned in
    ``tests/test_plan_budgets.py``: ReusedExchange present with AQE off;
    AQE reuses the identical shuffle stage at runtime). ``cand`` is
    referenced once in the tree and therefore executes once — no persist
    needed (and r8's A/B showed persisting it actively harms: frozen
    size estimates flip the broadcast spelling to SMJ)).

    ``broadcast_docs=True`` (r16, VERDICT r15 #3): the THIRD spelling —
    broadcast the (whole) shingle table into the candidate stream,
    chosen only when ``sizing.provably_small`` PROVED the corpus
    side small from parquet footer metadata. Its safety bound is
    corpus-proportional and data-independent (an adversarial
    all-duplicates corpus inflates the candidate STREAM, never the
    broadcast payload), which is what lets the caller skip the
    Σ c·(c−1)/2 stats job entirely: zero jobs run at plan-construction
    time. Both joins broadcast the identical subtree, so the exchange
    builds once (ReusedExchange). Output identical to both other
    spellings (inner equi-joins; pinned in tests)."""
    sh = docs.select(F.col("_id"), F.col("_sh"))
    if broadcast_docs:
        shb = F.broadcast(sh)
        half = (
            cand.join(shb, F.col("id1") == F.col("_id"))
            .select("id1", "id2", F.col("_sh").alias("_sh1"))
        )
        return (
            half.join(shb, F.col("id2") == F.col("_id"))
            .select("id1", "id2", "_sh1", F.col("_sh").alias("_sh2"))
        )
    c = F.broadcast(cand) if hint_broadcast else cand
    half = (
        c.join(sh, F.col("id1") == F.col("_id"))
        .select("id1", "id2", F.col("_sh").alias("_sh1"))
    )
    h = F.broadcast(half) if hint_broadcast else half
    return (
        h.join(sh, F.col("id2") == F.col("_id"))
        .select("id1", "id2", "_sh1", F.col("_sh").alias("_sh2"))
    )


def _inverted_candidates_verified(
    table: FeatureTable,
    text_col: str,
    max_df: int,
    shingle_n: int,
    token_mode: str,
    op_name: str,
) -> tuple[DataFrame, list]:
    """Candidate generation and verification join shared by
    :func:`jaccard_pairs_inverted` and :func:`containment_pairs`:
    (id1, id2, _sh1, _sh2) for every pair sharing a rare shingle, plus
    the persisted intermediates the caller releases."""
    idc = table.key
    if idc is None:
        raise ValueError(f"{op_name} needs a keyed table")
    ids = ensure_parallelism(
        table.df.select(F.col(idc).alias("_id"), F.col(text_col).alias("_text"))
    )
    # Persist the two multiply-referenced intermediates (shingle projection:
    # posting + both verification sides; rare posting: both self-join
    # sides) — Spark does not CSE across DAG branches, so each reference
    # would otherwise re-tokenize the corpus. Cluster-scale spelling of the
    # same multi-pass algorithm: checkpoint these to parquet.
    docs = (
        ids.select(
            "_id",
            distinct_shingles(
                F.col("_text"), shingle_n, token_mode
            ).alias("_sh"),
        )
        .where(F.size("_sh") > 0)
        .persist()
    )
    posting = docs.select("_id", F.explode("_sh").alias("_s"))
    rare = (
        posting.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("_s")
    )
    posting_r = posting.join(rare, "_s").persist()
    cached = [docs, posting_r]
    a, b = posting_r.alias("a"), posting_r.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._s") == F.col("b._s"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    # r16: footer-proved small corpus -> docs-broadcast spelling, no
    # stats job (see near_dup_pairs)
    small = sizing.provably_small(
        table.df, per_byte=sizing.shingle_expansion(shingle_n)
    )
    hint = False if small else sizing.choose_broadcast(
        lambda: _pair_bound_from_buckets(posting_r, "_s")
    )
    return (
        _verify_join(docs, cand, hint_broadcast=hint, broadcast_docs=small),
        cached,
    )


def jaccard_pairs_inverted(
    table: FeatureTable,
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int = 5,
    shingle_n: int = 3,
    token_mode: str = "ascii",
) -> DataFrame:
    """n-gram Jaccard near-dup via INVERTED-INDEX blocking — the classic
    alternative to MinHash/LSH: candidate pairs share at least one *rare*
    shingle (document frequency <= ``max_df``), then exact Jaccard filters.

    Pruning hot shingles bounds the posting self-join at Σ df² <= max_df ×
    postings — never n². Recall caveat (same class as single-probe LSH): a
    pair whose every shared shingle is hot is missed; near-dups share many
    shingles, so in practice some shared shingle is rare.

    Verification spellings as in :func:`near_dup_pairs`; the measured
    bound is Σ df·(df−1)/2 over the persisted rare-posting table.
    """
    verified, cached = _inverted_candidates_verified(
        table, text_col, max_df, shingle_n, token_mode,
        "jaccard_pairs_inverted",
    )
    out = (
        verified.select(
            "id1",
            "id2",
            (
                F.size(F.array_intersect("_sh1", "_sh2"))
                / F.size(F.array_union("_sh1", "_sh2"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .persist()  # output barrier, same rationale as near_dup_pairs
    )
    cached.append(out)
    return attach_cached(out, cached)


def jaccard_pairs_inverted_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int = 5,
    shingle_n: int = 3,
    token_mode: str = "ascii",
) -> str:
    """DuckDB oracle for :func:`jaccard_pairs_inverted`."""
    from ralf_spark.functions.text import distinct_shingles_sql, tokens_sql

    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id, {tokens_sql(text_col, token_mode)} AS w
      FROM {table}
    ),
    docs AS (
      SELECT _id, {distinct_shingles_sql('w', shingle_n)} AS sh FROM toks
    ),
    docs_ne AS (SELECT * FROM docs WHERE len(sh) > 0),
    posting AS (SELECT _id, unnest(sh) AS s FROM docs_ne),
    rare AS (SELECT s FROM posting GROUP BY s HAVING count(*) <= {max_df}),
    posting_r AS (SELECT p._id, p.s FROM posting p JOIN rare USING (s)),
    cand AS (
      SELECT DISTINCT a._id AS id1, b._id AS id2
      FROM posting_r a JOIN posting_r b
        ON a.s = b.s AND a._id < b._id
    )
    SELECT id1, id2,
           round(len(list_intersect(s1.sh, s2.sh)) /
                 len(list_distinct(list_concat(s1.sh, s2.sh))), 4) AS jaccard
    FROM cand JOIN docs_ne s1 ON id1 = s1._id
              JOIN docs_ne s2 ON id2 = s2._id
    WHERE len(list_intersect(s1.sh, s2.sh)) /
          len(list_distinct(list_concat(s1.sh, s2.sh))) >= {threshold}
    ORDER BY id1, id2
    """


def near_dup_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    token_mode: str = "ascii",
) -> str:
    """The DuckDB oracle for :func:`near_dup_pairs` — replays the identical
    shingle/MinHash/band pipeline (same md5 hashing) in SQL.
    ``token_mode="unicode"`` replays the r13 normalizing tokenizer
    (``lower(nfc_normalize(..))`` + unicode-whitespace split)."""
    from ralf_spark.functions.text import distinct_shingles_sql, tokens_sql

    rows_per_band = num_perm // bands
    hash_expr = (
        f"CAST(('0x' || substring(md5('mh{{p}}' || '|' || s), 1,"
        f" {HEX_CHARS})) AS BIGINT)"
    )
    sig_items = ", ".join(
        "list_min(list_transform(sh, s -> " + hash_expr.format(p=p) + "))"
        for p in range(num_perm)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT _id, {b} AS _band, md5("
        + " || ',' || ".join(
            f"CAST(_sig[{b * rows_per_band + r + 1}] AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + ") AS _key FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id, {tokens_sql(text_col, token_mode)} AS w
      FROM {table}
    ),
    docs AS (
      SELECT _id, {distinct_shingles_sql('w', shingle_n)} AS sh FROM toks
    ),
    docs_ne AS (SELECT * FROM docs WHERE len(sh) > 0),
    sigs AS (SELECT _id, sh, [{sig_items}] AS _sig FROM docs_ne),
    buckets AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a._id AS id1, b._id AS id2
      FROM buckets a JOIN buckets b
        ON a._band = b._band AND a._key = b._key AND a._id < b._id
    )
    SELECT id1, id2,
           round(len(list_intersect(s1.sh, s2.sh)) /
                 len(list_distinct(list_concat(s1.sh, s2.sh))), 4) AS jaccard
    FROM cand JOIN docs_ne s1 ON id1 = s1._id
              JOIN docs_ne s2 ON id2 = s2._id
    WHERE len(list_intersect(s1.sh, s2.sh)) /
          len(list_distinct(list_concat(s1.sh, s2.sh))) >= {threshold}
    ORDER BY id1, id2
    """


# ------------------------------------------------------- E2 cluster closure


def dedup_clusters(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 20,
) -> DataFrame:
    """Transitive near-dup CLUSTERS from a pair list: connected components
    by iterative min-label propagation — A~B and B~C dedup to ONE
    representative even though (A, C) was never a candidate pair. Pairwise
    output alone under-dedups chains; every production near-dedup ends
    with this closure step.

    Each iteration is one join + one hash-agg over the PAIR graph (far
    smaller than the corpus); labels converge in <= component-diameter
    rounds — near-dup clusters are short chains/cliques, so a handful.
    The driver-side loop holds only a changed-row COUNT per round (no data
    collects). For adversarial long-chain graphs the same loop slots in
    the large-star/small-star contraction (O(log n) rounds); the row
    operators are identical.

    Returns (id, cluster_rep) for every node in some pair; singletons
    never enter and need no row. Reference has no dedup surface at all
    (SURVEY §2.10); this completes E2 from pairs to usable clusters.
    """
    both = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = (
        both.unionByName(
            pairs.select(F.col(id2).alias("a"), F.col(id1).alias("b"))
        )
        .distinct()
        .persist()
    )
    # Per-iteration lineage must be SEVERED, not just cached: persist()
    # nests each round's InMemoryRelation inside the next round's plan, so
    # after k iterations the analyzed plan holds k nested copies of the
    # whole build tree (measured: >2000 scan nodes in the explain at
    # k≈8) and analyzer/optimizer time grows superlinearly with rounds.
    # localCheckpoint (eager) makes each round's labels a leaf. On a
    # cluster, flip to reliable checkpoint (spark.sparkContext.
    # setCheckpointDir + .checkpoint()) for executor-loss tolerance —
    # identical plan shape.
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels.id == nbr.a, "left")
            .select(
                labels.id.alias("id"),
                F.least(
                    labels.label, F.coalesce("nbr_min", labels.label)
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    out = labels.select(F.col("id"), F.col("label").alias("cluster_rep"))
    return attach_cached(out, [edges])


# --------------------------------------------- E2 span-level duplication
def duplicated_spans(
    docs: FeatureTable,
    n: int = 10,
    text_col: str = "text",
    hash_fn: str | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """Per-document duplicated-span statistics — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) exact-substring signal at n-gram granularity: a span
    of ``n`` consecutive tokens is *duplicated* if the identical span
    occurs >= 2 times anywhere in the corpus (any document, any position).

    Returns (doc_id, n_spans, dup_spans, dup_frac); documents shorter than
    ``n`` tokens have no spans and are absent. ``dup_frac`` is the
    memorization-risk proxy used to drop or trim repetitive documents.

    Scale: spans are hashed scan-side to 64-bit ints (md5-derived by
    default for oracle parity; ``hash_fn="xxhash64"`` is the production
    mode — same plan, JVM-native hashing, measured in BENCH_NOTES), so the
    occurrence count and the span->count join shuffle fixed-width ints,
    never the span strings. A true suffix-array dedup finds *maximal*
    duplicated substrings; fixed-n spans are the bounded-memory
    streaming-friendly approximation (same recall for duplicates >= n
    tokens).
    """
    from ralf_spark.functions.text import tokens, word_shingles

    hash_fn = hash_fn or default_hash_fn()
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    key = docs.key
    spans = ensure_parallelism(docs.df).select(
        F.col(key),
        F.explode(
            word_shingles(tokens(F.col(text_col), token_mode), n)
        ).alias("_span"),
    )
    span_hash = (
        F.xxhash64(F.col("_span"))
        if hash_fn == "xxhash64"
        else stable_hash64(F.col("_span"))
    )
    hashed = spans.select(F.col(key), span_hash.alias("_h"))
    occ = hashed.groupBy("_h").agg(F.count(F.lit(1)).alias("_occ"))
    return (
        hashed.join(occ, "_h")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_occ") >= 2).cast("long")).alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_spans") / F.col("n_spans"), 4),
        )
    )


#: assumed on-disk bytes per document for the metadata-only corpus-size
#: estimate (``plan_row_estimate``'s divisor; snappy parquet of
#: ~55-token docs lands around 150-300 B) — only the ORDER of magnitude
#: matters: the block-count crossovers sit 250x apart and the cost curve
#: is flat near them, and any choice is output-identical (candidates are
#: exact-verified).
SIMHASH_EST_DOC_BYTES = 200


def choose_simhash_blocks(
    n_docs: int, bits: int = 48, max_hamming: int = 3
) -> int:
    """Pick the SimHash block count from the corpus size (r9, VERDICT r8
    #7) using the cost model SCALEPROBE.md finding 2 measured: the
    minimum-band spelling (blocks = h+1) keys each table on bits/(h+1)
    bits, so UNRELATED fingerprints collide at n²/2^(bits/(h+1)) — a
    quadratic floor (measured ×16 candidates per ×4 docs); the Manku
    block-combination generalization pays C(blocks, h) tables of explode
    volume to key on (blocks−h)/blocks × bits bits. Chosen blocks =
    argmin over b of  C(b,h)·n  +  n²/2^(bits·(b−h)/b)  — table volume
    plus the random-collision candidate floor, the two measured terms.
    At bits=48/h=3 this keeps b = h+1 = 4 through ~2.5·10⁴ docs and
    steps up as the floor starts to dominate: 5·10³→4, 10⁵→5, 10⁶→5,
    10⁷→6, 10⁸→6 (crossovers 4→5 at ~2.5·10⁴, 5→6 at ~6.2·10⁶ — inside
    the probe's empirically bracketed 10⁵–10⁶-scale crossover REGION for
    4→more; the model steps earlier than the measured 6-block A/B
    because 5 blocks, which the probe didn't run, already buys 19-bit
    keys for 2.5× the tables). Pinned in tests."""
    import math as _math

    h = max_hamming
    best_b, best_cost = h + 1, None
    for b in range(h + 1, min(bits, 16) + 1):
        cost = _math.comb(b, h) * n_docs + (
            n_docs * n_docs / 2 ** (bits * (b - h) / b)
        )
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    return best_b


def simhash_near_dup_pairs(
    table: FeatureTable,
    text_col: str = "text",
    bits: int = 48,
    max_hamming: int = 3,
    shingle_n: int = 3,
    hash_fn: str | None = None,
    blocks: int | None = None,
    n_docs: int | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """SimHash near-dup PAIRS via Hamming-pigeonhole banding — the
    web-crawl dedup of Manku, Jain & Das Sarma, "Detecting Near-Duplicates
    for Web Crawling" (WWW'07): split the ``bits``-bit fingerprint into
    ``max_hamming + 1`` contiguous bands; any pair within Hamming distance
    ``max_hamming`` must agree EXACTLY on at least one band (pigeonhole),
    so candidates come from an equi-join on (band, band_value) and only
    candidates pay the popcount verification. Returns (id1, id2, hamming)
    with id1 < id2.

    Complements MinHash/LSH: one 64-bit word per document instead of a
    num_perm-long signature — the cheaper index for when a single global
    similarity knob (Hamming radius) suffices. Scale: fingerprints are
    computed scan-side (hash-once ``add_simhash``); the only shuffles are
    the band-bucket equi-join and the pair distinct — never an all-pairs
    join (the registry-wide plan net asserts no CartesianProduct).
    Zero fingerprints (empty/short docs) are excluded — they are
    "no content", not mutual near-dups.

    ``blocks`` (default: AUTO from the corpus count — r9) is the scale
    knob the 48x probe motivated (SCALEPROBE.md): with the minimum block
    count, each
    table is keyed on only ``bits/(h+1)`` bits (12 at the defaults), so
    UNRELATED fingerprints collide at rate n²/2^12 — an intrinsic
    quadratic candidate floor that dominated the probe's largest scale
    point. Manku §3's generalization: split into ``blocks`` > h+1
    blocks and build one table per (blocks−h)-subset, keyed on the
    CONCATENATION of those blocks — any pair within Hamming distance h
    still agrees exactly on some subset (pigeonhole over the ≤h damaged
    blocks), but the key now carries ``(blocks−h)/blocks × bits`` bits,
    pushing random collisions out by orders of magnitude. Cost:
    C(blocks, h) tables instead of h+1 (explode volume × C/h+1); at
    e.g. bits=60, h=3, blocks=8 that is 56 tables keyed on ~37 bits —
    the right trade once n² / 2^(bits/(h+1)) outgrows C(blocks,h)·n.
    Output is IDENTICAL for any valid ``blocks`` (candidates are always
    verified by exact popcount; the knob only changes candidate count).

    ``blocks=None`` resolves via :func:`choose_simhash_blocks` from
    ``n_docs`` when passed (a catalog/planning estimate — order of
    magnitude suffices, the cost curve is flat near the optimum), else
    from a METADATA-ONLY estimate (optimizer rowCount, or plan
    sizeInBytes / ~200 B per doc — ADVICE r9: no job at plan-build), and
    only as a last resort (size unknown to the optimizer) one EAGER
    ``count()`` of the source — a scan at plan-CONSTRUCTION time, paid
    even if the returned plan is never executed; hot-path callers should
    pass ``n_docs`` or pin ``blocks`` (the gates pin 4). Any resolution
    is output-identical — the knob moves only candidate volume.
    Crossover table at bits=48/h=3: ≤2.5·10⁴ docs → 4 (the minimum-band
    spelling), →5 from there, →6 past ~6.2·10⁶.
    """
    import itertools

    from ralf_spark.operators.text_analysis import simhash_fingerprints_agg

    if not 0 < bits <= 60:
        raise ValueError("bits must be in (0, 60] (stable_hash64 width)")
    bands = max_hamming + 1
    if blocks is None:
        n = n_docs if n_docs is not None else plan_row_estimate(
            table.df, est_row_bytes=SIMHASH_EST_DOC_BYTES
        )
        if n < 0:
            n = table.df.count()  # documented last resort: one eager scan
        blocks = choose_simhash_blocks(n, bits, max_hamming)
    if blocks < bands:
        raise ValueError(
            f"blocks must be >= max_hamming + 1 = {bands} (pigeonhole "
            "needs at least one undamaged block per table key)"
        )
    if blocks > bits:
        raise ValueError("blocks must be <= bits (each block needs a bit)")
    idc = table.key
    if idc is None:
        raise ValueError("simhash_near_dup_pairs needs a keyed table")
    ids = ensure_parallelism(
        table.df.select(
            F.col(idc).alias("_id"), F.col(text_col).alias("_text")
        )
    )
    # Wide fingerprints use the codegen'd aggregate spelling — the per-row
    # higher-order vote loop (add_simhash) is interpreted per element and
    # costs bits × shingles lambda evaluations per doc (~50× slower at 48
    # bits, BENCH_NOTES r5). persist() is load-bearing on top: the
    # fingerprint plan is referenced by the band explode AND both
    # verify-join sides; without the barrier it re-evaluates in each
    # (winnowing blowup class, BENCH_NOTES r3). Cluster spelling:
    # checkpoint the fingerprint table to parquet. Released via
    # unpersist_cached after the caller's action.
    fp = (
        simhash_fingerprints_agg(
            ids, id_col="_id", text_col="_text",
            bits=bits, shingle_n=shingle_n, hash_fn=hash_fn,
        )
        .select("_id", F.col("fp").alias("_fp"))
        .where(F.col("_fp") != 0)
        .persist()
    )
    base, rem = divmod(bits, blocks)
    widths = [base + (1 if i < rem else 0) for i in range(blocks)]
    offsets = [sum(widths[:i]) for i in range(blocks)]
    combos = list(itertools.combinations(range(blocks), blocks - max_hamming))

    def _combo_key(combo: tuple[int, ...]):
        # concatenate the chosen blocks' values into ONE long (total
        # selected width <= bits <= 60, so it always fits)
        key = F.lit(0).cast("long")
        shift = 0
        for i in combo:
            block = F.shiftright("_fp", offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )
            key = key.bitwiseOR(F.shiftleft(block, shift))
            shift += widths[i]
        return key

    entries = [
        F.struct(
            F.lit(t).alias("band"),
            _combo_key(combo).alias("key"),
        )
        for t, combo in enumerate(combos)
    ]
    buckets = fp.select(
        "_id", F.explode(F.array(*entries)).alias("_b")
    ).select(
        "_id", F.col("_b.band").alias("_band"), F.col("_b.key").alias("_key")
    )
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    f1 = fp.select(F.col("_id").alias("id1"), F.col("_fp").alias("_fp1"))
    f2 = fp.select(F.col("_id").alias("id2"), F.col("_fp").alias("_fp2"))
    out = (
        cand.join(f1, "id1")
        .join(f2, "id2")
        .withColumn(
            "hamming", F.bit_count(F.expr("_fp1 ^ _fp2")).cast("int")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
    return attach_cached(out, [fp])


def simhash_pairs_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    max_hamming: int = 3,
    shingle_n: int = 3,
    token_mode: str = "ascii",
) -> str:
    """DuckDB replay of :func:`simhash_near_dup_pairs`: same fingerprint
    bits (md5-derived votes), same band split, same pigeonhole join, same
    popcount threshold."""
    from ralf_spark.functions.text import distinct_shingles_sql, tokens_sql
    from ralf_spark.operators.text_analysis import simhash_fingerprint_sql

    bands = max_hamming + 1
    base, rem = divmod(bits, bands)
    widths = [base + (1 if i < rem else 0) for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    band_rows = " UNION ALL ".join(
        f"SELECT _id, {i} AS band, (fp >> {offsets[i]}) &"
        f" {(1 << widths[i]) - 1} AS key FROM fpz"
        for i in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id, {tokens_sql(text_col, token_mode)} AS w
      FROM {table}
    ),
    shs AS (
      SELECT _id, {distinct_shingles_sql('w', shingle_n)} AS sh FROM toks
    ),
    fp AS (
      SELECT _id, {simhash_fingerprint_sql('sh', bits)} AS fp FROM shs
    ),
    fpz AS (SELECT * FROM fp WHERE fp <> 0),
    bk AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a._id AS id1, b._id AS id2
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.key = b.key AND a._id < b._id
    )
    SELECT id1, id2,
           CAST(bit_count(xor(f1.fp, f2.fp)) AS INTEGER) AS hamming
    FROM cand JOIN fpz f1 ON id1 = f1._id
              JOIN fpz f2 ON id2 = f2._id
    WHERE bit_count(xor(f1.fp, f2.fp)) <= {max_hamming}
    ORDER BY id1, id2
    """


# ------------------------------------------- E2 asymmetric containment
def containment_pairs(
    table: FeatureTable,
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int = 5,
    shingle_n: int = 3,
    token_mode: str = "ascii",
) -> DataFrame:
    """Directed n-gram CONTAINMENT near-dup pairs: C(A→B) = |A∩B| / |A|.

    Jaccard misses the quote/excerpt case — a short document wholly
    contained in a long one has tiny Jaccard but containment ≈ 1. Returns
    (src_id, dst_id, containment) for every ordered pair with
    containment >= threshold (both directions of a candidate pair are
    scored; a symmetric near-dup simply yields two rows).

    Candidate generation and the Σdf²-bounded cost model are identical to
    :func:`jaccard_pairs_inverted` (rare-shingle inverted index, hot
    shingles pruned); only the verification ratio differs — the denominator
    is the SOURCE's shingle set, not the union.
    """
    verified, cached = _inverted_candidates_verified(
        table, text_col, max_df, shingle_n, token_mode, "containment_pairs",
    )
    scored = (
        verified.select(
            "id1",
            "id2",
            F.size(F.array_intersect("_sh1", "_sh2")).alias("_i"),
            F.size("_sh1").alias("_n1"),
            F.size("_sh2").alias("_n2"),
        )
    )
    fwd = scored.select(
        F.col("id1").alias("src_id"),
        F.col("id2").alias("dst_id"),
        (F.col("_i") / F.col("_n1")).alias("containment"),
    )
    rev = scored.select(
        F.col("id2").alias("src_id"),
        F.col("id1").alias("dst_id"),
        (F.col("_i") / F.col("_n2")).alias("containment"),
    )
    out = fwd.unionByName(rev).where(
        F.col("containment") >= threshold
    ).persist()  # output barrier, same rationale as near_dup_pairs
    cached.append(out)
    return attach_cached(out, cached)


def containment_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int = 5,
    shingle_n: int = 3,
) -> str:
    """DuckDB replay of :func:`containment_pairs` (same blocking, same
    ratio, rounded to 4 for the value-hash gate)."""
    from ralf_spark.functions.text import distinct_shingles_sql, tokens_sql

    return f"""
    WITH docs AS (
      SELECT {id_col} AS id, sh FROM (
        SELECT {id_col},
               {distinct_shingles_sql('w', shingle_n)} AS sh
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS w FROM {table})
      ) WHERE len(sh) > 0
    ),
    posting AS (SELECT id, unnest(sh) AS s FROM docs),
    rare AS (
      SELECT s FROM posting GROUP BY s HAVING count(*) <= {max_df}
    ),
    pr AS (SELECT id, s FROM posting JOIN rare USING (s)),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM pr a JOIN pr b ON a.s = b.s AND a.id < b.id
    ),
    scored AS (
      SELECT id1, id2,
             len(list_intersect(d1.sh, d2.sh)) AS i,
             len(d1.sh) AS n1, len(d2.sh) AS n2
      FROM cand
      JOIN docs d1 ON cand.id1 = d1.id
      JOIN docs d2 ON cand.id2 = d2.id
    ),
    directed AS (
      SELECT id1 AS src_id, id2 AS dst_id, i / CAST(n1 AS DOUBLE) AS c
      FROM scored
      UNION ALL
      SELECT id2 AS src_id, id1 AS dst_id, i / CAST(n2 AS DOUBLE) AS c
      FROM scored
    )
    SELECT src_id, dst_id, round(c, 4) AS containment
    FROM directed WHERE c >= {threshold}
    ORDER BY src_id, dst_id
    """


def dedup_keep_best(
    docs: FeatureTable,
    pairs: DataFrame,
    quality_col: str,
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Cluster-aware dedup SELECTION: close the near-dup pair list into
    connected components (:func:`dedup_clusters`), then inside every
    cluster keep exactly the highest-``quality_col`` document (ties →
    lowest id). Singleton documents (in no pair) are their own cluster
    and always kept — so the output covers the WHOLE corpus:
    (id, cluster_rep, quality, kept).

    This is the policy step every production dedup ends with — "which
    copy survives" — and the reason pairwise output alone is not a
    dedup: keeping per-pair winners under-deletes chains and can keep
    two transitive duplicates. Cost: the component closure runs on the
    pair graph (tiny vs corpus); the final rank is one window over rows
    that are in clusters, plus a broadcast-able join of cluster labels
    back onto the corpus scan.
    """
    idc = docs.key
    labels = dedup_clusters(pairs, id1=id1, id2=id2)
    base = docs.df.select(
        F.col(idc).alias("id"), F.col(quality_col).alias("quality")
    )
    joined = base.join(labels, "id", "left").withColumn(
        "cluster_rep", F.coalesce(F.col("cluster_rep"), F.col("id"))
    )
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("quality").desc(), F.col("id")
    )
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .withColumn("kept", F.col("_rk") == 1)
        .drop("_rk")
    )


# ------------------------------------------- E2 incremental index maintenance


class MinHashIndex:
    """Persistent banded-LSH dedup index, maintained INCREMENTALLY — the
    crawl-loop shape of production near-dedup: each new batch is checked
    against everything indexed so far and then folded into the index,
    without ever recomputing the corpus.

    State at ``path`` (plain parquet; Delta/Iceberg appends on a lakehouse):

    - ``buckets/_batch=<tag>/`` ``(_id, _band, _key)`` — LSH bucket
      membership;
    - ``sigs/_batch=<tag>/``    ``(_id, _sig array<bigint>)`` — MinHash
      signatures.

    Every write lands in its own ``_batch`` partition directory via DYNAMIC
    partition overwrite, so re-running a batch with the same ``batch_tag``
    REPLACES its partition instead of appending a duplicate — the index
    fold is idempotent under micro-batch replay without any side-channel
    marker (ADVICE r4). Reads list the data files explicitly first
    (``_list_parquet_files``), so the returned pair plan is pinned to the
    pre-add snapshot regardless of listing-cache behavior, REFRESH, or a
    catalog-table re-resolution.

    ``add(batch)`` hashes ONLY the batch, equi-joins the batch's buckets
    against stored ∪ batch buckets (Σ bucket², never corpus × batch), and
    folds the batch into the store. Cost per crawl round is O(|batch|)
    hashing + one bucket join — at 100 TB the stored bucket table is
    bucketed-by-key on disk (``layout.materialize_bucketed``) so the join
    needs no shuffle of the stored side.

    Maintenance is AUTOMATIC by default (r11, VERDICT r10 #1): every
    ``add()`` first checks one driver-side tag listing and runs
    :meth:`maintain` once more than ``auto_maintain`` batch partitions
    have accumulated — a ~50-batch crawl loop with zero manual calls
    holds per-add cost flat (the lifecycle probe measures it), where the
    uncompacted feed was O(batches) per add (SCALEPROBE finding 16).

    Returned pairs carry the MinHash ESTIMATE of Jaccard (fraction of
    agreeing signature positions): the index deliberately does not store
    texts, so exact shingle verification is a caller-side join against the
    corpus (what :func:`near_dup_pairs` does in its single-batch form).
    The reference has no dedup surface (SURVEY §2.10); this extends E2 to
    the incremental-maintenance regime its feature tables live in.
    """

    def __init__(
        self,
        path: str,
        num_perm: int = 16,
        bands: int = 8,
        shingle_n: int = 3,
        hash_fn: str | None = None,
        auto_maintain: int | None = None,
        token_mode: str = "ascii",
        concurrent_adds: bool = False,
    ):
        if num_perm % bands:
            raise ValueError("num_perm must be divisible by bands")
        tokenizer_version(token_mode)  # validate early (raises on unknown)
        self.path = path
        self.num_perm = num_perm
        self.bands = bands
        self.rows_per_band = num_perm // bands
        self.shingle_n = shingle_n
        self.hash_fn = hash_fn or default_hash_fn()
        #: tokenizer contract (r13): "unicode" normalizes (NFC + simple
        #: lowercase) and splits on unicode whitespace before shingling;
        #: pinned into _meta via its version string, so a handle in the
        #: other mode fails loudly instead of reporting zero duplicates
        self.token_mode = token_mode
        if auto_maintain is None:
            auto_maintain = AUTO_MAINTAIN_BATCHES
        #: auto-maintenance cadence (r11, VERDICT r10 #1): ``add()``
        #: self-compacts via :meth:`maintain` once more than this many
        #: batch partitions exist (checked BEFORE the add's snapshot, so
        #: the returned pair plan always reads post-compaction files and
        #: the newest — possibly in-flight-replay — tag survives via
        #: keep_last=1). 0 disables; a crawl loop then owns the cadence.
        self.auto_maintain = auto_maintain
        #: r14 multi-writer ingest — same contract as
        #: ``GramIndex.concurrent_adds``: tag-scoped add leases, root
        #: lease reserved for build/maintain (which refuse under
        #: in-flight adds and release the root on completion). The
        #: bucket/signature union is commutative, so the folded store is
        #: serialization-independent; each add's RETURNED pairs reflect
        #: whatever subset of concurrent peers' folds its frozen
        #: snapshot saw (cross-pairs between two in-flight batches
        #: surface in the next add/check against the settled store).
        self.concurrent_adds = concurrent_adds

    @property
    def _store(self) -> BatchStore:
        """The store protocol at ``path`` (leases, fenced publish, epoch)
        with the hashing-config pin: signatures hashed under another
        mode/shape/tokenizer produce ZERO bucket collisions."""
        return BatchStore(
            self.path, self.concurrent_adds, "MinHashIndex",
            pin={
                "hash_fn": self.hash_fn, "num_perm": self.num_perm,
                "bands": self.bands, "shingle_n": self.shingle_n,
                "tokenizer": tokenizer_version(self.token_mode),
            },
            pin_schema="hash_fn string, num_perm int, bands int, "
            "shingle_n int, tokenizer string",
        )

    # ------------------------------------------------------------ internals
    def _project(self, table: FeatureTable, text_col: str, count_obs=None):
        """(sigs, buckets) DataFrames for a batch — same pipeline as
        near_dup_pairs (shared helpers, identical hashing).

        ``count_obs`` (r16, VERDICT r15 #1/#3 job consolidation): an
        optional :class:`pyspark.sql.Observation` attached to the sigs
        subtree (below the caller's persist, ABOVE the bucket branch so
        both projections share one analyzed subtree and the bucket cache
        still resolves to the sigs cache). Whatever job first
        materializes the sigs cache — in auto mode the bucket-stats
        bound job — fires it, so callers read the batch row count
        without a separate count job."""
        idc = table.key
        if idc is None:
            raise ValueError("MinHashIndex needs a keyed table")
        ids = ensure_parallelism(
            table.df.select(
                F.col(idc).alias("_id"), F.col(text_col).alias("_text")
            )
        )
        sh_expr = (
            hashed_shingles(F.col("_text"), self.shingle_n, self.token_mode)
            if self.hash_fn == "xxhash64"
            else distinct_shingles(
                F.col("_text"), self.shingle_n, self.token_mode
            )
        )
        # one-expr spellings of the perm/band loops (r15): bit-identical
        # to the Column-API trees, ~7x cheaper to CONSTRUCT per batch
        sigs = (
            ids.select("_id", sh_expr.alias("_sh"))
            .where(F.size("_sh") > 0)
            .select(
                "_id",
                F.expr(
                    _sig_array_sql("_sh", self.num_perm, self.hash_fn)
                ).alias("_sig"),
            )
        )
        if count_obs is not None:
            sigs = sigs.observe(
                count_obs, F.count(F.lit(1)).alias("rows")
            )
        buckets = sigs.select(
            "_id",
            F.explode(
                F.expr(
                    _band_array_sql(
                        "_sig", self.bands, self.rows_per_band, self.hash_fn
                    )
                )
            ).alias("_b"),
        ).select(
            "_id",
            F.col("_b.band").alias("_band"),
            F.col("_b.key").cast("string").alias("_key"),
        )
        return sigs, buckets

    #: target rows per file of a batch write: ~40 MB signature files
    #: (id + num_perm longs ≈ 160 B/row) resp. ~60 MB bucket files
    #: (≈ 60 B/row). Keyed by projection name.
    _ROWS_PER_FILE = {"sigs": 250_000, "buckets": 1_000_000}

    def _write(
        self,
        df: DataFrame,
        sub: str,
        tag: str,
        rows: int | None = None,
        fence: AddFence = AddFence(),
    ) -> None:
        """Fold a projection into its ``_batch=<tag>`` partition
        (:meth:`BatchStore.publish`: dynamic overwrite, fenced).

        ``rows`` (r11, the lifecycle probe's file-amplification fix):
        the projection's known row count sizes the file count — a plain
        write otherwise emits one file per shuffle partition, so a small
        crawl batch left 32+ near-empty files per projection per add and
        every later scoring scan paid the per-file open cost (the same
        task×cell disease ``IvfIndex._write_cells`` fixed in r10).
        ``coalesce`` (no shuffle) is safe here because ``add()``/`
        `build()`` materialize the persisted projection FIRST — the
        hash pipeline keeps its full parallelism, only the cached rows
        funnel into the writers."""
        out = df
        if rows is not None:
            # coalesce never INCREASES partition count, so no .rdd
            # partition probe guards it (the probe forced a full physical
            # translation on the driver per write — r16)
            out = df.coalesce(max(1, -(-rows // self._ROWS_PER_FILE[sub])))
        self._store.publish(out, sub, tag, fence)

    @staticmethod
    def _est_jaccard(s1: Column, s2: Column, num_perm: int) -> Column:
        agree = F.size(
            F.filter(F.zip_with(s1, s2, lambda a, b: a == b), lambda x: x)
        )
        return F.round(agree / F.lit(float(num_perm)), 4)

    # ------------------------------------------------------------- lifecycle
    def build(self, table: FeatureTable, text_col: str = "text") -> None:
        """Full (re)build: index every document of ``table``."""
        from ralf_spark.connectors import _hadoop_fs

        sigs, buckets = self._project(table, text_col)
        # persist the signature projection: buckets derive from it, and
        # the two writes below would otherwise each re-run the full
        # shingle + num_perm-permutation hash pipeline (r7: warm build
        # 10.9s -> 5.8s at sf0.1; the cold pass is dominated by plan
        # compile of the wide permutation expressions, so the bench
        # single-pass moves less — the same persist add() always had;
        # cluster spelling = checkpoint the signatures to parquet, which
        # the sigs write IS, so the cache only bridges the two writes of
        # one job)
        sigs = sigs.persist()
        spark = table.df.sparkSession
        store = self._store
        with store.exclusive(spark) as op:
            # a rebuild must not inherit stale batch partitions
            fs, jpath = _hadoop_fs(spark, self.path)
            if fs.exists(jpath):
                fs.delete(jpath, True)
            store.pin_meta(spark)
            try:
                n = sigs.count()  # materializes the cache; sizes the files
                self._write(sigs, "sigs", "base", rows=n)
                self._write(buckets, "buckets", "base", rows=n * self.bands)
            finally:
                sigs.unpersist()
            op.rewritten = True

    def maintain(
        self,
        spark,
        keep_last: int = 1,
        target_file_bytes: int = 128 * 1024 * 1024,
        tiered: bool = True,
    ) -> dict:
        """Compact the per-batch partition accretion (r10, VERDICT r9 #4):
        every ``add()`` appends one ``_batch=<tag>`` directory to each
        projection, so after 10³–10⁴ crawl batches add/query cost is
        dominated by O(batches) listing and per-batch small files — the
        exact disease ``layout.compact`` cures for plain tables, applied
        here to the index lifecycle. Folds all but the newest
        ``keep_last`` batch partitions of ``sigs/`` and ``buckets/`` into
        one compacted partition each (``layout.compact_batch_partitions``
        — manifest-transactional, so a crash mid-compaction never leaves
        duplicate rows; interrupted attempts finish or roll back on the
        next call). Row content is untouched: every pair query reads the
        same (_id, _sig)/(_id, _band, _key) rows afterwards (pinned by
        test and by the incremental-index oracle gate).

        Run BETWEEN adds (single-writer, same as the index itself);
        ``keep_last >= 1`` keeps the newest tag replayable for an
        in-flight micro-batch retry. Returns per-projection summaries.

        ``tiered`` (default, r11): fold only RAW batch tags, leaving
        prior compacted partitions alone until
        :data:`~ralf_spark.layout.COMPACTED_TIER_LIMIT` of them exist —
        then one full fold. For a GROWING index this cuts the cadence's
        write amplification ~8× (the full-store rewrite happens every
        ~threshold × tier_limit batches, not every threshold);
        ``tiered=False`` forces the pre-r11 full fold."""
        # root lease first (r12 review): contend with add()/build() on
        # the store root, not only per-subtree inside the compaction
        with self._store.exclusive(spark) as op:
            out = {
                sub: compact_tiered(
                    spark, f"{self.path}/{sub}", keep_last=keep_last,
                    tiered=tiered, target_file_bytes=target_file_bytes,
                )
                for sub in ("sigs", "buckets")
            }
            op.rewritten = any(out.values())
        return out

    def add(
        self,
        table: FeatureTable,
        text_col: str = "text",
        threshold: float = 0.5,
        batch_tag: str | None = None,
        writer_id: str | None = None,
    ) -> DataFrame:
        """Dedup-check ``table`` against the index AND itself, then fold it
        in. Returns (id1, id2, est_jaccard) with id1 < id2, covering every
        near-dup pair that touches the new batch.

        ``batch_tag`` names the batch's partition in the store: re-running
        ``add`` with the same tag (a micro-batch replay after failure)
        REPLACES the batch's rows instead of duplicating them. Unnamed
        batches get a unique tag (plain append semantics).

        Scoring spellings: see :meth:`_scored_pairs`. Past the size gate
        the measured spelling bounds the candidate pairs by Σₖ nₖ·aₖ —
        per-(band,key) counts of the new batch's buckets (tiny,
        broadcast) summed against one pass over the stored∪new bucket
        table. That pass costs one extra store scan per add; the scoring
        join already scans the store once, so the per-batch contract
        stays O(store-scan), and SCALEPROBE re-measures the flat exponent.

        CONCURRENT mode (r14 — ``concurrent_adds=True``): tag-scoped
        lease instead of the root, auto-maintenance skipped (the
        coordinator owns the cadence); see ``GramIndex.add``."""
        import uuid

        from pyspark.sql import Observation

        spark = table.df.sparkSession
        store = self._store
        tag = batch_tag if batch_tag is not None else f"u{uuid.uuid4().hex}"
        with store.add_session(spark, tag, writer_id) as fence:
            store.pin_meta(spark)
            if self.auto_maintain and not self.concurrent_adds:
                # cadence check BEFORE the snapshot: compaction here
                # can never invalidate the pair plan this call returns,
                # and the newest existing tag (the only one an in-flight
                # replay can target) survives keep_last=1
                if (
                    batch_tag_count(spark, f"{self.path}/buckets")
                    > self.auto_maintain
                ):
                    self.maintain(spark)
            sigs_obs = Observation()
            new_sigs, new_buckets = self._project(
                table, text_col, count_obs=sigs_obs
            )
            new_sigs = new_sigs.persist()
            new_buckets = new_buckets.persist()
            stored_b = store.snapshot(spark, "buckets", exclude_tag=tag)
            stored_s, sigs_sized = store.sized_snapshot(
                spark, "sigs", exclude_tag=tag
            )
            all_b = (
                stored_b.unionByName(new_buckets)
                if stored_b is not None
                else new_buckets
            )
            all_s = (
                stored_s.unionByName(new_sigs)
                if stored_s is not None
                else new_sigs
            )
            pairs, small = self._scored_pairs(
                table, new_buckets, all_b, all_s, sigs_sized, threshold
            )
            out = attach_cached(pairs, [new_sigs, new_buckets])
            # Fold the batch in AFTER the candidate join is defined: the
            # writes below execute eagerly, but the returned plan reads
            # the persisted batch projections plus an explicit pre-add
            # file snapshot of the store, so it can never observe its own
            # append.
            #
            # File-sizing rows (r16, VERDICT r15 #3): in the measured
            # spelling the bucket-stats bound job above already
            # materialized both caches, firing the _project observation —
            # read it instead of paying a second count job per add.
            # Small-shortcut adds (no stats job) keep the count, which
            # doubles as the cache materialization.
            if small:
                n = new_sigs.count()  # materializes the cache; sizes files
            else:
                n = observed_rows(sigs_obs, new_sigs)
            self._write(new_sigs, "sigs", tag, rows=n, fence=fence)
            self._write(
                new_buckets, "buckets", tag, rows=n * self.bands, fence=fence
            )
            return out

    def check(
        self,
        table: FeatureTable,
        text_col: str = "text",
        threshold: float = 0.5,
        within_batch: bool = False,
    ) -> DataFrame:
        """READ-ONLY near-dup check against the store — nothing is
        folded in (r13): the serving/decontamination spelling of
        :meth:`add`, completing the symmetry with ``GramIndex.check``
        (r12). Use it to answer "is this incoming document a near-dup
        of the corpus?" without mutating the index: no writer lease
        (concurrent readers are always safe), and the meta pin is
        VERIFIED, never written (a reader must not stamp its config
        onto a store it never built).

        ``within_batch=False`` (default) returns only CROSS pairs — one
        id from the batch, one from the store (a batch screened against
        a fixed corpus: its own internal repeats don't count);
        ``True`` adds the batch's self-pairs (the :meth:`add` detection
        without the fold). Same scoring spellings as :meth:`add`.

        Returns (id1, id2, est_jaccard) with id1 < id2."""
        spark = table.df.sparkSession
        store = self._store
        store.pin_meta(spark, write_if_missing=False)
        stored_b = store.snapshot(spark, "buckets")
        stored_s, sigs_sized = store.sized_snapshot(spark, "sigs")
        if stored_b is None or stored_s is None:
            raise ValueError(f"MinHashIndex at {self.path} is empty")
        new_sigs, new_buckets = self._project(table, text_col)
        new_sigs = new_sigs.persist()
        new_buckets = new_buckets.persist()
        other_b = (
            stored_b.unionByName(new_buckets)
            if within_batch
            else stored_b
        )
        all_s = stored_s.unionByName(new_sigs)
        pairs, _ = self._scored_pairs(
            table, new_buckets, other_b, all_s, sigs_sized, threshold
        )
        return attach_cached(pairs, [new_sigs, new_buckets])

    def _scored_pairs(
        self,
        table: FeatureTable,
        new_buckets: DataFrame,
        other_b: DataFrame,
        all_s: DataFrame,
        sigs_sized: list[tuple[str, int]],
        threshold: float,
    ) -> tuple[DataFrame, bool]:
        """Candidate join, spelling choice and scoring shared by
        :meth:`add` and :meth:`check`: the batch buckets joined against
        ``other_b``, scored against ``all_s``, the batch's signatures
        over the stored ones whose sized listing is ``sigs_sized``.
        Returns (pairs, small).

        ``small`` (r16, VERDICT r15 #3 class): the size gate PROVED both
        broadcast sides small — the batch (its bucket and signature rows
        scale with row count, not text bytes) and the stored signature
        table — so the signature table broadcasts into the candidate
        stream and no plan-construction job runs (the Σₖ nₖ·aₖ stats
        action alone spanned ~6 AQE jobs per call). Past the gate the
        measured chained-broadcast/shuffle decision runs (the 100 TB
        regime: the store side never broadcasts)."""
        spark = table.df.sparkSession
        x = sizing.EXPANSION
        small = sizing.provably_small(
            table.df,
            per_byte=sizing.shingle_expansion(self.shingle_n),
            per_row=max(
                self.num_perm * x["sig_perm"] + x["sig_frame"],
                self.bands * x["bucket_row"],
            ),
        ) and sizing.provably_small(
            sigs_sized, spark, per_byte=x["stored_sig"]
        )
        cand = (
            # batch side provably small under the shortcut: hint it so
            # the bucket join never falls to a frozen-estimate SMJ
            (F.broadcast(new_buckets) if small else new_buckets).alias("n")
            .join(
                other_b.alias("o"),
                (F.col("n._band") == F.col("o._band"))
                & (F.col("n._key") == F.col("o._key"))
                & (F.col("n._id") != F.col("o._id")),
            )
            .select(
                F.least("n._id", "o._id").alias("id1"),
                F.greatest("n._id", "o._id").alias("id2"),
            )
            .distinct()
        )

        def pair_bound() -> int:
            # Σₖ nₖ·aₖ: per-key counts of the NEW buckets (batch-sized,
            # persisted → cheap, broadcast) against one streaming pass
            # over the other buckets; each matching row contributes its
            # key's new-count. Upper-bounds |cand| (includes self matches
            # and double-counts the within-batch n² pairs).
            new_counts = new_buckets.groupBy("_band", "_key").agg(
                F.count(F.lit(1)).alias("_nc")
            )
            row = (
                other_b.join(F.broadcast(new_counts), ["_band", "_key"])
                .select(F.sum("_nc").alias("_pairs"))
                .first()
            )
            return int(row["_pairs"] or 0)

        hint = False if small else sizing.choose_broadcast(pair_bound)
        # Exact-estimate scoring, three spellings with identical output
        # (r16): the PROVED-small signature table broadcast into the
        # candidate stream (store-proportional bound, no stats job); or
        # chained-broadcast verification (r8, same shape as
        # dedup._verify_join): candidates ∝ batch dups broadcast into the
        # signature scans, so the stored (corpus-sized) signature table
        # never shuffles for scoring — it streams map-side through two
        # BHJs from its parquet snapshot; or (r9) plain joins when the
        # bucket-stats bound says candidates would blow the broadcast cap.
        s1 = all_s.select(
            F.col("_id").alias("id1"), F.col("_sig").alias("_sig1")
        )
        s2 = all_s.select(
            F.col("_id").alias("id2"), F.col("_sig").alias("_sig2")
        )
        if small:
            half = cand.join(F.broadcast(s1), "id1").select(
                "id1", "id2", "_sig1"
            )
            scored = half.join(F.broadcast(s2), "id2")
        else:
            half = (
                (F.broadcast(cand) if hint else cand)
                .join(s1, "id1")
                .select("id1", "id2", "_sig1")
            )
            scored = (F.broadcast(half) if hint else half).join(s2, "id2")
        pairs = scored.select(
            "id1",
            "id2",
            self._est_jaccard(
                F.col("_sig1"), F.col("_sig2"), self.num_perm
            ).alias("est_jaccard"),
        ).where(F.col("est_jaccard") >= threshold)
        return pairs, small


def incremental_minhash_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    new_pred: str = "_id % 2 = 1",
    token_mode: str = "ascii",
    cross_only: bool = False,
) -> str:
    """DuckDB oracle for the :class:`MinHashIndex` build+add round: batch
    LSH over the WHOLE corpus, restricted to candidate pairs touching the
    "new" half (``new_pred``), scored by the signature-agreement Jaccard
    estimate — exactly the pair set the incremental add() must produce,
    because banding is deterministic and add() joins new buckets against
    stored ∪ new buckets.

    ``new_pred`` must reference the document id as ``_id``; it is
    interpolated twice, qualified against each side of the candidate
    self-join (a pair is "new" when EITHER member satisfies it)."""
    from ralf_spark.functions.text import distinct_shingles_sql, tokens_sql

    rows_per_band = num_perm // bands
    hash_expr = (
        f"CAST(('0x' || substring(md5('mh{{p}}' || '|' || s), 1,"
        f" {HEX_CHARS})) AS BIGINT)"
    )
    sig_items = ", ".join(
        "list_min(list_transform(sh, s -> " + hash_expr.format(p=p) + "))"
        for p in range(num_perm)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT _id, {b} AS _band, md5("
        + " || ',' || ".join(
            f"CAST(_sig[{b * rows_per_band + r + 1}] AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + ") AS _key FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id, {tokens_sql(text_col, token_mode)} AS w
      FROM {table}
    ),
    docs AS (
      SELECT _id, {distinct_shingles_sql('w', shingle_n)} AS sh FROM toks
    ),
    docs_ne AS (SELECT * FROM docs WHERE len(sh) > 0),
    sigs AS (SELECT _id, sh, [{sig_items}] AS _sig FROM docs_ne),
    buckets AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a._id AS id1, b._id AS id2
      FROM buckets a JOIN buckets b
        ON a._band = b._band AND a._key = b._key AND a._id < b._id
      WHERE ({new_pred.replace('_id', 'a._id')})
         {"<>" if cross_only else "OR"} ({new_pred.replace('_id', 'b._id')})
    )
    SELECT id1, id2,
           round(list_sum(list_transform(range(1, {num_perm + 1}),
                 i -> CASE WHEN s1._sig[i] = s2._sig[i]
                      THEN 1 ELSE 0 END)) / {num_perm}.0, 4) AS est_jaccard
    FROM cand JOIN sigs s1 ON id1 = s1._id
              JOIN sigs s2 ON id2 = s2._id
    WHERE list_sum(list_transform(range(1, {num_perm + 1}),
          i -> CASE WHEN s1._sig[i] = s2._sig[i] THEN 1 ELSE 0 END))
          / {num_perm}.0 >= {threshold}
    ORDER BY id1, id2
    """


# --------------------------------------------- E2 exact-substring dup spans


def duplicate_span_ranges(
    table: FeatureTable,
    text_col: str = "text",
    min_tokens: int = 8,
    min_occurrences: int = 2,
    hash_fn: str | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """Exact-substring duplicate spans — the suffix-array dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed Spark-first.

    The paper finds every substring of >= N tokens that occurs more than
    once in the corpus (via a monolithic suffix array — inherently
    single-machine). The distributed re-expression: a substring of
    >= ``min_tokens`` tokens repeats iff every one of its length-
    ``min_tokens`` windows repeats, so

    1. emit every overlapping ``min_tokens``-gram with its (doc, position)
       — one row per token, linear in corpus size, computed scan-side with
       the same native higher-order expressions as the MinHash family;
    2. keep positions whose gram digest occurs >= ``min_occurrences``
       times corpus-wide;
    3. merge surviving positions per document into maximal spans
       (classic gaps-and-islands: a break where the next duplicated
       position no longer overlaps/adjoins the previous gram's token
       range, i.e. gap > ``min_tokens``).

    Scale (100 TB): the gram table never joins itself — the duplicated-
    digest set comes from a groupBy(digest) count (map-side partial agg:
    the count shuffle carries one row per distinct digest per partition),
    and positions rejoin it on digest, where AQE's skew-join split handles
    the boilerplate gram that repeats 10^8 times (a window-count spelling
    would pin that key to one task). The only other shuffle partitions by
    doc id for the island merge. Shuffled payload is (16-byte digest,
    id, int) — never gram text.

    ``hash_fn="md5"`` (default) groups by the md5 hex digest — replayed
    bit-for-bit by the DuckDB oracle (:func:`duplicate_span_ranges_sql`);
    ``"xxhash64"`` is the production spelling (64-bit digests, ~n²/2⁶⁴
    false-positive span risk — immaterial for span removal).

    Returns (doc_id, span_start, span_end, span_tokens): 1-based token
    positions, inclusive, one row per maximal duplicated span. Sibling
    :func:`duplicated_spans` reports per-document duplicated-WINDOW
    statistics (cheaper — no island merge, no position join); this
    operator produces the actual removal RANGES.
    """
    hash_fn = hash_fn or default_hash_fn()
    idc = table.key
    if idc is None:
        raise ValueError("duplicate_span_ranges needs a keyed table")
    pos = _gram_positions(
        table.df, idc, text_col, min_tokens, hash_fn, token_mode
    )
    dup_digests = (
        pos.groupBy("_dg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_occurrences)
        .select("_dg")
    )
    dup_pos = pos.join(dup_digests, "_dg").select("_id", "_pos")
    return _positions_to_spans(dup_pos, min_tokens)


def _gram_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    hash_fn: str,
    token_mode: str = "ascii",
) -> DataFrame:
    """(_id, _pos, _dg): every overlapping ``min_tokens``-gram's 1-based
    start position with its digest — the linear scan-side stage shared by
    the batch span detector and :class:`GramIndex`."""
    from ralf_spark.functions.text import tokens, word_shingles

    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    ids = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    )
    grams = word_shingles(tokens(F.col("_t"), token_mode), min_tokens)
    if hash_fn == "xxhash64":
        dg = F.xxhash64(F.col("_g"))
    else:
        dg = F.md5(F.col("_g"))
    return ids.select(
        "_id", F.posexplode(grams).alias("_p0", "_g")
    ).select("_id", (F.col("_p0") + 1).alias("_pos"), dg.alias("_dg"))


def _positions_to_spans(dup_pos: DataFrame, min_tokens: int) -> DataFrame:
    """Merge duplicated gram positions into maximal spans per document
    (gaps-and-islands; a break where the gap exceeds ``min_tokens``, so
    overlapping/adjoining gram ranges fuse). Shared by the batch span
    detector and :class:`GramIndex`."""
    by_doc = Window.partitionBy("_id").orderBy("_pos")
    brk = F.when(
        F.lag("_pos").over(by_doc).isNull()
        | (F.col("_pos") > F.lag("_pos").over(by_doc) + min_tokens),
        F.lit(1),
    ).otherwise(F.lit(0))
    isle = F.sum("_brk").over(
        by_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dup_pos.select("_id", "_pos", brk.alias("_brk"))
        .select("_id", "_pos", isle.alias("_isle"))
        .groupBy("_id", "_isle")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + (min_tokens - 1)).alias("span_end"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def duplicate_span_ranges_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
    token_mode: str = "ascii",
) -> str:
    """DuckDB twin of :func:`duplicate_span_ranges` (md5 mode) — identical gram
    digests, duplicated-position set, and island merge."""
    from ralf_spark.functions.text import tokens_sql, word_shingles_sql

    n = min_tokens
    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id, {tokens_sql(text_col, token_mode)} AS w
      FROM {table}
    ),
    gs AS (SELECT _id, {word_shingles_sql('w', n)} AS g FROM toks),
    pos AS (
      SELECT _id, i AS _pos, md5(g[i]) AS _dg
      FROM gs, unnest(generate_series(1, len(g))) AS t(i)
    ),
    dup_dg AS (
      SELECT _dg FROM pos GROUP BY _dg
      HAVING count(*) >= {min_occurrences}
    ),
    dup_pos AS (SELECT _id, _pos FROM pos JOIN dup_dg USING (_dg)),
    marks AS (
      SELECT _id, _pos,
             CASE WHEN lag(_pos) OVER w IS NULL
                    OR _pos > lag(_pos) OVER w + {n} THEN 1 ELSE 0 END
               AS _brk
      FROM dup_pos
      WINDOW w AS (PARTITION BY _id ORDER BY _pos)
    ),
    isl AS (
      SELECT _id, _pos,
             sum(_brk) OVER (PARTITION BY _id ORDER BY _pos
                             ROWS UNBOUNDED PRECEDING) AS _isle
      FROM marks
    )
    SELECT _id AS doc_id,
           min(_pos) AS span_start,
           max(_pos) + {n - 1} AS span_end,
           max(_pos) + {n - 1} - min(_pos) + 1 AS span_tokens
    FROM isl GROUP BY _id, _isle
    """


def cross_corpus_duplicate_spans(
    table: FeatureTable,
    other: FeatureTable,
    text_col: str = "text",
    other_text_col: str | None = None,
    min_tokens: int = 8,
    hash_fn: str | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """Spans of ``table`` documents that appear VERBATIM in ``other`` —
    span-level decontamination (r12): the ExactSubstr formulation of
    "remove every training substring that occurs in the eval set", the
    stronger sibling of the 8-gram DOC-level filter
    (``decontaminate_against_eval`` flags whole documents; this emits
    the exact token ranges so the document can be kept minus the leak).

    A training position is contaminated iff its ``min_tokens``-gram
    digest occurs anywhere in ``other``; surviving positions merge into
    maximal spans with the same gaps-and-islands rule as
    :func:`duplicate_span_ranges`. Within-``table`` repeats do NOT
    count — this is strictly cross-corpus.

    Scale (100 TB train vs bounded eval): the eval side reduces to its
    DISTINCT gram digests, broadcast into the training-gram scan when
    the eval side's footers prove it small, or while its measured count
    stays under the broadcast bound (an eval suite is millions of grams,
    not billions); past the bound it degrades to a digest-keyed shuffle
    join. The train corpus never self-joins and only (digest, id, int)
    rows ever shuffle.

    Returns (doc_id, span_start, span_end, span_tokens) for ``table``'s
    documents, 1-based inclusive token positions.
    """
    hash_fn = hash_fn or default_hash_fn()
    idc = table.key
    if idc is None:
        raise ValueError("cross_corpus_duplicate_spans needs a keyed table")
    ocol = other_text_col or text_col
    pos = _gram_positions(
        table.df, idc, text_col, min_tokens, hash_fn, token_mode
    )
    if other.key is None:
        odf = other.df.withColumn("_oid", F.monotonically_increasing_id())
        okey = "_oid"
    else:
        odf = other.df
        okey = other.key
    eval_dg = (
        _gram_positions(odf, okey, ocol, min_tokens, hash_fn, token_mode)
        .select("_dg")
        .distinct()
        # persisted: the measured broadcast decision COUNTS this set, and
        # the join must not re-run the whole eval tokenize/hash/distinct
        # pipeline a second time (r12 review). Released by the caller
        # via the attach_cached convention.
        .persist()
    )
    # r16 (the near_dup small-corpus class): when the EVAL side's parquet
    # footers prove its digest set broadcast-safe, skip the count job
    # (the "digest" expansion: an upper bound BEFORE distinct shrinks
    # it). Past the gate (or on unbounded lineages) the measured count
    # decides.
    hint = sizing.provably_small(
        odf, per_byte=sizing.EXPANSION["digest"]
    ) or sizing.choose_broadcast(eval_dg.count)
    probe = F.broadcast(eval_dg) if hint else eval_dg
    dup_pos = pos.join(probe, "_dg").select("_id", "_pos")
    return attach_cached(
        _positions_to_spans(dup_pos, min_tokens), [eval_dg]
    )


def cross_corpus_duplicate_spans_sql(
    table: str = "documents",
    other: str = "documents",
    text_col: str = "text",
    other_text_col: str | None = None,
    id_col: str = "doc_id",
    other_id_col: str = "doc_id",
    min_tokens: int = 8,
    token_mode: str = "ascii",
) -> str:
    """DuckDB twin of :func:`cross_corpus_duplicate_spans` (md5 mode)."""
    from ralf_spark.functions.text import tokens_sql, word_shingles_sql

    n = min_tokens
    ocol = other_text_col or text_col
    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id, {tokens_sql(text_col, token_mode)} AS w
      FROM {table}
    ),
    gs AS (SELECT _id, {word_shingles_sql('w', n)} AS g FROM toks),
    pos AS (
      SELECT _id, i AS _pos, md5(g[i]) AS _dg
      FROM gs, unnest(generate_series(1, len(g))) AS t(i)
    ),
    otoks AS (
      SELECT {other_id_col} AS _oid, {tokens_sql(ocol)} AS w FROM {other}
    ),
    ogs AS (SELECT _oid, {word_shingles_sql('w', n)} AS g FROM otoks),
    eval_dg AS (
      SELECT DISTINCT md5(g[i]) AS _dg
      FROM ogs, unnest(generate_series(1, len(g))) AS t(i)
    ),
    dup_pos AS (SELECT _id, _pos FROM pos JOIN eval_dg USING (_dg)),
    marks AS (
      SELECT _id, _pos,
             CASE WHEN lag(_pos) OVER w IS NULL
                    OR _pos > lag(_pos) OVER w + {n} THEN 1 ELSE 0 END
               AS _brk
      FROM dup_pos
      WINDOW w AS (PARTITION BY _id ORDER BY _pos)
    ),
    isl AS (
      SELECT _id, _pos,
             sum(_brk) OVER (PARTITION BY _id ORDER BY _pos
                             ROWS UNBOUNDED PRECEDING) AS _isle
      FROM marks
    )
    SELECT _id AS doc_id,
           min(_pos) AS span_start,
           max(_pos) + {n - 1} AS span_end,
           max(_pos) + {n - 1} - min(_pos) + 1 AS span_tokens
    FROM isl GROUP BY _id, _isle
    """


def remove_duplicate_spans(
    table: FeatureTable,
    text_col: str = "text",
    min_tokens: int = 8,
    min_occurrences: int = 2,
    hash_fn: str | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """Cut every duplicated span out of the corpus — the transform half
    of the Lee et al. 2022 ExactSubstr pipeline (their pass deletes all
    occurrences of any substring repeated corpus-wide; surrounding text
    survives).

    Composition: :func:`duplicate_span_ranges` detects, this removes —
    the span table rides back to the documents on a doc-id join (spans
    are a small fraction of docs; broadcastable when the duplication
    rate is low, AQE decides), and the cut is one row-local filtered
    re-join of the token array (``F.filter`` with position index vs the
    doc's merged span list — O(tokens x spans_per_doc), spans_per_doc
    is bounded by tokens/min_tokens).

    Returns (doc_id, clean_text, n_kept, n_removed); every input doc
    appears exactly once (docs with no duplicated spans pass through
    verbatim).
    """
    idc = table.key
    if idc is None:
        raise ValueError("remove_duplicate_spans needs a keyed table")
    spans = duplicate_span_ranges(
        table,
        text_col=text_col,
        min_tokens=min_tokens,
        min_occurrences=min_occurrences,
        hash_fn=hash_fn,
        token_mode=token_mode,
    )
    return _cut_spans(table.df, idc, text_col, spans, token_mode)


def remove_contaminated_spans(
    table: FeatureTable,
    other: FeatureTable,
    text_col: str = "text",
    other_text_col: str | None = None,
    min_tokens: int = 8,
    hash_fn: str | None = None,
    token_mode: str = "ascii",
) -> DataFrame:
    """Cut every span of ``table`` that appears verbatim in ``other`` —
    the transform half of span-level decontamination (r12):
    :func:`cross_corpus_duplicate_spans` detects the leaked ranges, the
    shared row-local cut removes them, so the training document survives
    minus the benchmark leak (vs the doc-level filter, which drops the
    whole document). Same every-doc-appears-once contract and cost shape
    as :func:`remove_duplicate_spans`."""
    idc = table.key
    if idc is None:
        raise ValueError("remove_contaminated_spans needs a keyed table")
    spans = cross_corpus_duplicate_spans(
        table, other,
        text_col=text_col, other_text_col=other_text_col,
        min_tokens=min_tokens, hash_fn=hash_fn, token_mode=token_mode,
    )
    # re-attach: _cut_spans returns a NEW DataFrame object, which drops
    # the attribute-based cache handle — carry it forward so the
    # caller's unpersist_cached still releases the eval digest set
    return attach_cached(
        _cut_spans(table.df, idc, text_col, spans, token_mode),
        getattr(spans, "_ralf_cached", []),
    )


def _cut_spans(
    df: DataFrame, idc: str, text_col: str, spans,
    token_mode: str = "ascii",
) -> DataFrame:
    """Shared row-local span cut (the transform half of both removal
    operators): the span table rides back to the documents on a doc-id
    join (spans are a small fraction of docs; broadcastable when the
    rate is low, AQE decides) and the cut is one filtered re-join of the
    token array — O(tokens × spans_per_doc), spans_per_doc bounded by
    tokens/min_tokens. Returns (doc_id, clean_text, n_kept, n_removed);
    every input doc appears exactly once.

    ``token_mode`` MUST match the mode the spans were detected under
    (r13): span positions are indexes into that tokenizer's stream — a
    unicode-mode span cut with ascii tokens would delete the wrong
    words. In unicode mode the clean_text is therefore the NORMALIZED
    text rejoined on single spaces (the mode's canonical form)."""
    from ralf_spark.functions.text import tokens

    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_sp")
    )
    # NULL text -> empty token array (not NULL): the counts below must be
    # 0/0, not NULL, for the every-doc-appears-once contract to hold
    base = df.select(
        F.col(idc).alias("doc_id"),
        F.coalesce(
            tokens(F.col(text_col), token_mode),
            F.array().cast("array<string>"),
        ).alias("_tk"),
    )
    joined = base.join(per_doc, "doc_id", "left")
    kept = F.when(F.col("_sp").isNull(), F.col("_tk")).otherwise(
        F.filter(
            "_tk",
            lambda t, i: ~F.exists(
                "_sp",
                lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"]),
            ),
        )
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).alias("n_kept"),
        (F.size("_tk") - F.size(kept)).alias("n_removed"),
    )


def remove_duplicate_spans_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_occurrences: int = 2,
) -> str:
    """DuckDB twin of :func:`remove_duplicate_spans`."""
    spans = duplicate_span_ranges_sql(
        table, text_col, id_col, min_tokens, min_occurrences
    )
    return _cut_spans_sql(spans, table, text_col, id_col)


def remove_contaminated_spans_sql(
    table: str = "documents",
    other: str = "documents",
    text_col: str = "text",
    other_text_col: str | None = None,
    id_col: str = "doc_id",
    other_id_col: str = "doc_id",
    min_tokens: int = 8,
) -> str:
    """DuckDB twin of :func:`remove_contaminated_spans`."""
    spans = cross_corpus_duplicate_spans_sql(
        table=table, other=other, text_col=text_col,
        other_text_col=other_text_col, id_col=id_col,
        other_id_col=other_id_col, min_tokens=min_tokens,
    )
    return _cut_spans_sql(spans, table, text_col, id_col)


def _cut_spans_sql(
    spans_sql: str, table: str, text_col: str, id_col: str
) -> str:
    """Shared DuckDB spelling of the row-local span cut."""
    from ralf_spark.functions.text import tokens_sql

    return f"""
    WITH spans2 AS ({spans_sql}),
    toks2 AS (
      SELECT {id_col} AS doc_id,
             coalesce({tokens_sql(text_col)}, []) AS w
      FROM {table}
    ),
    kept AS (
      SELECT t.doc_id, p.i, t.w[p.i] AS tok
      FROM toks2 t, unnest(generate_series(1, len(t.w))) AS p(i)
      WHERE NOT EXISTS (
        SELECT 1 FROM spans2 s
        WHERE s.doc_id = t.doc_id
          AND p.i BETWEEN s.span_start AND s.span_end
      )
    ),
    agg AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY i) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
           CAST(len(t.w) - coalesce(a.n_kept, 0) AS INTEGER) AS n_removed
    FROM toks2 t LEFT JOIN agg a USING (doc_id)
    """


class GramIndex:
    """Incremental exact-substring dedup index — the crawl-loop edition of
    :func:`duplicate_span_ranges`, completing the incremental trio with
    :class:`MinHashIndex` (near-dup) and ``IvfIndex`` (ANN).

    Store: the DISTINCT gram digests seen so far, as ``_batch=<tag>``
    partitions (merge-on-read union; :meth:`maintain` folds them with a
    ``distinct()`` MERGING compaction, so the store converges to the true
    digest set). Membership is all duplicate detection needs: a position
    in a new batch is duplicated iff its digest was seen before (store)
    or occurs >= 2 times within the batch itself — together exactly the
    corpus-so-far occurrence count >= 2, so ``build(A); add(B)`` returns
    the batch pipeline's spans over A ∪ B restricted to B's documents
    (the oracle gate pins this equivalence).

    Contract: ``add()`` reports duplicated spans of the NEW batch only —
    the crawl-loop shape (incoming data is cleaned against everything
    seen; already-ingested docs are not retro-flagged when a later copy
    arrives, which would require an O(store) aggregation per add).

    ``count_mode=True`` (r12) upgrades the store from distinct digests to
    the full gram-position log ``(_id, _pos, _dg)`` — the same O(corpus
    tokens) a suffix array pays — so :meth:`retro` can emit spans for
    EARLIER copies too: one O(store) corpus-wide occurrence count per
    maintenance cadence (never per add), giving full Lee et al. batch
    parity in the incremental path. ``add()`` semantics and cost shape
    are unchanged (the store probe reads only the digest column, which
    parquet prunes to).

    Scale (100 TB): the store is ∝ distinct corpus grams — the same
    8 bytes/token a suffix array pays, sharded as parquet. Per-add cost
    is one store SCAN with zero store shuffle: the batch digest set
    broadcasts into the scan (``seen = store ⋈ broadcast(batch)``, the
    chained-broadcast shape of ``MinHashIndex.add``), and degrades to a
    shuffle join when the batch digest count outgrows the broadcast
    bound (``sizing.choose_broadcast``). Batch
    folds append one partition; the auto-maintenance cadence (r11)
    compacts with the tiered write-amp discipline.
    """

    def __init__(
        self,
        path: str,
        min_tokens: int = 8,
        hash_fn: str | None = None,
        auto_maintain: int | None = None,
        count_mode: bool = False,
        token_mode: str = "ascii",
        concurrent_adds: bool = False,
    ):
        tokenizer_version(token_mode)  # validate early (raises on unknown)
        self.path = path
        self.min_tokens = min_tokens
        self.hash_fn = hash_fn or default_hash_fn()
        self.count_mode = count_mode
        #: tokenizer contract (r13): see MinHashIndex.token_mode
        self.token_mode = token_mode
        if self.hash_fn not in ("md5", "xxhash64"):
            raise ValueError(f"unknown hash_fn: {self.hash_fn!r}")
        if auto_maintain is None:
            auto_maintain = AUTO_MAINTAIN_BATCHES
        self.auto_maintain = auto_maintain
        #: r14 (VERDICT r13 #1) — multi-writer ingest: ``add()`` takes a
        #: TAG-scoped lease instead of the store root, so N crawl
        #: workers fold disjoint batches in parallel (each batch owns
        #: its ``_batch=<tag>`` partition; the digest-set union is
        #: commutative, so the folded store is serialization-
        #: independent). Exclusive operations (build/maintain/retro
        #: cadence) still take the root lease, refuse while foreign
        #: adds are in flight, and RELEASE the root on completion so
        #: waiting adders resume without the TTL. In this mode add()
        #: neither auto-maintains nor heals interrupted compactions —
        #: the root-lease holder (the maintenance coordinator) owns
        #: both. Each add's REPORTED spans reflect whatever subset of
        #: concurrent peers' folds its frozen snapshot saw (every
        #: reported span is a true duplicate of the final corpus;
        #: cross-duplicates between two in-flight batches are caught by
        #: the next retro cadence, not by the adds).
        self.concurrent_adds = concurrent_adds

    # ------------------------------------------------------------ internals
    def _positions(self, table: FeatureTable, text_col: str) -> DataFrame:
        idc = table.key
        if idc is None:
            raise ValueError("GramIndex needs a keyed table")
        return _gram_positions(
            table.df, idc, text_col, self.min_tokens, self.hash_fn,
            self.token_mode,
        )

    @property
    def _store(self) -> BatchStore:
        """The store protocol at ``path`` with the config pin: digests
        hashed under another mode, gram length or tokenizer never match
        the stored set, and a membership handle reading a position store
        (or vice versa) would mis-shape every probe."""
        return BatchStore(
            self.path, self.concurrent_adds, "GramIndex",
            pin={
                "hash_fn": self.hash_fn, "min_tokens": self.min_tokens,
                "count_mode": self.count_mode,
                "tokenizer": tokenizer_version(self.token_mode),
            },
            pin_schema="hash_fn string, min_tokens int, "
            "count_mode boolean, tokenizer string",
        )

    #: ~2M digest rows per file (32-char md5 strings ≈ 64 MB; longs less)
    _ROWS_PER_FILE = 2_000_000

    def _write(
        self, dg: DataFrame, tag: str, rows: int, fence: AddFence = AddFence()
    ) -> None:
        # coalesce never INCREASES partition count, so no .rdd partition
        # probe is needed to guard it (the probe forced a full physical
        # translation on the driver per write — r16, the VERDICT r4 class)
        n_files = max(1, -(-rows // self._ROWS_PER_FILE))
        self._store.publish(dg.coalesce(n_files), "grams", tag, fence)

    # ------------------------------------------------------------ lifecycle
    def build(self, table: FeatureTable, text_col: str = "text") -> None:
        """Full (re)build: record every gram digest of ``table`` (no span
        output — the corpus being indexed is the already-accepted set)."""
        from ralf_spark.connectors import _hadoop_fs

        spark = table.df.sparkSession
        store = self._store
        # a rebuild deletes every batch partition
        with store.exclusive(spark) as op:
            fs, jpath = _hadoop_fs(spark, self.path)
            if fs.exists(jpath):
                fs.delete(jpath, True)
            store.pin_meta(spark)
            pos = self._positions(table, text_col)
            dg = (
                pos if self.count_mode
                else pos.select("_dg").distinct()
            )
            dg = dg.persist()
            try:
                n = dg.count()
                self._write(dg, "base", rows=n)
            finally:
                dg.unpersist()
            op.rewritten = True

    def maintain(self, spark, keep_last: int = 1, tiered: bool = True) -> dict:
        """Fold batch partitions with a ``distinct()`` MERGING compaction
        (membership algebra: union folds exactly), tiered by default —
        same manifest transaction, crash recovery, and write-amp
        discipline as the other indexes.

        Folded tags are durably recorded in the folded-tags sidecar
        (:func:`~ralf_spark.layout.compact_tiered`) INSIDE the
        compaction transaction, so :meth:`add` can refuse a replay of a
        folded tag loudly instead of misreporting every batch position
        as duplicated (r12); a crash between the record and the done
        marker rolls the fold back and un-records the never-folded tags
        (r13), both here and in :meth:`add`'s recovery pass."""
        # root-lease FIRST (r12 review): compaction holds the subtree
        # lease, but a second PROCESS's maintain() must contend with
        # this process's add()/build() on the STORE root — without it, a
        # foreign maintain could fold and delete a batch dir out from
        # under an in-flight add's frozen file list
        with self._store.exclusive(spark) as op:
            out = {
                "grams": compact_tiered(
                    spark, f"{self.path}/grams", keep_last=keep_last,
                    tiered=tiered, record_folds=True,
                    # membership algebra folds by distinct(); the
                    # count-mode position log is already row-unique per
                    # (doc, pos) — a plain concatenation fold
                    transform=(
                        None if self.count_mode
                        else (lambda df: df.distinct())
                    ),
                )
            }
            if self.count_mode and out["grams"]:
                # keep the retro_delta watermark valid across the tag
                # rename; surface covered=False in the summary (r14,
                # ADVICE r13: the next retro_delta then re-treats the
                # whole compacted partition as new — a one-time O(store)
                # cadence the operator should see coming)
                out["retro_watermark"] = self._advance_retro_watermark(
                    spark, out["grams"]
                )
            op.rewritten = bool(out["grams"])
        return out

    def add(
        self,
        table: FeatureTable,
        text_col: str = "text",
        batch_tag: str | None = None,
        writer_id: str | None = None,
    ) -> DataFrame:
        """Detect the batch's duplicated spans vs everything seen so far
        (store ∪ the batch itself), then fold the batch's digests in.
        Returns (doc_id, span_start, span_end, span_tokens) for the NEW
        docs — identical to the batch detector over corpus-so-far
        restricted to this batch (oracle-gated).

        ``batch_tag`` replay semantics match ``MinHashIndex.add``: a
        replayed tag rewrites its own partition (and is excluded from
        "seen"). The batch digest set broadcasts into the store scan
        while it stays under the broadcast bound, else the probe degrades
        to a shuffle join.

        REPLAY RESTRICTION (the CMS-log class): only tags newer than the
        last compaction may be replayed. Once :meth:`maintain` folds a
        tag, its digests live in the compacted partition under a
        different name — a replay of that tag would find its own
        previous digests as "seen in store" and misreport EVERY batch
        position as duplicated (membership carries no doc identity, so
        the self-copy cannot be excluded the way MinHash pair ids
        collapse). ENFORCED (r12): :meth:`maintain` records folded tags
        in a sidecar and a replayed folded ``batch_tag`` raises
        ``ValueError`` here instead of misreporting. The
        auto-maintenance cadence keeps ``keep_last=1`` (the newest tag
        — the only one an in-flight micro-batch retry targets — always
        survives), and the streaming spelling
        (``foreach_batch_gram_dedup``) additionally skips folded tags
        via its own sidecar before reaching this check.

        CONCURRENT mode (r14, VERDICT r13 #1 — ``concurrent_adds=True``
        on the handle): this add announces itself under a TAG-scoped
        lease instead of taking the store root, so disjoint batches
        from N workers fold in parallel (``writer_id`` identifies the
        worker; defaults to the process identity). Auto-maintenance and
        compaction healing are skipped — the root-lease coordinator
        owns both — and an exclusive operation in flight (or starting
        mid-add) fails one side loudly via the announce-first/
        root-first ordering in ``acquire_add_lease``."""
        import uuid

        spark = table.df.sparkSession
        store = self._store
        grams = f"{self.path}/grams"
        tag = batch_tag if batch_tag is not None else f"u{uuid.uuid4().hex}"
        with store.add_session(spark, tag, writer_id) as fence:
            store.pin_meta(spark)
            if not self.concurrent_adds:
                # heal an interrupted maintain() BEFORE the replay check
                # (r13, ADVICE r12): a rollback un-records tags the
                # crashed attempt falsely marked folded, so their replays
                # are accepted again. Concurrent adds never heal — the
                # recovery rewrites shared state under peers; the
                # membership union tolerates an interrupted fold's
                # double-listed rows until the coordinator heals it.
                recover_recording_folds(spark, grams)
            if batch_tag is not None and batch_tag in folded_tags(
                spark, grams
            ):
                raise ValueError(
                    f"GramIndex at {self.path}: batch_tag {batch_tag!r} "
                    "was already folded by maintain(); replaying it would "
                    "misreport every position of the batch as duplicated "
                    "(membership digests carry no doc identity). Replay "
                    "only tags newer than the last compaction (keep_last "
                    "spares them), or rebuild the index."
                )
            if self.auto_maintain and not self.concurrent_adds:
                if batch_tag_count(spark, grams) > self.auto_maintain:
                    self.maintain(spark)
            from pyspark.sql import Observation

            # row-count observation riding the n_dg job (r16, guide §1/§5
            # — VERDICT r15 #1 job consolidation): the count-mode fold
            # below needs |pos| for file sizing, and the n_dg count
            # already materializes the pos cache, so CollectMetrics on
            # the cached plan delivers the row count with ZERO extra jobs
            # (previously a second pos.count() job per add)
            pos_obs = Observation()
            pos = (
                self._positions(table, text_col)
                .observe(pos_obs, F.count(F.lit(1)).alias("rows"))
                .persist()
            )
            batch_dg = pos.select("_dg").distinct().persist()
            n_dg = batch_dg.count()  # materializes both caches' parent scan
            batch_dup = (
                pos.groupBy("_dg")
                .agg(F.count(F.lit(1)).alias("_c"))
                .where(F.col("_c") >= 2)
                .select("_dg")
            )
            stored = store.snapshot(spark, "grams", exclude_tag=tag)
            if stored is None:
                seen = batch_dup
            else:
                hint = sizing.choose_broadcast(lambda: n_dg)
                probe = F.broadcast(batch_dg) if hint else batch_dg
                seen_in_store = (
                    stored.join(probe, "_dg").select("_dg").distinct()
                )
                seen = seen_in_store.unionByName(batch_dup).distinct()
            dup_pos = pos.join(seen, "_dg").select("_id", "_pos")
            spans = _positions_to_spans(dup_pos, self.min_tokens)
            out = attach_cached(spans, [pos, batch_dg])
            # fold AFTER the span plan is defined: the plan reads the
            # frozen pre-add file snapshot + persisted batch projections,
            # so it can never observe its own append
            if self.count_mode:
                # rows from the observation the n_dg job fired — not a
                # second count job (r16); identical value by construction
                self._write(
                    pos, tag, rows=observed_rows(pos_obs, pos), fence=fence
                )
            else:
                self._write(batch_dg, tag, rows=n_dg, fence=fence)
        return out

    def check(
        self,
        table: FeatureTable,
        text_col: str = "text",
        within_batch: bool = False,
    ) -> DataFrame:
        """READ-ONLY span detection against the store — nothing is
        folded in (r12): the serving/decontamination spelling of
        :meth:`add`. With ``within_batch=False`` (default) only spans
        matching the STORE are reported (a batch checked against a
        fixed eval-set index: within-batch repeats don't count —
        strictly cross-corpus, the :func:`cross_corpus_duplicate_spans`
        semantics served from a persistent store); ``True`` adds the
        batch's own repeats (the :meth:`add` detection without the
        fold). No writer lease — concurrent readers are always safe —
        and strictly read-only: the meta pin is VERIFIED, never written
        (a reader must not stamp its config onto a store it never
        built), and the store is read before any batch projection is
        persisted (no cache leak on an empty store).

        Returns (doc_id, span_start, span_end, span_tokens)."""
        spark = table.df.sparkSession
        store = self._store
        store.pin_meta(spark, write_if_missing=False)
        stored = store.snapshot(spark, "grams")
        if stored is None:
            raise ValueError(f"GramIndex at {self.path} is empty")
        pos = self._positions(table, text_col).persist()
        batch_dg = pos.select("_dg").distinct().persist()
        n_dg = batch_dg.count()
        hint = sizing.choose_broadcast(lambda: n_dg)
        probe = F.broadcast(batch_dg) if hint else batch_dg
        seen = stored.join(probe, "_dg").select("_dg").distinct()
        if within_batch:
            batch_dup = (
                pos.groupBy("_dg")
                .agg(F.count(F.lit(1)).alias("_c"))
                .where(F.col("_c") >= 2)
                .select("_dg")
            )
            seen = seen.unionByName(batch_dup).distinct()
        dup_pos = pos.join(seen, "_dg").select("_id", "_pos")
        spans = _positions_to_spans(dup_pos, self.min_tokens)
        return attach_cached(spans, [pos, batch_dg])

    def retro(self, spark) -> DataFrame:
        """Corpus-wide duplicated spans over EVERYTHING ingested so far —
        the retro-flagging pass (r12, ``count_mode=True`` only): earlier
        copies that :meth:`add` could not flag when their duplicate
        arrived later are emitted here, so ``build(A); add(B); retro()``
        equals the batch detector over A ∪ B for BOTH documents' spans
        (full Lee et al. parity; oracle-gated).

        Cost: ONE store scan + one groupBy(digest) count + one rejoin —
        O(store), run once per maintenance cadence, never per add. The
        same AQE skew handling as the batch detector applies (boilerplate
        digests are hot keys on the count side)."""
        if not self.count_mode:
            raise ValueError(
                f"GramIndex at {self.path} is a membership store "
                "(count_mode=False): digests carry no positions, so "
                "retro-flagging is impossible. Rebuild with "
                "count_mode=True for the retro pass."
            )
        self._store.pin_meta(spark, write_if_missing=False)
        from ralf_spark.connectors import _list_parquet_files_sized

        sized = _list_parquet_files_sized(spark, f"{self.path}/grams")
        if not sized:
            raise ValueError(f"GramIndex at {self.path} is empty")
        files = [f for f, _ in sized]
        store = spark.read.parquet(*files)
        # r16 (VERDICT r15 #1 class): a store the listing + footers
        # PROVE tiny takes the one-pass window spelling — the per-digest
        # count rides a window instead of a groupBy + rejoin (no second
        # store pass, no join exchange). Same gate and same reasoning as
        # retro_delta's small-store cadence; at scale the groupBy's
        # map-side partial aggregation shuffles distinct digests, far
        # less than the window's full-row shuffle, so past the gate the
        # join spelling stays.
        if sizing.provably_small(sized, spark):
            dup_pos = (
                store.select(
                    "_id",
                    "_pos",
                    F.count(F.lit(1))
                    .over(Window.partitionBy("_dg"))
                    .alias("_c"),
                )
                .where(F.col("_c") >= 2)
                .select("_id", "_pos")
            )
        else:
            dup = (
                store.groupBy("_dg")
                .agg(F.count(F.lit(1)).alias("_c"))
                .where(F.col("_c") >= 2)
                .select("_dg")
            )
            dup_pos = store.join(dup, "_dg").select("_id", "_pos")
        return _positions_to_spans(dup_pos, self.min_tokens)

    # ------------------------------------------------- delta retro (r13)
    @staticmethod
    def _tag_of(file_path: str) -> str:
        return file_path.split("/_batch=", 1)[1].split("/", 1)[0]

    #: the retro_delta watermark sidecars under ``grams/``: the tags a
    #: COMMITTED cadence covered (r13, VERDICT r12 #3), and the tags the
    #: last call covered but :meth:`commit_retro_delta` has not yet
    #: promoted (r14, VERDICT r13 #2 / ADVICE r13). Until the commit the
    #: next cadence treats pending tags as uncovered and re-emits their
    #: spans, so a caller crash between the call and persisting its
    #: output loses nothing.
    _DONE = ".retro_watermark.json"
    _PENDING = ".retro_watermark_pending.json"

    def _watermark(self, spark, name: str) -> set[str]:
        """The tags of watermark sidecar ``name`` (empty when absent)."""
        from ralf_spark.connectors import _hadoop_fs, read_json_sidecar

        sidecar = f"{self.path}/grams/{name}"
        fs, jpath = _hadoop_fs(spark, sidecar)
        if not fs.exists(jpath):
            return set()
        return set(read_json_sidecar(spark, sidecar).get("tags", []))

    def commit_retro_delta(self, spark) -> list[str]:
        """Promote the pending watermark written by the last
        :meth:`retro_delta` call — call this AFTER the returned spans
        are durably persisted/folded (the consume point). Idempotent:
        re-committing (or committing with nothing pending) is a no-op.
        Returns the newly covered tags.

        Sequencing this after the consume is what upgrades the batch
        cadence from at-most-once to exactly-once: a crash before the
        commit leaves the tags uncovered and the next cadence re-emits
        their spans (emissions fold latest-wins per document, so a
        re-emission is harmless); a crash after the commit has already
        persisted the output the commit acknowledges."""
        from ralf_spark.connectors import _hadoop_fs, write_json_sidecar

        # the root without the in-flight-add check: promoting the pending
        # half touches no batch partition an add's snapshot reads
        with self._store.exclusive(spark, check_adds=False):
            fs, jpend = _hadoop_fs(spark, f"{self.path}/grams/{self._PENDING}")
            if not fs.exists(jpend):
                return []
            pend = self._watermark(spark, self._PENDING)
            done = self._watermark(spark, self._DONE)
            write_json_sidecar(
                spark, f"{self.path}/grams/{self._DONE}",
                {"tags": sorted(done | pend)},
            )
            fs.delete(jpend, False)
        return sorted(pend - done)

    def _advance_retro_watermark(self, spark, summary: dict) -> dict | None:
        """Keep the retro watermark valid across a compaction: the folded
        source tags disappear and their rows reappear under the compacted
        tag, so the compacted tag counts as covered iff EVERY source was.
        If some source had not been retro'd yet, the compacted partition
        stays out of the watermark — the next :meth:`retro_delta` then
        treats the whole compacted partition as new (O(store), correct,
        expensive) — so run retro_delta BEFORE maintain for the cheap
        path. Returns a summary (r14, ADVICE r13: the caller surfaces
        ``covered=False`` so operators can anticipate the one-time
        O(store) cadence instead of diagnosing it as a regression)."""
        from ralf_spark.connectors import write_json_sidecar

        done = self._watermark(spark, self._DONE)
        pend = self._watermark(spark, self._PENDING)
        if not (done or pend):
            return None  # no delta cadence has ever run: nothing to keep valid
        src = set(summary.get("sources") or [])
        if not src:
            return None
        new_done = done - src
        if src <= done:
            new_done.add(summary["ctag"])
        write_json_sidecar(
            spark, f"{self.path}/grams/{self._DONE}",
            {"tags": sorted(new_done)},
        )
        if pend:
            # keep the UNCOMMITTED half valid too (r14): the compacted
            # tag may enter the pending set only if every source was
            # covered or pending — then a later commit_retro_delta
            # promotes it; if some source was in neither, the compacted
            # partition stays uncovered (the documented O(store)
            # next-cadence path).
            new_pend = pend - src
            if src <= (done | pend):
                new_pend.add(summary["ctag"])
            write_json_sidecar(
                spark, f"{self.path}/grams/{self._PENDING}",
                {"tags": sorted(new_pend)},
            )
        covered = src <= (done | pend)
        return {
            "ctag": summary["ctag"],
            "covered": covered,
            "uncovered_sources": sorted(src - done - pend),
        }

    def retro_delta(self, spark) -> DataFrame:
        """Incremental retro-flagging (r13, VERDICT r12 #4): the spans of
        every document TOUCHED by data ingested since the last
        ``retro_delta`` — instead of :meth:`retro`'s recompute-and-re-emit
        of the entire store each cadence. Emissions fold by
        LATEST-WINS PER DOCUMENT: a touched document's CURRENT full span
        set is (re-)emitted, so

            ``fold(retro_delta() after each add)  ==  retro()``

        (the oracle gate pins exactly this; spans only grow — positions
        accumulate and counts never decrease — so latest-wins is exact).

        A document's spans can only change when some gram digest it
        holds gains an occurrence, and every gained occurrence lives in
        a tag newer than the watermark. So the cadence:

        1. distinct digests of the NEW tags only — O(batch);
        2. corpus-wide occurrence count of THOSE digests (the new-digest
           set broadcasts into one store scan; no store shuffle) — the
           digests now at count >= 2 are the changed ones;
        3. documents holding a changed digest = the touched set
           (broadcast-joined against the store scan);
        4. the touched documents' complete duplicated-position set (all
           their digests, counted corpus-wide the same way) merges into
           maximal spans — O(touched), not O(store).

        Store IO is one column-pruned scan (only ``_dg``/``_id``/``_pos``
        leave the parquet reader) into a cache the four stages share,
        and the SHUFFLED and EMITTED volume — the part that dominated retro()'s
        cadence at a growing store — scales with the batch and its
        touched neighborhood (probe-measured in SCALEPROBE.md).
        Each stage sizes its broadcast from its own (persisted) probe set
        and degrades to a shuffle join past the bound (r13 review): the
        derived sets (changed digests, touched docs, their digest
        universe) can be arbitrarily larger than the new-digest set they
        grew from — one boilerplate gram makes ``touched`` approach every
        doc.

        Two-phase watermark (r14, VERDICT r13 #2 / ADVICE r13): the
        covered-tag set is written to the PENDING sidecar; the caller
        drains/persists the returned spans, then calls
        :meth:`commit_retro_delta` — the consume point. A crash in
        between leaves the watermark unchanged, so the next cadence
        re-emits the uncommitted tags' spans (latest-wins folding makes
        the re-emission harmless): exactly-once end to end.
        :meth:`maintain` keeps both watermark halves valid across
        compaction renames (see :meth:`_advance_retro_watermark`)."""
        if not self.count_mode:
            raise ValueError(
                f"GramIndex at {self.path} is a membership store "
                "(count_mode=False): digests carry no positions, so "
                "retro-flagging is impossible. Rebuild with "
                "count_mode=True for the retro pass."
            )
        from ralf_spark.connectors import (
            _list_parquet_files_sized,
            write_json_sidecar,
        )

        store = self._store

        def preflight() -> list[tuple[str, int]]:
            store.pin_meta(spark, write_if_missing=False)
            sized = _list_parquet_files_sized(spark, f"{self.path}/grams")
            if not sized:
                raise ValueError(f"GramIndex at {self.path} is empty")
            return sized

        # writes the watermark sidecar, and must not interleave with a
        # maintain() renaming tags out from under the tag arithmetic;
        # r14: nor with in-flight tag-scoped adds — a partially visible
        # in-flight tag would be marked covered while missing rows. A
        # meta mismatch or an empty store refuses before any mutation.
        with store.exclusive(spark, preflight=preflight) as op:
            sized = op.preflight
            files = [f for f, _ in sized]
            grams = spark.read.parquet(*files)
            done = self._watermark(spark, self._DONE)
            new_files = [f for f in files if self._tag_of(f) not in done]
            if not new_files:
                dup_pos = grams.select("_id", "_pos").where(F.lit(False))
                return _positions_to_spans(dup_pos, self.min_tokens)
            dup_pos, cached = self._retro_delta_positions(
                spark, grams, sized, new_files
            )
            out = attach_cached(
                _positions_to_spans(dup_pos, self.min_tokens), cached
            )
            # written AFTER the plan is defined: the plan reads the
            # frozen file snapshot, so the watermark cannot starve it
            write_json_sidecar(
                spark, f"{self.path}/grams/{self._PENDING}",
                {"tags": sorted(done | {self._tag_of(f) for f in files})},
            )
            return out

    def _retro_delta_positions(
        self,
        spark,
        store: DataFrame,
        sized: list[tuple[str, int]],
        new_files: list[str],
    ) -> tuple[DataFrame, list]:
        """The duplicated ``(_id, _pos)`` set of every document touched by
        ``new_files``, plus the caches it reads — :meth:`retro_delta`'s
        two spellings (small store: one windowed pass; at scale: the
        four-stage probe protocol)."""
        cached: list = []
        new_tags = {self._tag_of(f) for f in new_files}
        is_new = F.split(
            F.split(F.col("_metadata.file_path"), "/_batch=")
            .getItem(1),
            "/",
        ).getItem(0).isin(*new_tags)

        # small-store shortcut (r14-r16): the size gate proves the
        # position log small from the listing's on-disk bytes and the
        # footer rows, zero jobs — every derived probe set is a subset of
        # its rows.
        if sizing.provably_small(sized, spark):
            # r16 (VERDICT r15 #1/#6 — the cadence's job count): a store
            # the gate just PROVED tiny (<= 64 MB on disk, <= 5M rows)
            # does not need the four-stage probe-broadcast protocol —
            # the identical (_id, _pos) set falls out of ONE pass with
            # two windows: per-digest corpus count + any-new flag
            # (partition by _dg), then a per-document touched flag
            # (partition by _id). changed == count >= 2 AND any-new;
            # touched == doc holds a changed digest; emitted == touched
            # docs' positions with count >= 2 — definitionally the
            # probe-chain's output (oracle-replayed + fold gate). This
            # removes ~10 broadcast builds and ~15 AQE stage jobs per
            # cadence; the two window shuffles move <= 64 MB, trivially
            # safe HERE and ONLY here — at scale the store must never
            # shuffle, so past the gate the probe protocol below runs
            # unchanged (windows would shuffle the full position log).
            w_dg = Window.partitionBy("_dg")
            w_id = Window.partitionBy("_id")
            flagged = (
                store.select(
                    "_id", "_pos", "_dg", is_new.alias("_new")
                )
                .select(
                    "_id",
                    "_pos",
                    F.count(F.lit(1)).over(w_dg).alias("_cnt"),
                    F.max(F.col("_new").cast("int")).over(w_dg)
                    .alias("_anynew"),
                )
                .select(
                    "_id",
                    "_pos",
                    "_cnt",
                    F.max(
                        (
                            (F.col("_cnt") >= 2)
                            & (F.col("_anynew") == 1)
                        ).cast("int")
                    ).over(w_id).alias("_touched"),
                )
            )
            dup_pos = flagged.where(
                (F.col("_touched") == 1) & (F.col("_cnt") >= 2)
            ).select("_id", "_pos")
            return dup_pos, cached

        # one store read feeds all four probe joins (r14, VERDICT r13
        # #4); memory-and-disk so a store larger than executor memory
        # spills, never OOMs. r16 (VERDICT r15 #1): the fused projection
        # also carries a 1-byte newness flag derived from the scanned file
        # path, so the new-digest stage below reads THIS cache instead of
        # paying a second parquet scan (+ decode) of the new tags — the
        # store pass the cadence must do anyway covers both.
        from pyspark import StorageLevel

        # parallelize the CACHE, not just the scan (r16): the four probe
        # stages each re-read this projection, and a store compacted into
        # few files would pin every one of them to a near-single-task
        # stage — serialized back to back under AQE. ensure_parallelism
        # is metadata-only and a no-op at cluster scale (a 100 TB store
        # already yields ~10^5 splits).
        fused = ensure_parallelism(
            store.select("_id", "_pos", "_dg", is_new.alias("_new"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        store = fused.select("_id", "_pos", "_dg")
        cached.append(fused)

        def counted(probe: DataFrame, hint: bool) -> DataFrame:
            """Corpus-wide occurrence count restricted to ``probe``'s
            digests; broadcast per the caller's hint."""
            p = F.broadcast(probe) if hint else probe
            return (
                store.join(p, "_dg")
                .groupBy("_dg")
                .agg(F.count(F.lit(1)).alias("_c"))
                .where(F.col("_c") >= 2)
                .select("_dg")
            )

        # EACH probe set gets its own broadcast decision (r13 review):
        # the derived sets can be arbitrarily larger than the new-digest
        # set they grew from — one boilerplate gram in the batch makes
        # `touched` approach the whole doc-id universe, and broadcasting
        # it under a hint sized from the (tiny) new-digest set would OOM
        # the driver at 100 TB. Each stage therefore pays one count (each
        # probe is persisted and reused by the final plan, so the stats
        # pass materializes work the plan needs anyway).
        new_dg = fused.where("_new").select("_dg").distinct().persist()
        hint_n = sizing.choose_broadcast(new_dg.count)
        changed_dg = counted(new_dg, hint_n).persist()
        # changed_dg ⊆ new_dg's digests (it is new_dg filtered by corpus
        # count), so a broadcast-safe stage 1 proves stage 2 safe — no
        # second count job in the at-scale (non-small-store) regime (r16)
        hint_c = hint_n or sizing.choose_broadcast(changed_dg.count)
        touched = (
            store.join(
                F.broadcast(changed_dg) if hint_c else changed_dg, "_dg"
            )
            .select("_id")
            .distinct()
            .persist()
        )
        hint_t = sizing.choose_broadcast(touched.count)
        touched_pos = store.join(
            F.broadcast(touched) if hint_t else touched, "_id"
        ).persist()
        tdg = touched_pos.select("_dg").distinct().persist()
        hint_g = sizing.choose_broadcast(tdg.count)
        dup_tdg = counted(tdg, hint_g)
        dup_pos = touched_pos.join(
            F.broadcast(dup_tdg) if hint_g else dup_tdg, "_dg"
        ).select("_id", "_pos")
        cached += [new_dg, changed_dg, touched, touched_pos, tdg]
        return dup_pos, cached
