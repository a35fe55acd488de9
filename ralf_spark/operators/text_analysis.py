"""Text analysis operators (E4): stats, language ID, quality, fingerprints.

North-star LLM-pipeline surface (SURVEY.md §2.10 E4; the reference has no
text operators — its transform surface is opaque per-record Python,
``ralf/operator.py:210-221``, which these replace with native expressions).

Every operator here is pure ``pyspark.sql.functions`` — no UDFs — so the
whole surface runs inside whole-stage codegen and is embarrassingly
parallel over a 100 TB corpus: per-document expressions are scan-side
(no shuffle at all), per-corpus profiles are a single partial-agg shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ralf_spark.functions.hashing import stable_hash64
from ralf_spark.functions.text import distinct_shingles, tokens, word_shingles

#: Tiny per-language stopword sets for the n-gram/lexicon language-ID
#: heuristic. Deliberately small and engine-agnostic: the same lists are
#: inlined into the DuckDB oracle.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "zu"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "que"),
    "fr": ("le", "les", "et", "est", "une", "dans", "pour", "que"),
}

#: BPE-ish word/number split used by token_count_regex (letters runs,
#: digit runs; everything else is a boundary).
TOKEN_REGEX = "[a-z]+|[0-9]+"


def stopword_count(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def stopword_count_sql(w: str, lang: str) -> str:
    lst = ", ".join(f"'{s}'" for s in STOPWORDS[lang])
    return f"len(list_filter({w}, t -> t IN ({lst})))"


def language_id(text: Column) -> Column:
    """Lexicon language-ID heuristic: argmax of per-language stopword hits
    with deterministic priority order (en, de, es, fr); 'und' when no list
    matches at all. A real deployment swaps richer lexica / char-n-gram
    scores into the same expression shape."""
    scores = {lang: stopword_count(text, lang) for lang in STOPWORDS}
    expr = F.lit("und")
    # Build the CASE chain back-to-front so earlier languages win ties.
    for lang in reversed(list(STOPWORDS)):
        others = [scores[o] for o in STOPWORDS if o != lang]
        cond = (scores[lang] > 0) & (
            scores[lang] >= F.greatest(*others)
            if len(others) > 1
            else scores[lang] >= others[0]
        )
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    # Reverse iteration builds WHEN(fr)...WHEN(en) nesting with en outermost.
    return expr


def language_id_sql(w: str) -> str:
    score = {lang: stopword_count_sql(w, lang) for lang in STOPWORDS}
    whens = "".join(
        f" WHEN {score[lang]} > 0 AND {score[lang]} >= greatest("
        + ", ".join(score[o] for o in STOPWORDS if o != lang)
        + f") THEN '{lang}'"
        for lang in STOPWORDS
    )
    return f"CASE{whens} ELSE 'und' END"


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: length saturation +
    stopword ratio + lexical diversity. Mirrors the usual pretraining-data
    quality filters (length/stopword/repetition) as one JVM expression."""
    tok = tokens(text)
    n = F.size(tok)
    length_part = F.least(F.lit(1.0), n / F.lit(100.0)) * 0.5
    stop_part = (stopword_count(text, "en") / n) * 0.3
    diversity = (F.size(F.array_distinct(tok)) / n) * 0.2
    return F.when(n > 0, length_part + stop_part + diversity).otherwise(0.0)


def quality_score_sql(w: str) -> str:
    stop = stopword_count_sql(w, "en")
    return (
        f"CASE WHEN len({w}) > 0 THEN"
        f" least(1.0, len({w}) / 100.0) * 0.5"
        f" + ({stop} / len({w})) * 0.3"
        f" + (len(list_distinct({w})) / len({w})) * 0.2"
        f" ELSE 0.0 END"
    )


def token_count_regex(text: Column, pattern: str = TOKEN_REGEX) -> Column:
    """Regex token count (BPE-ish splitter) — `regexp_extract_all` stays
    JVM-side; contrast with true BPE which would need a pandas UDF."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def token_count_regex_sql(expr: str, pattern: str = TOKEN_REGEX) -> str:
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


def add_simhash(
    df,
    text_col: str = "text",
    out_col: str = "simhash16",
    bits: int = 16,
    shingle_n: int = 3,
):
    """SimHash as a DataFrame transform — the form to use on real data.

    Materializes the shingle-hash array in its OWN projection, then runs
    the ``bits`` bit-vote aggregates over the precomputed longs. Expressing
    everything as one column expression instead (``simhash_fingerprint``)
    makes each of the 16 votes re-evaluate the md5 transform over every
    shingle — measured 68x slower at sf0.1. md5 runs once per shingle here.
    """
    hs_df = df.withColumn(
        "__hs",
        F.transform(
            distinct_shingles(F.col(text_col), shingle_n),
            lambda s: stable_hash64(s),
        ),
    )
    return hs_df.withColumn(
        out_col, _simhash_votes(F.col("__hs"), bits)
    ).drop("__hs")


def simhash_fingerprints_agg(
    df,
    id_col: str,
    text_col: str = "text",
    bits: int = 48,
    shingle_n: int = 3,
    hash_fn: str | None = None,
):
    """SimHash fingerprints as ONE codegen'd hash aggregate — the
    wide-fingerprint spelling.

    ``add_simhash``'s per-row higher-order aggregates are interpreted per
    array element by Catalyst, so at ``bits`` = 48–64 the vote loop costs
    bits × shingles interpreted lambda evaluations per document (measured
    ~48 ms/doc at 48 bits — 240s for the sf0.1 corpus). Here the shingle
    hashes are computed once, EXPLODED, and all ``bits`` votes become
    ``sum(CASE)`` columns of a single whole-stage-codegen hash aggregate
    (map-side partial, one shuffle of ``bits`` longs per doc): same
    fingerprints, JVM-compiled inner loop (measured ~50× faster at 48
    bits). Returns (id_col, fp); documents with NO shingles are absent
    (the expression form fingerprints them 0 — callers that keep empty
    docs should left-join and coalesce to 0).

    Prefer ``add_simhash`` for narrow fingerprints on a scan-side path
    (no shuffle); prefer this for the wide fingerprints dedup needs.
    ``hash_fn=None`` resolves the engine-wide mode (md5 = oracle-
    replayable default; ``SPARK_GRAFT_HASH_FN=xxhash64`` = production —
    fingerprints are NOT comparable between modes).
    """
    from ralf_spark.functions.hashing import default_hash_fn

    hash_fn = (hash_fn or default_hash_fn())
    shingle_hash = (
        (lambda s: F.xxhash64(s)) if hash_fn == "xxhash64"
        else (lambda s: stable_hash64(s))
    )
    hs = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                distinct_shingles(F.col(text_col), shingle_n),
                shingle_hash,
            )
        ).alias("_h"),
    )
    votes = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") >= 0, F.lit(1 << b)).otherwise(0)
        fp = term if fp is None else fp + term
    return (
        hs.groupBy(id_col)
        .agg(*votes)
        .select(F.col(id_col), fp.cast("long").alias("fp"))
    )


def simhash_fingerprint(text: Column, bits: int = 16, shingle_n: int = 3) -> Column:
    """SimHash document fingerprint over the distinct-shingle set.

    bit b of the fingerprint is set iff Σ_shingles (±1 by bit b of the
    shingle's stable hash) >= 0. Near-duplicate documents land at small
    Hamming distance; used as a cheap corpus-level fingerprint column.
    Cross-engine reproducible (md5-derived hashes, same as MinHash).

    NOTE: as a single column expression the hash transform is re-evaluated
    per bit-vote — fine for small frames/tests; on real data use
    :func:`add_simhash`, which hashes once.
    """
    hs = F.transform(
        distinct_shingles(text, shingle_n), lambda s: stable_hash64(s)
    )
    return _simhash_votes(hs, bits)


def _bit_vote(mask: int):
    # Closure (not a default arg): pyspark binds one lambda variable per
    # positional parameter, so extra defaulted params would become Columns.
    return lambda acc, h: acc + F.when(
        h.bitwiseAND(F.lit(mask)) != 0, 1
    ).otherwise(-1)


def _simhash_votes(hs: Column, bits: int) -> Column:
    total = F.lit(0)
    for b in range(bits):
        sgn_sum = F.aggregate(hs, F.lit(0).cast("long"), _bit_vote(1 << b))
        total = total + F.when(sgn_sum >= 0, F.lit(1 << b)).otherwise(0)
    # Empty shingle set => fingerprint 0 (matches the SQL spelling, where
    # list_sum over an empty list is NULL).
    return F.when(F.size(hs) > 0, total).otherwise(0).cast("long")


def simhash_fingerprint_sql(
    sh: str, bits: int = 16, hex_chars: int = 15
) -> str:
    """DuckDB spelling over a bound distinct-shingle list column ``sh``."""
    h = f"CAST(('0x' || substring(md5(s), 1, {hex_chars})) AS BIGINT)"
    parts = " + ".join(
        f"CASE WHEN list_sum(list_transform({sh}, s -> CASE WHEN ({h} &"
        f" {1 << b}) <> 0 THEN 1 ELSE -1 END)) >= 0 THEN {1 << b} ELSE 0 END"
        for b in range(bits)
    )
    return f"CAST(CASE WHEN len({sh}) > 0 THEN {parts} ELSE 0 END AS BIGINT)"


def winnow_select(hashes: Column, w: int = 4) -> Column:
    """Window-minimum fingerprint selection over a k-gram hash array —
    the winnowing scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03, MOSS's
    local fingerprinting): every window of ``w`` consecutive hashes
    contributes its minimum, and the distinct minima are the fingerprint
    set, so any shared run of ``w + k - 1`` tokens between two documents
    yields at least one shared fingerprint. Arrays with at least one
    hash but fewer than ``w`` windows fingerprint as their minimum (the
    scheme's short-input rule).

    Pass a BOUND column (materialized by a prior projection) on real
    data: a bound attribute is evaluated once per row, so the per-window
    ``slice`` reads the stored array instead of recomputing the hash
    pipeline per window."""
    wins = F.transform(
        F.sequence(F.lit(1), F.size(hashes) - (w - 1)),
        lambda i: F.array_min(F.slice(hashes, i, w)),
    )
    return (
        F.when(F.size(hashes) >= w, F.array_sort(F.array_distinct(wins)))
        .when(F.size(hashes) > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<bigint>"))
    )


def add_winnow_fingerprints(
    df,
    text_col: str = "text",
    out_col: str = "fingerprints",
    k: int = 3,
    w: int = 4,
):
    """Winnowing fingerprints (:func:`winnow_select` over word ``k``-gram
    hashes) as a DataFrame transform.

    Materializes the k-gram hash array in its OWN projection (one md5 per
    shingle), then runs the window-minimum selection over the stored
    longs — same single-hash-pass discipline as :func:`add_simhash`. As
    one inline expression the hash pipeline would be re-evaluated per
    window (measured ~50× slower at sf0.01)."""
    hs_df = df.withColumn(
        "__wh",
        F.transform(
            word_shingles(tokens(F.col(text_col)), k),
            lambda s: stable_hash64(s),
        ),
    )
    return hs_df.withColumn(out_col, winnow_select(F.col("__wh"), w)).drop(
        "__wh"
    )


# ------------------------------------------------------------ E4 PII scan
#: Engine-portable PII regexes (identical leftmost-first semantics in
#: Java regex and DuckDB's RE2; no lookaround, no capture groups). The
#: patterns are deliberately conservative/recall-oriented — production
#: swaps richer rules (or an NER model via mapInPandas) into the same
#: expression shape.
PII_PATTERNS: dict[str, str] = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phones": r"\+\d{7,15}",
    "id_numbers": r"\b\d{9,}\b",
}


def pii_counts(text: Column) -> list[Column]:
    """One count column per PII pattern (same order as PII_PATTERNS).
    Pure `regexp_extract_all` + `size` — scan-side, codegen-friendly;
    counts are independent per pattern (a +1415... phone also counts as
    an id_number run — by design, redaction order disambiguates)."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(p), F.lit(0))).alias(name)
        for name, p in PII_PATTERNS.items()
    ]


def pii_counts_sql(expr: str) -> list[str]:
    return [
        f"len(regexp_extract_all({expr}, '{p}')) AS {name}"
        for name, p in PII_PATTERNS.items()
    ]


def redact_pii(text: Column) -> Column:
    """Replace every PII match with a typed placeholder token. Applied in
    PII_PATTERNS order (emails before ipv4/phones/ids) so nested digit
    runs inside an already-redacted match are not double-redacted."""
    out = text
    for name, p in PII_PATTERNS.items():
        out = F.regexp_replace(out, p, f"<{name.upper()}>")
    return out


# --------------------------------------------- content-defined chunking


def cdc_chunks(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    mask_bits: int = 5,
    hash_fn: str | None = None,
):
    """Content-defined chunking: cut each document's token stream where a
    rolling window's hash is divisible by ``2**mask_bits`` (expected
    chunk length ~2**mask_bits tokens) — the EDIT-STABLE complement of
    the fixed-window ``chunk_documents``: inserting or deleting tokens
    only re-cuts the chunks that contain the edit, so downstream
    chunk-hash dedup / incremental storage sees every other chunk
    unchanged (the Rabin/rsync/LBFS boundary trick, token-granular).

    Boundary rule is purely positional (no min/max chunk clamps), which
    is what makes it one row-local expression: boundaries, cut points
    and chunk ranges are array ops over the token list — a single scan,
    NO shuffle before the presentation sort, embarrassingly parallel at
    100 TB. Documents shorter than ``window`` tokens become one chunk;
    empty documents yield no rows.

    ``hash_fn="md5"`` (default) keeps boundaries replayable in the
    DuckDB oracle; ``"xxhash64"`` is the production spelling (boundary
    POSITIONS differ between modes — the same recall-vs-replay trade as
    the MinHash family; the chunking properties are identical).

    Returns (doc_id, chunk_idx, chunk_start, chunk_end, chunk_tokens,
    chunk_hash) — 1-based inclusive token positions; ``chunk_hash`` is
    the content hash of the chunk text (the storage-dedup key): the
    60-bit ``stable_hash64`` in md5 mode, the full signed 64-bit
    ``xxhash64`` in production mode.
    """
    from ralf_spark.functions.hashing import default_hash_fn
    from ralf_spark.functions.text import _let_bound
    from ralf_spark.operators.util import ensure_parallelism

    hash_fn = hash_fn or default_hash_fn()
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    mod = 1 << mask_bits
    h = F.xxhash64 if hash_fn == "xxhash64" else stable_hash64
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("_w"),
        )
    )
    n = F.size("_w")
    grams = word_shingles(F.col("_w"), window)
    ends = F.filter(
        F.transform(
            grams,
            lambda g, i: F.when(
                h(g) % mod == 0, i + window
            ).otherwise(F.lit(None).cast("int")),
        ),
        lambda x: x.isNotNull() & (x < n),
    )
    cuts = F.concat(
        F.array(F.lit(0)), ends.cast("array<int>"), F.array(n)
    )
    chunks = _let_bound(
        cuts,
        lambda c: F.transform(
            F.sequence(F.lit(1), F.size(c) - 1),
            lambda j: F.struct(
                (F.element_at(c, j) + 1).alias("s"),
                F.element_at(c, j + 1).alias("e"),
            ),
        ),
    )
    chunks = F.when(n > 0, chunks).otherwise(
        F.array().cast("array<struct<s:int,e:int>>")
    )
    s, e = F.col("_ch.s"), F.col("_ch.e")
    return (
        base.select("doc_id", "_w", F.posexplode(chunks).alias("_ci", "_ch"))
        .select(
            "doc_id",
            (F.col("_ci") + 1).alias("chunk_idx"),
            s.alias("chunk_start"),
            e.alias("chunk_end"),
            (e - s + 1).alias("chunk_tokens"),
            h(F.concat_ws(" ", F.slice("_w", s, e - s + 1))).alias(
                "chunk_hash"
            ),
        )
    )


def cdc_chunk_dedup_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    mask_bits: int = 5,
    hash_fn: str | None = None,
):
    """Chunk-level storage-dedup statistics over the CDC chunking (r12):
    per document, how many of its chunks are DEDUPABLE — their content
    hash occurs more than once corpus-wide (in another document or
    repeated within this one), i.e. a content-addressed store would
    write them once. ``dup_frac`` weighted by chunk tokens is the
    storage saving the CDC boundaries unlock; because boundaries are
    edit-stable, near-identical documents share most chunks even when
    one has an insertion the fixed-window chunker would cascade through.

    Scale: one row-local chunking scan, then ONE groupBy on the 8-byte
    chunk hash (map-side partial count) and a rejoin keyed by the same
    hash — only (hash, id, int) rows shuffle, never chunk text. AQE
    skew-split covers a boilerplate chunk shared by 10^6 docs.

    Returns (doc_id, n_chunks, dup_chunks, dup_tokens, dup_frac) —
    ``dup_frac`` = dup chunk tokens / total chunk tokens, 0.0 for
    documents with no dedupable chunk.
    """
    ch = cdc_chunks(
        df, id_col=id_col, text_col=text_col,
        window=window, mask_bits=mask_bits, hash_fn=hash_fn,
    )
    occ = (
        ch.groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .where(F.col("_occ") >= 2)
        .select("chunk_hash")
        .withColumn("_dup", F.lit(1))
    )
    return (
        ch.join(occ, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(F.coalesce("_dup", F.lit(0))).cast("int")
            .alias("dup_chunks"),
            F.sum(
                F.when(F.col("_dup").isNotNull(), F.col("chunk_tokens"))
                .otherwise(F.lit(0))
            ).cast("int").alias("dup_tokens"),
            F.round(
                F.sum(
                    F.when(
                        F.col("_dup").isNotNull(), F.col("chunk_tokens")
                    ).otherwise(F.lit(0))
                ).cast("double") / F.sum("chunk_tokens"),
                4,
            ).alias("dup_frac"),
        )
    )


def cdc_chunk_dedup_stats_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    mask_bits: int = 5,
) -> str:
    """DuckDB twin of :func:`cdc_chunk_dedup_stats` (md5 mode)."""
    inner = cdc_chunks_sql(
        table=table, id_col=id_col, text_col=text_col,
        window=window, mask_bits=mask_bits,
    )
    return f"""
    WITH chunks AS ({inner}),
    occ AS (
      SELECT chunk_hash FROM chunks
      GROUP BY chunk_hash HAVING count(*) >= 2
    ),
    marked AS (
      SELECT c.doc_id, c.chunk_tokens,
             (c.chunk_hash IN (SELECT chunk_hash FROM occ)) AS dup
      FROM chunks c
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_chunks,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS INTEGER)
             AS dup_chunks,
           CAST(sum(CASE WHEN dup THEN chunk_tokens ELSE 0 END)
                AS INTEGER) AS dup_tokens,
           round(sum(CASE WHEN dup THEN chunk_tokens ELSE 0 END)::DOUBLE
                 / sum(chunk_tokens), 4) AS dup_frac
    FROM marked GROUP BY doc_id
    """


def cdc_chunks_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    mask_bits: int = 5,
) -> str:
    """DuckDB twin of :func:`cdc_chunks` (md5 mode) — identical boundary
    hashes, cut points, and chunk content hashes."""
    from ralf_spark.functions.hashing import stable_hash64_sql
    from ralf_spark.functions.text import tokens_sql, word_shingles_sql

    mod = 1 << mask_bits
    bh = stable_hash64_sql(f"gs[i]")
    ch = stable_hash64_sql("array_to_string(w[cuts[j]+1 : cuts[j+1]], ' ')")
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id, {tokens_sql(text_col)} AS w FROM {table}
    ),
    g AS (
      SELECT doc_id, w, {word_shingles_sql('w', window)} AS gs FROM toks
    ),
    cut AS (
      SELECT doc_id, w,
             [0] || list_filter(
               list_transform(generate_series(1, len(gs)),
                 i -> CASE WHEN {bh} % {mod} = 0
                      THEN CAST(i + {window} - 1 AS INTEGER) END),
               x -> x IS NOT NULL AND x < len(w)) || [CAST(len(w) AS INTEGER)]
               AS cuts
      FROM g
    ),
    ch AS (
      SELECT doc_id, w, cuts,
             unnest(generate_series(1, len(cuts) - 1)) AS j
      FROM cut WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(j AS INTEGER) AS chunk_idx,
           CAST(cuts[j] + 1 AS INTEGER) AS chunk_start,
           CAST(cuts[j+1] AS INTEGER) AS chunk_end,
           CAST(cuts[j+1] - cuts[j] AS INTEGER) AS chunk_tokens,
           {ch} AS chunk_hash
    FROM ch
    """
