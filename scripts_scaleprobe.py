"""Empirical scale probe for the quadratic-risk paths (VERDICT r7 ask #1).

SCALE.md argues every candidate-generation path is Σ bucket² / Σ cluster²
— never n² — and the plan tests pin the shuffle/broadcast STRUCTURE, but
structure alone doesn't prove the constant stays bounded as data grows.
This script converts the design claims into measurements: it generates
deterministic fixtures at 1x/4x/16x/48x the bench scale (sf0.1 row
counts), runs the riskiest operators at each point, records wall time +
shuffle read/write bytes (Spark REST API) + output rows, and fits the
observed scaling exponent  alpha = d log(time) / d log(n)  against the
predicted one.

Probed paths and predictions (SCALE.md):

- ``lsh_near_dup``       near_dup_pairs banded-LSH join   -> ~1 (Σ bucket²
  with bucket sizes bounded by dup-cluster size; vocabulary grows with
  the corpus, as in any real crawl)
- ``simhash_pairs``      Hamming-band bucket join         -> ~1
- ``decontaminate``      8-gram join vs FIXED eval set    -> ~1 (eval side
  constant, broadcast)
- ``sliding_explode``    sliding window explode strategy  -> ~1 (each row
  fans out to ceil(window/slide) emitting windows, a constant)
- ``semdedup_k_lin``     SemDeDup with seeds k ∝ n        -> ~1 for the
  pair join (cluster sizes bounded) BUT the brute nearest-seed assignment
  is n·k = O(n²) — the probe exposes whichever dominates
- ``semdedup_k_sqrt``    SemDeDup with seeds k ∝ sqrt(n)  -> ~1.5
  (cluster size grows as sqrt(n), Σ cluster² = n^1.5) — the REGIME the
  SemDeDup paper's small-k configs imply; measured to document why the
  k ∝ n contract in semdedup_prune's docstring is the one that scales

Fixtures mirror the driver fixtures' shape (documents ~55 tokens with a
10% near-dup rate in small clusters, events with per-key history held
constant by scaling users ∝ n, embeddings as a Gaussian mixture whose
true-center count scales with n). Seeded; regenerating is idempotent.

Usage:  python scripts_scaleprobe.py [--mults 1,4,16,48] [--ops a,b,...]
Writes  SCALEPROBE.json (raw) and refreshes the table in SCALEPROBE.md.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ralf_spark.session import get_spark  # noqa: E402

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".scaleprobe")
UI_PORT = 4057

# sf0.1 row counts (TESTDATA.md) — multipliers scale from here
BASE_DOCS = 5_000
BASE_EVENTS = 100_000
BASE_USERS = 1_500
BASE_VECS = 2_000
DIM = 16
VOCAB = 50_000  # grows-with-corpus premise: large & fixed ≫ any probe size


# ---------------------------------------------------------------- fixtures
def _docs_path(m: int) -> str:
    return os.path.join(DATA_ROOT, f"x{m}", "documents.parquet")


def gen_documents(m: int) -> str:
    """n = 5000·m docs, ~40-70 tokens from a 50k-word vocab; 10% of docs
    are near-copies (10% token mutation) of an earlier doc, in clusters
    of bounded size — duplicate COUNT scales with the corpus, duplicate
    CLUSTER SIZE does not (the real-crawl premise behind Σ bucket²)."""
    path = _docs_path(m)
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.RandomState(4242 + m)
    n = BASE_DOCS * m
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.rand() < 0.10:
            # near-dup of a recent doc (recent => bounded cluster sizes)
            base = texts[rng.randint(max(0, i - 200), i)].split(" ")
            k = max(1, len(base) // 10)
            idx = rng.choice(len(base), size=k, replace=False)
            for j in idx:
                base[j] = f"w{rng.randint(VOCAB)}"
            texts.append(" ".join(base))
        else:
            ln = rng.randint(40, 71)
            texts.append(" ".join(
                f"w{w}" for w in rng.randint(0, VOCAB, size=ln)
            ))
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            [("en", "zh", "fr", "de")[i % 4] for i in range(n)], pa.string()
        ),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, path)
    return path


def gen_documents_adversarial(m: int) -> str:
    """Adversarial corpus (r9, VERDICT r8 #1): 5000·m background docs PLUS
    one giant duplicate cluster of 100·m near-copies of a single base doc
    (5% token mutation each). Candidate pairs inside the cluster grow
    ~c²/2 — the shape that breaks every Σ bucket² bound and, pre-r9, drove
    the forced candidate broadcast toward Spark's 8 GB hard cap."""
    path = os.path.join(DATA_ROOT, f"adv{m}", "documents.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.RandomState(1337 + m)
    n_bg = BASE_DOCS * m
    texts: list[str] = []
    for _ in range(n_bg):
        ln = rng.randint(40, 71)
        texts.append(" ".join(
            f"w{w}" for w in rng.randint(0, VOCAB, size=ln)
        ))
    base = [f"w{w}" for w in rng.randint(0, VOCAB, size=60)]
    for _ in range(100 * m):
        doc = list(base)
        for j in rng.choice(60, size=3, replace=False):
            doc[j] = f"w{rng.randint(VOCAB)}"
        texts.append(" ".join(doc))
    n = len(texts)
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
    })
    pq.write_table(tbl, path)
    return path


def gen_events(m: int) -> str:
    """n = 100k·m events over 1500·m users — per-key history CONSTANT
    (~67 events/user), the documented scaling direction for the window
    operators (key cardinality grows, per-key depth doesn't)."""
    path = os.path.join(DATA_ROOT, f"x{m}", "events.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.RandomState(777 + m)
    n = BASE_EVENTS * m
    users = BASE_USERS * m
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    tbl = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(
            ts0 + np.sort(rng.randint(0, 30 * 86_400_000_000, size=n)
                          ).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.randint(0, users, size=n), pa.int64()),
        "event_type": pa.array(
            np.array(["click", "view", "purchase", "scroll", "hover"])[
                rng.randint(0, 5, size=n)
            ], pa.string()
        ),
        "value": pa.array(rng.rand(n) * 100.0, pa.float64()),
    })
    pq.write_table(tbl, path)
    return path


def gen_events_skewed(m: int, hot: float = 0.25) -> str:
    """Skewed events (r9, VERDICT r8 #5): 100k·m events over 1500·m
    users, but user 0 holds ~``hot`` of ALL rows — the hot-key shape that
    funnels a join/window partition through one task. ``hot=0`` writes
    the uniform twin (r10: the second skew level of the auto-salt-sizing
    probe) under its own directory."""
    tag = "skew" if hot else "uni"
    path = os.path.join(DATA_ROOT, f"{tag}{m}", "events.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.RandomState(555 + m)
    n = BASE_EVENTS * m
    users = BASE_USERS * m
    uid = rng.randint(1, users, size=n)
    if hot:
        uid[rng.rand(n) < hot] = 0  # the hot key
    tbl = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "user_id": pa.array(uid, pa.int64()),
        "t": pa.array(np.sort(rng.randint(0, 10_000_000, size=n)),
                      pa.int64()),
        "value": pa.array(rng.rand(n) * 100.0, pa.float64()),
    })
    pq.write_table(tbl, path)
    return path


def gen_embeddings(m: int) -> str:
    """n = 2000·m vectors, dim 16, Gaussian mixture whose true-center
    count scales with n (cluster STRUCTURE density is scale-invariant,
    like a growing corpus of topics)."""
    path = os.path.join(DATA_ROOT, f"x{m}", "embeddings.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.RandomState(909 + m)
    n = BASE_VECS * m
    k_true = max(8, n // 250)
    centers = rng.randn(k_true, DIM)
    asg = rng.randint(0, k_true, size=n)
    X = centers[asg] + 0.25 * rng.randn(n, DIM)
    tbl = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([row.tolist() for row in X.round(4)],
                              pa.list_(pa.float32())),
        "label": pa.array(asg.astype("int32"), pa.int32()),
    })
    pq.write_table(tbl, path)
    return path


# ------------------------------------------------------------ measurement
def _rest_shuffle_totals() -> tuple[int, int]:
    """Sum (shuffle_read_bytes, shuffle_write_bytes) over all completed
    stages via the UI REST API — local-mode-friendly executor metrics."""
    try:
        base = f"http://localhost:{UI_PORT}/api/v1/applications"
        apps = json.load(urllib.request.urlopen(base, timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/{app_id}/stages?status=complete", timeout=10))
        rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
        wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        return rd, wr
    except Exception:
        return 0, 0


def _session():
    return get_spark("scaleprobe", extra_confs={
        "spark.ui.enabled": "true",
        "spark.ui.port": str(UI_PORT),
    })


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _measure(build, spark) -> dict:
    """warm-up pass (plan compile + JIT), then the timed pass with
    shuffle-byte attribution from the REST stage totals. Releases are
    BLOCKING + gc'd between passes (r9): lazily-released blocks and
    broadcast remnants from earlier passes otherwise linger into later
    scale points and inflate their walls by up to ~2x (measured — the
    first lsh re-probe read 35 s at 48x where a hygienic session reads
    ~8 s)."""
    import gc

    from ralf_spark.operators.util import unpersist_cached

    df = build(spark)
    _drain(df)
    unpersist_cached(df, blocking=True)
    spark.catalog.clearCache()
    gc.collect()
    rd0, wr0 = _rest_shuffle_totals()
    t0 = time.perf_counter()
    df = build(spark)
    _drain(df)
    sec = time.perf_counter() - t0
    rows = df.count()  # cheap re-run; excluded from the timing
    unpersist_cached(df, blocking=True)
    spark.catalog.clearCache()
    gc.collect()
    rd1, wr1 = _rest_shuffle_totals()
    return {
        "sec": round(sec, 3),
        "shuffle_read_mb": round((rd1 - rd0) / 1e6, 2),
        "shuffle_write_mb": round((wr1 - wr0) / 1e6, 2),
        "rows": rows,
    }


# --------------------------------------------------------------- the ops
def op_lsh_near_dup(spark, m: int):
    from ralf_spark.operators.dedup import near_dup_pairs
    from ralf_spark.table import FeatureTable

    docs = spark.read.parquet(_docs_path(m))
    return near_dup_pairs(
        FeatureTable(docs, key="doc_id"), hash_fn="xxhash64"
    )


def op_lsh_near_dup_unicode(spark, m: int):
    """r13: the identical LSH near-dup pipeline with
    token_mode="unicode" — the ONLY Python in the text family (the
    Arrow-batched NFC+lowercase kernel) inserted before the split.
    Predicted exp ~1 like the ascii twin; the absolute delta vs
    op_lsh_near_dup at each scale point is the kernel's measured cost
    (one extra Arrow round-trip per row, no shuffle, no new stage)."""
    from ralf_spark.operators.dedup import near_dup_pairs
    from ralf_spark.table import FeatureTable

    docs = spark.read.parquet(_docs_path(m))
    return near_dup_pairs(
        FeatureTable(docs, key="doc_id"), hash_fn="xxhash64",
        token_mode="unicode",
    )


def op_simhash_pairs(spark, m: int):
    from ralf_spark.operators.dedup import simhash_near_dup_pairs
    from ralf_spark.table import FeatureTable

    docs = spark.read.parquet(_docs_path(m))
    # pin the MINIMUM-band spelling (r9: default is now auto-selected
    # from the corpus count) — this row exists to measure its floor
    return simhash_near_dup_pairs(
        FeatureTable(docs, key="doc_id"), hash_fn="xxhash64", blocks=4
    )


def op_simhash_blocks6(spark, m: int):
    """Manku block-combination tables (r8): C(6,3)=20 tables on 24-bit
    keys — the config that removes the n²/2^12 candidate floor the
    default 4x12-bit banding carries."""
    from ralf_spark.operators.dedup import simhash_near_dup_pairs
    from ralf_spark.table import FeatureTable

    docs = spark.read.parquet(_docs_path(m))
    return simhash_near_dup_pairs(
        FeatureTable(docs, key="doc_id"), hash_fn="xxhash64", blocks=6
    )


def op_jaccard_inverted(spark, m: int):
    """r9: the rare-shingle inverted-index dedup path (Σ df² ≤ max_df ×
    postings with hot shingles pruned — predicted ~linear) had never
    been probed; runs under the r9 AUTO verification spelling."""
    from ralf_spark.operators.dedup import jaccard_pairs_inverted
    from ralf_spark.table import FeatureTable

    docs = spark.read.parquet(_docs_path(m))
    return jaccard_pairs_inverted(FeatureTable(docs, key="doc_id"))


def op_decontaminate(spark, m: int):
    # the registry query itself (fixed-percent eval split, broadcast
    # gram set) pointed at the probe directory
    from ralf_spark.queries import QUERIES

    return QUERIES["decontaminate_against_eval"].fn(
        spark, os.path.join(DATA_ROOT, f"x{m}")
    )


def op_sliding_explode(spark, m: int):
    from ralf_spark.operators.windows import sliding_count_window
    from ralf_spark.table import FeatureTable

    ev = spark.read.parquet(
        os.path.join(DATA_ROOT, f"x{m}", "events.parquet")
    )
    return sliding_count_window(
        FeatureTable(ev, key="user_id", ts="ts", seq="event_id"),
        window_size=20,
        slide_size=5,
        payload_cols=["value"],
        payload_strategy="explode",
    ).df


def _semdedup(spark, m: int, k: int, **kw):
    from ralf_spark.operators.similarity import semdedup_prune
    from ralf_spark.table import FeatureTable

    emb = spark.read.parquet(
        os.path.join(DATA_ROOT, f"x{m}", "embeddings.parquet")
    )
    # deterministic seeds: the first k corpus vectors (id order)
    seeds = (
        emb.orderBy("vec_id").limit(k)
        .selectExpr("vec_id AS seed_id", "embedding AS seed_vec")
    )
    return semdedup_prune(
        FeatureTable(emb, key="vec_id"), seeds, threshold=0.9, **kw
    )


def op_semdedup_k_lin(spark, m: int):
    return _semdedup(spark, m, k=max(8, BASE_VECS * m // 250))


def op_semdedup_k_sqrt(spark, m: int):
    return _semdedup(spark, m, k=max(8, int(math.sqrt(BASE_VECS * m))))


def op_semdedup_two_level(spark, m: int):
    """k ∝ n with the coarse-probed assignment (r8 fix): ~2n√k cosines
    instead of the brute n·k scan."""
    return _semdedup(
        spark, m, k=max(8, BASE_VECS * m // 250), two_level=True
    )


def op_minhash_index_add(spark, m: int):
    """Incremental dedup: add a FIXED 5k-doc batch to a MinHash index
    whose store grew with m — the per-crawl-batch cost claim. Expected:
    shuffle ∝ batch + slim store buckets (16B rows); the fat signature
    snapshot only ever SCANS (chained-broadcast scoring, r8). The add is
    replayed under a fixed batch_tag, so re-running replaces itself
    (idempotent — the same property the exactly-once tests pin)."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.dedup import MinHashIndex
    from ralf_spark.table import FeatureTable

    idx_path = os.path.join(DATA_ROOT, f"x{m}", "mhidx")
    idx = MinHashIndex(idx_path, hash_fn="xxhash64")
    if not os.path.exists(os.path.join(idx_path, "_meta")):
        store = FeatureTable(
            spark.read.parquet(_docs_path(m)), key="doc_id"
        )
        idx.build(store)
    batch = FeatureTable(
        spark.read.parquet(_docs_path(1))
        .where(F.col("doc_id") < 5000)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000),
        key="doc_id",
    )
    return idx.add(batch, batch_tag="probe")


def _ivf_index_for(spark, m: int):
    """Build-once helper: the persistent IVF index for probe scale m
    (cells ∝ n keeps ~250 vectors/cell) plus its 16-query batch."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.similarity import IvfIndex, kmeans_fit
    from ralf_spark.table import FeatureTable

    idx_path = os.path.join(DATA_ROOT, f"x{m}", "ivfidx")
    idx = IvfIndex(idx_path)
    emb = spark.read.parquet(
        os.path.join(DATA_ROOT, f"x{m}", "embeddings.parquet")
    )
    ft = FeatureTable(emb, key="vec_id")
    if not os.path.exists(os.path.join(idx_path, "centroids")):
        k = max(8, BASE_VECS * m // 250)
        seeds = (
            emb.orderBy("vec_id").limit(k)
            .selectExpr("vec_id AS centroid_id",
                        "embedding AS centroid_vec")
        )
        cen = kmeans_fit(ft, seeds, max_iter=4)
        idx.build(ft, cen)
    q = (
        emb.orderBy("vec_id").limit(16)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"))
    )
    return idx, q


def op_ivf_index_query(spark, m: int):
    """Serving read at scale: top-k query against a persistent IVF index
    whose corpus AND cell count grow with m. Expected ~flat: the
    probed-cell partition filter prunes the scan to nprobe cells
    regardless of corpus size."""
    idx, q = _ivf_index_for(spark, m)
    return idx.query(q, k=10, nprobe=2)


_TL_IDX_CACHE: dict = {}


def op_ivf_index_query_twolevel(spark, m: int):
    """r9 (VERDICT r8 #2): same serving read as op_ivf_index_query but
    with the TWO-LEVEL driver-side cell selection (coarse_probe=2) — the
    O(q·√k) scale path for the residual O(q·k) coarse scan finding 7
    documented. The IvfIndex instance is cached per scale so the
    TwoLevelCells grouping builds once per index open, as a long-lived
    serving process would hold it."""
    if m not in _TL_IDX_CACHE:
        _TL_IDX_CACHE[m] = _ivf_index_for(spark, m)
    idx, q = _TL_IDX_CACHE[m]
    return idx.query(q, k=10, nprobe=2, coarse_probe=2)


def op_gram_index_add(spark, m: int):
    """r11b: incremental exact-substring dedup — add a FIXED 5k-doc batch
    to a GramIndex whose digest store grew with m. Expected: shuffles ∝
    batch only (batch digests broadcast into the store scan; the store
    never shuffles), wall = one store SCAN — slim 8-byte digest rows, so
    the scan cost stays IO-trivial at probe sizes (honest contract:
    O(store-scan) per add, not O(1); the scan is embarrassingly parallel
    and column-pruned at cluster scale). Replayed under a fixed
    batch_tag (idempotent)."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    idx_path = os.path.join(DATA_ROOT, f"x{m}", "gramidx")
    idx = GramIndex(idx_path, hash_fn="xxhash64")
    if not os.path.exists(os.path.join(idx_path, "_meta")):
        store = FeatureTable(
            spark.read.parquet(_docs_path(m)), key="doc_id"
        )
        idx.build(store)
    batch = FeatureTable(
        spark.read.parquet(_docs_path(1))
        .where(F.col("doc_id") < 5000)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000),
        key="doc_id",
    )
    return idx.add(batch, batch_tag="probe")


def op_gram_retro(spark, m: int):
    """r12: count-mode GramIndex RETRO pass over a store grown with m —
    one O(store) pass (groupBy(digest) occurrence count over the
    position log + position rejoin + island merge). Predicted exp ~1 in
    time and shuffle: this is the once-per-maintenance-cadence cost of
    full Lee et al. retro-flagging; adds never pay it (see
    op_gram_index_add_count). Store builds in the warm-up pass."""
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    idx_path = os.path.join(DATA_ROOT, f"x{m}", "gramidx_cnt")
    idx = GramIndex(idx_path, hash_fn="xxhash64", count_mode=True)
    if not os.path.exists(os.path.join(idx_path, "_meta")):
        idx.build(FeatureTable(
            spark.read.parquet(_docs_path(m)), key="doc_id"
        ))
    return idx.retro(spark)


def op_gram_index_add_count(spark, m: int):
    """r12: count-mode GramIndex add of a FIXED 5k-doc batch vs store
    grown with m — count mode must keep the membership add's cost shape
    (shuffle ∝ batch, wall = one store scan; predicted shuffle exp ~0):
    it changes WHAT is appended (the batch's position rows instead of
    distinct digests), never the store-side probe."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.table import FeatureTable

    idx_path = os.path.join(DATA_ROOT, f"x{m}", "gramidx_cntadd")
    idx = GramIndex(idx_path, hash_fn="xxhash64", count_mode=True)
    if not os.path.exists(os.path.join(idx_path, "_meta")):
        idx.build(FeatureTable(
            spark.read.parquet(_docs_path(m)), key="doc_id"
        ))
    batch = FeatureTable(
        spark.read.parquet(_docs_path(1))
        .where(F.col("doc_id") < 5000)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000),
        key="doc_id",
    )
    return idx.add(batch, batch_tag="probe")


def op_gram_retro_delta(spark, m: int):
    """r13 (finding 22's scale half): retro_delta over a count-mode
    store grown with m, covering ONE FIXED 5k-doc batch — the watermark
    is reset before every call so each pass measures the same cadence
    ("everything but the probe batch is already covered"). Predicted:
    SHUFFLE flat-ish in m (the touched neighborhood ∝ the fixed batch's
    dup structure, not the store) where op_gram_retro's shuffle is ∝ m —
    wall keeps an O(store) column-pruned scan component by design (the
    new-digest probes broadcast into store scans), so the deterministic
    shuffle/emission metric is the conclusion-bearing one."""
    from pyspark.sql import functions as F

    from ralf_spark.connectors import write_json_sidecar
    from ralf_spark.operators.dedup import GramIndex
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.table import FeatureTable

    idx_path = os.path.join(DATA_ROOT, f"x{m}", "gramidx_delta")
    idx = GramIndex(
        idx_path, hash_fn="xxhash64", count_mode=True, auto_maintain=0
    )
    if not os.path.exists(os.path.join(idx_path, "_meta")):
        idx.build(FeatureTable(
            spark.read.parquet(_docs_path(m)), key="doc_id"
        ))
    if not os.path.exists(
        os.path.join(idx_path, "grams", "_batch=probe")
    ):
        batch = FeatureTable(
            spark.read.parquet(_docs_path(1))
            .where(F.col("doc_id") < 5000)
            .withColumn("doc_id", F.col("doc_id") + 10_000_000),
            key="doc_id",
        )
        spans = idx.add(batch, batch_tag="probe")
        spans.count()
        unpersist_cached(spans)
    # reset the watermark to "covered everything except the probe batch"
    done = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(idx_path, "grams"))
        if d.startswith("_batch=") and d != "_batch=probe"
    )
    write_json_sidecar(
        spark, f"{idx_path}/grams/.retro_watermark.json", {"tags": done}
    )
    return idx.retro_delta(spark)


def op_substring_spans(spark, m: int):
    """r11b: exact-substring span detection (Lee et al. 2022 re-expressed
    as gram scan -> digest groupBy -> position rejoin -> island merge).
    Predicted ~1: gram rows ∝ total tokens; duplicated positions ∝ n
    (the fixture's near-dup rate is fixed), so every stage is linear."""
    from ralf_spark.operators.dedup import duplicate_span_ranges
    from ralf_spark.table import FeatureTable

    docs = spark.read.parquet(_docs_path(m))
    return duplicate_span_ranges(
        FeatureTable(docs, key="doc_id"), hash_fn="xxhash64"
    )


def op_sq8_adc(spark, m: int):
    """r11b: SQ8 asymmetric serving — FIXED 16 queries vs an n-vector
    compressed corpus. Predicted ~1 (brute compressed-domain scan: the
    bounds pass, the encode scan and the per-query fold all ∝ n; the
    broadcast query side is constant)."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.similarity import sq8_adc_topk
    from ralf_spark.table import FeatureTable

    emb = spark.read.parquet(
        os.path.join(DATA_ROOT, f"x{m}", "embeddings.parquet")
    )
    queries = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return sq8_adc_topk(
        FeatureTable(emb, key="vec_id"), queries, k=10
    )


OPS = {
    "lsh_near_dup": (op_lsh_near_dup, "documents", 1.0),
    "lsh_near_dup_unicode": (op_lsh_near_dup_unicode, "documents", 1.0),
    "simhash_pairs": (op_simhash_pairs, "documents", 2.0),
    "simhash_blocks6": (op_simhash_blocks6, "documents", 1.0),
    "jaccard_inverted": (op_jaccard_inverted, "documents", 1.0),
    "decontaminate": (op_decontaminate, "documents", 1.0),
    "sliding_explode": (op_sliding_explode, "events", 1.0),
    "semdedup_k_lin": (op_semdedup_k_lin, "embeddings", 1.0),
    "semdedup_k_sqrt": (op_semdedup_k_sqrt, "embeddings", 1.5),
    "semdedup_two_level": (op_semdedup_two_level, "embeddings", 1.0),
    "minhash_index_add": (op_minhash_index_add, "documents", 0.0),
    "ivf_index_query": (op_ivf_index_query, "embeddings", 0.0),
    "ivf_index_query_twolevel": (
        op_ivf_index_query_twolevel, "embeddings", 0.0
    ),
    "substring_spans": (op_substring_spans, "documents", 1.0),
    "sq8_adc": (op_sq8_adc, "embeddings", 1.0),
    "gram_index_add": (op_gram_index_add, "documents", 0.0),
    "gram_retro": (op_gram_retro, "documents", 1.0),
    "gram_retro_delta": (op_gram_retro_delta, "documents", 0.0),
    "gram_index_add_count": (op_gram_index_add_count, "documents", 0.0),
}


def _fit_exponent(mults: list[int], vals: list[float]) -> float | None:
    """least-squares slope of log(val) vs log(mult), skipping the 1x
    point (fresh-session constants dominate it)."""
    pts = [(math.log(m), math.log(v))
           for m, v in zip(mults, vals) if m > 1 and v and v > 0]
    if len(pts) < 2:
        return None
    xs, ys = zip(*pts)
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs)
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 2)


def candidate_volumes(mults: list[int]) -> dict:
    """Σ_buckets C(size, 2) for both SimHash banding configs — the raw
    quantity the collision floor inflates, measured without running the
    join (one groupBy per config)."""
    import itertools

    from pyspark.sql import functions as F

    from ralf_spark.operators.text_analysis import simhash_fingerprints_agg

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    try:
        for m in mults:
            docs = spark.read.parquet(_docs_path(m))
            ids = docs.select(
                F.col("doc_id").alias("_id"), F.col("text").alias("_text")
            )
            fp = (
                simhash_fingerprints_agg(
                    ids, id_col="_id", text_col="_text",
                    bits=48, shingle_n=3, hash_fn="xxhash64",
                )
                .select("_id", F.col("fp").alias("_fp"))
                .where(F.col("_fp") != 0)
                .persist()
            )
            for blocks in (4, 6):
                base, rem = divmod(48, blocks)
                widths = [base + (1 if i < rem else 0) for i in range(blocks)]
                offsets = [sum(widths[:i]) for i in range(blocks)]
                combos = list(itertools.combinations(range(blocks), blocks - 3))
                entries = []
                for t, c in enumerate(combos):
                    key = F.lit(0).cast("long")
                    shift = 0
                    for i in c:
                        key = key.bitwiseOR(F.shiftleft(
                            F.shiftright("_fp", offsets[i]).bitwiseAND(
                                F.lit((1 << widths[i]) - 1)
                            ), shift))
                        shift += widths[i]
                    entries.append(
                        F.struct(F.lit(t).alias("band"), key.alias("key"))
                    )
                b = fp.select(
                    "_id", F.explode(F.array(*entries)).alias("_b")
                ).select("_id", "_b.band", "_b.key")
                n = b.groupBy("band", "key").agg(
                    F.count("*").alias("sz")
                ).agg(F.sum(F.expr("sz*(sz-1)/2"))).first()[0]
                out.setdefault(f"simhash_blocks{blocks}", {})[str(m)] = int(n)
                print(f"# candidates x{m} blocks={blocks}: {int(n)}",
                      flush=True)
            fp.unpersist()
    finally:
        spark.stop()
    return out


def _max_stage_id() -> int:
    try:
        base = f"http://localhost:{UI_PORT}/api/v1/applications"
        apps = json.load(urllib.request.urlopen(base, timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/{app_id}/stages", timeout=10))
        return max((s["stageId"] for s in stages), default=-1)
    except Exception:
        return -1


def _heaviest_stage_quantiles(
    min_stage_id: int, min_tasks: int = 0
) -> dict | None:
    """Among stages completed after ``min_stage_id`` with at least
    ``min_tasks`` tasks (= the POST-SHUFFLE join/window stages when
    min_tasks is the shuffle partition count — scan stages have
    input-split task counts and would otherwise win on raw task time),
    pick the one holding the longest single task and return its per-task
    executorRunTime AND shuffle-read-record median/max (REST taskSummary
    quantiles). Record skew is the deterministic evidence; task time the
    observable cost."""
    try:
        base = f"http://localhost:{UI_PORT}/api/v1/applications"
        apps = json.load(urllib.request.urlopen(base, timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/{app_id}/stages?status=complete", timeout=10))
        mine = [s for s in stages
                if s["stageId"] > min_stage_id
                and s.get("numTasks", 0) >= min_tasks]
        if not mine:
            return None
        best = None
        for s in sorted(mine, key=lambda s: -s.get("executorRunTime", 0)):
            ts = json.load(urllib.request.urlopen(
                f"{base}/{app_id}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0",
                timeout=10))
            med, mx = [float(x) for x in ts["executorRunTime"]]
            rr = (ts.get("shuffleReadMetrics") or {}).get("readRecords")
            rec = {
                "stage_id": s["stageId"],
                "n_tasks": s.get("numTasks"),
                "task_ms_median": round(med, 1),
                "task_ms_max": round(mx, 1),
                "max_over_median": round(mx / med, 1) if med > 0 else None,
            }
            if rr:
                rmed, rmax = float(rr[0]), float(rr[1])
                rec["rows_median"] = int(rmed)
                rec["rows_max"] = int(rmax)
                rec["rows_max_over_median"] = (
                    round(rmax / rmed, 1) if rmed > 0 else None
                )
            if best is None or rec["task_ms_max"] > best["task_ms_max"]:
                best = rec
        return best
    except Exception:
        return None


def gen_stream_topic(m: int) -> str:
    """Two-batch replay topic (r9, VERDICT r8 #6): file 0 = history,
    100k·m events over 1500·m keys (streaming STATE rows ∝ m after the
    drain — each key retains a partial window buffer); file 1 = the FIXED
    batch, 10k events over keys 0..499 (byte-identical at every m).
    File mtimes force history-first micro-batch order."""
    d = os.path.join(DATA_ROOT, f"stream{m}", "topic")
    if os.path.exists(d):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.RandomState(999 + m)
    n, users = BASE_EVENTS * m, BASE_USERS * m

    def write(path, ids, uids, vals, age):
        tbl = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "user_id": pa.array(uids, pa.int64()),
            "value": pa.array(vals, pa.float64()),
        })
        pq.write_table(tbl, path)
        now = time.time()
        os.utime(path, (now - age, now - age))

    write(os.path.join(d, "part-0-history.parquet"),
          range(n), rng.randint(0, users, size=n), rng.rand(n) * 100.0,
          age=100)
    rng2 = np.random.RandomState(77)  # m-independent: identical fixed batch
    write(os.path.join(d, "part-1-fixed.parquet"),
          range(10_000_000, 10_010_000), rng2.randint(0, 500, size=10_000),
          rng2.rand(10_000) * 100.0, age=0)
    return d


def streaming_state_probe(mults: list[int], sink_only: bool = False) -> dict:
    """r9 (VERDICT r8 #6): per-micro-batch cost vs STATE-STORE size — the
    MinHashIndex flat-batch contract, streaming edition. One availableNow
    run per point with maxFilesPerTrigger=1: micro-batch 0 drains the
    history (builds state for 1500·m keys), micro-batch 1 is the fixed
    10k-event batch; the recorded metric is batch 1's triggerExecution
    wall + the state operator's numRowsTotal from the SAME progress
    event. Probed for the applyInPandasWithState tumbling count window
    under BOTH state-store backends (the HDFS-backed provider
    materializes each partition's full state map, RocksDB pages), and
    for the foreachBatch HLL sketch sink (whose per-batch cost is an
    O(groups) register-table merge+rewrite BY DESIGN — measured to
    document the trade, not to pass a flatness bar)."""
    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_tumbling_count_window,
        write_parquet,
    )
    from ralf_spark.streaming.sinks import (
        foreach_batch_hll_append,
        foreach_batch_hll_upsert,
    )

    spark = get_spark("streamprobe", extra_confs={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    schema = "event_id long, user_id long, value double"
    out: dict[str, dict] = {}

    def last_batch_stats(q) -> dict:
        prog = [p for p in q.recentProgress if p.get("numInputRows")]
        last = prog[-1]
        ops = last.get("stateOperators") or [{}]
        return {
            "batches": len(prog),
            "batch1_rows": last.get("numInputRows"),
            "batch1_ms": (last.get("durationMs") or {}).get(
                "triggerExecution"
            ),
            "state_rows": ops[0].get("numRowsTotal"),
            "state_bytes": ops[0].get("memoryUsedBytes"),
        }

    try:
        import shutil
        import tempfile

        for m in mults:
            topic = gen_stream_topic(m)
            for backend in () if sink_only else ("hdfs", "rocksdb"):
                work = tempfile.mkdtemp(prefix=f"sp_{m}_{backend}_")
                src = file_events(spark, topic, schema=schema,
                                  max_files_per_trigger=1)
                win = streaming_tumbling_count_window(src, size=5)
                t0 = time.perf_counter()
                q = run_bounded(
                    write_parquet(win, os.path.join(work, "out"),
                                  os.path.join(work, "ck")),
                    shuffle_partitions=32, state_store=backend,
                )
                wall = round(time.perf_counter() - t0, 2)
                rec = {"total_s": wall, **last_batch_stats(q)}
                out.setdefault(f"window_{backend}", {})[str(m)] = rec
                print(f"# stream window/{backend} x{m}: batch1 "
                      f"{rec['batch1_ms']}ms over {rec['batch1_rows']} rows,"
                      f" state_rows {rec['state_rows']}, run {wall}s",
                      flush=True)
                shutil.rmtree(work, ignore_errors=True)

            # HLL foreachBatch sink: legacy full-rewrite vs the r10
            # bucketed layout. Bucket count scales WITH expected group
            # count (constant ~95 groups/bucket — the layout-sizing
            # contract, like shuffle partitions or state-store count),
            # so the batch's touched-bucket read+rewrite is bounded by
            # |batch keys| x bucket size whatever the total group count.
            for label, buckets in (("hll_sink", None),
                                   ("hll_sink_bucketed", 16 * m),
                                   ("hll_sink_append", "append")):
                work = tempfile.mkdtemp(prefix=f"sp_{m}_hll_")
                src = file_events(spark, topic, schema=schema,
                                  max_files_per_trigger=1)
                if buckets == "append":
                    writer = foreach_batch_hll_append(
                        src, os.path.join(work, "hll"), ["user_id"],
                        "event_id",
                    )
                else:
                    writer = foreach_batch_hll_upsert(
                        src, os.path.join(work, "hll"), ["user_id"],
                        "event_id", buckets=buckets,
                    )
                t0 = time.perf_counter()
                q = run_bounded(
                    writer.option(
                        "checkpointLocation", os.path.join(work, "ck")
                    ),
                    shuffle_partitions=32,
                )
                wall = round(time.perf_counter() - t0, 2)
                prog = [p for p in q.recentProgress if p.get("numInputRows")]
                rec = {
                    "total_s": wall,
                    "batches": len(prog),
                    "batch1_rows": prog[-1].get("numInputRows"),
                    "batch1_ms": (prog[-1].get("durationMs") or {}).get(
                        "triggerExecution"
                    ),
                    "groups": BASE_USERS * m,
                }
                if buckets is not None:
                    rec["buckets"] = buckets
                out.setdefault(label, {})[str(m)] = rec
                print(f"# stream {label} x{m}: batch1 {rec['batch1_ms']}ms "
                      f"({rec['groups']} groups), run {wall}s", flush=True)
                shutil.rmtree(work, ignore_errors=True)
    finally:
        spark.stop()
    return out


def skew_probe(mults: list[int]) -> dict:
    """r9 (VERDICT r8 #5): hot-key join probe. One key holds 25% of the
    events; shuffle partitions scale with data (P = 16·m — a cluster
    sized to its input, so the MEDIAN task stays constant and skew shows
    up as max/median growth); salt buckets scale as B = P/4 (the
    operational rule: split the hot key down to ~partition granularity).
    AQE and auto-broadcast are DISABLED in the probe session: AQE's
    skew split would mask the SMJ case at runtime — but it cannot split
    a WINDOW partition, which is exactly why salted_asof_join exists;
    the unsalted-SMJ row therefore doubles as "what AQE would have had
    to fix", and the window rows show the skew AQE never touches.

    Four ops per scale: enrichment equi-join and as-of join, plain vs
    salted. Recorded per run: wall, and the heaviest stage's per-task
    executorRunTime median/max + ratio (REST taskSummary)."""
    from pyspark.sql import functions as F

    from ralf_spark.operators.joins import asof_join
    from ralf_spark.operators.skew import (
        choose_salt_buckets,
        salted_asof_join,
        salted_join,
    )
    from ralf_spark.table import FeatureTable

    spark = get_spark("skewprobe", extra_confs={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.ui.enabled": "true",
        "spark.ui.port": str(UI_PORT),
    })
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    try:
        for m in mults:
            path = gen_events_skewed(m)
            P, B = 16 * m, max(4, 4 * m)
            spark.conf.set("spark.sql.shuffle.partitions", str(P))
            ev = spark.read.parquet(path)
            users = BASE_USERS * m
            dim = spark.range(users).select(
                F.col("id").alias("user_id"),
                (F.col("id") % 7).alias("segment"),
                F.md5(F.col("id").cast("string")).alias("attrs"),
            )
            upd = spark.range(users * 3).select(
                F.col("id").alias("upd_id"),
                (F.col("id") % users).alias("user_id"),
                (F.col("id") * 37 % 10_000_000).alias("t"),
                (F.col("id") % 1000).cast("double").alias("state"),
            )
            lt = FeatureTable(ev, key="user_id", ts="t", seq="event_id")
            rt = FeatureTable(upd, key="user_id", ts="t", seq="upd_id")
            # r10 (VERDICT r9 #3): the auto-sized salt at TWO skew levels
            # — on the hot fixture it must track the sufficient manual
            # choice; on the uniform twin it must pick B=1 (no right-side
            # replication at all, the oversalting cost finding 10's own
            # trade documented). The auto rows' wall INCLUDES the stats
            # pass — that price is part of the claim.
            ev_u = spark.read.parquet(gen_events_skewed(m, hot=0.0))
            lt_u = FeatureTable(ev_u, key="user_id", ts="t", seq="event_id")
            # stats_skip_rows=0: the probe measures the stats PASS
            # itself — the r11 stats-first floor would otherwise skip it
            # on the smaller fixture mults
            b_auto = {
                "asof_auto": choose_salt_buckets(
                    ev, "user_id", stats_skip_rows=0
                ),
                "asof_auto_uniform": choose_salt_buckets(
                    ev_u, "user_id", stats_skip_rows=0
                ),
            }
            builds = {
                "enrich_plain": lambda s: ev.join(dim, "user_id"),
                "enrich_salted": lambda s: salted_join(
                    ev, dim, key="user_id", salt_on="event_id",
                    salt_buckets=B,
                ),
                "asof_plain": lambda s: asof_join(lt, rt).df,
                "asof_salted": lambda s: salted_asof_join(
                    lt, rt, salt_on="event_id", salt_buckets=B
                ).df,
                "asof_auto": lambda s: salted_asof_join(
                    lt, rt, salt_on="event_id"
                ).df,
                "asof_plain_uniform": lambda s: asof_join(lt_u, rt).df,
                "asof_salted_uniform": lambda s: salted_asof_join(
                    lt_u, rt, salt_on="event_id", salt_buckets=B
                ).df,
                "asof_auto_uniform": lambda s: salted_asof_join(
                    lt_u, rt, salt_on="event_id"
                ).df,
            }
            for name, build in builds.items():
                _drain(build(spark))  # warm-up
                sid0 = _max_stage_id()
                t0 = time.perf_counter()
                df = build(spark)
                _drain(df)
                sec = round(time.perf_counter() - t0, 2)
                stats = _heaviest_stage_quantiles(sid0, min_tasks=P) or {}
                rec = {"sec": sec, "P": P, "B": b_auto.get(name, B), **stats}
                out.setdefault(name, {})[str(m)] = rec
                print(f"# skew {name} x{m}: {sec}s P={P} B={rec['B']} "
                      f"rows max/med={rec.get('rows_max_over_median')} "
                      f"({rec.get('rows_max')}/{rec.get('rows_median')}) "
                      f"time max/med={rec.get('max_over_median')} "
                      f"(max {rec.get('task_ms_max')}ms)", flush=True)
    finally:
        spark.stop()
    return out


def _forced_broadcast_twin(sz, cap: int, build):
    """Run ``build()`` in the measured broadcast spelling: the footer
    gate off (``SPARK_GRAFT_SMALL_CORPUS=0``) and the pair limit raised
    to ``cap``, so any bound up to ``cap`` broadcasts."""
    limit = sz.BROADCAST_CANDIDATE_LIMIT
    env = os.environ.get("SPARK_GRAFT_SMALL_CORPUS")
    sz.BROADCAST_CANDIDATE_LIMIT = cap
    os.environ["SPARK_GRAFT_SMALL_CORPUS"] = "0"
    try:
        return build()
    finally:
        sz.BROADCAST_CANDIDATE_LIMIT = limit
        if env is None:
            os.environ.pop("SPARK_GRAFT_SMALL_CORPUS")
        else:
            os.environ["SPARK_GRAFT_SMALL_CORPUS"] = env


def adversarial_probe(mults: list[int]) -> dict:
    """r9 (VERDICT r8 #1): one giant duplicate cluster — the corpus every
    Σ bucket² argument disclaims — against near_dup_pairs' AUTO spelling.
    The probe tightens BROADCAST_CANDIDATE_LIMIT to 200k pairs so the
    auto→shuffle transition happens inside a tractable fixture (the
    mechanism is identical at the real 5M default; only the fixture size
    needed to cross it changes). Per point it records the bucket-stats
    pair bound, the spelling auto chose, wall + shuffle, and — while the
    bound stays under FORCED_CAP — a forced-broadcast twin run proving
    the two spellings emit the same rows (the limit raised to FORCED_CAP
    for the twin)."""
    import ralf_spark.operators.dedup as dd
    import ralf_spark.plans.sizing as sz
    from ralf_spark.table import FeatureTable

    PROBE_LIMIT = 200_000
    FORCED_CAP = 2_000_000  # don't force multi-GB broadcasts locally

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    orig_limit = sz.BROADCAST_CANDIDATE_LIMIT
    orig_choose = sz.choose_broadcast
    rec: dict = {}

    def spy(bound_fn):
        bound = bound_fn()
        rec["bound"] = bound
        rec["broadcast"] = bound <= sz.BROADCAST_CANDIDATE_LIMIT
        return rec["broadcast"]

    sz.BROADCAST_CANDIDATE_LIMIT = PROBE_LIMIT
    sz.choose_broadcast = spy
    try:
        for m in mults:
            path = gen_documents_adversarial(m)
            print(f"# adversarial fixture adv{m} ready "
                  f"(cluster {100 * m} dups)", flush=True)

            def build_auto(s, _p=path):
                docs = s.read.parquet(_p)
                return dd.near_dup_pairs(
                    FeatureTable(docs, key="doc_id"), hash_fn="xxhash64"
                )

            r = _measure(build_auto, spark)
            r["cluster"] = 100 * m
            r["pair_bound"] = rec.get("bound")
            r["chose_broadcast"] = rec.get("broadcast")
            print(f"# adversarial x{m}: bound {r['pair_bound']} -> "
                  f"{'broadcast' if r['chose_broadcast'] else 'SHUFFLE'}, "
                  f"{r['sec']}s shuffleW {r['shuffle_write_mb']}MB "
                  f"rows {r['rows']}", flush=True)

            if r["pair_bound"] is not None and r["pair_bound"] <= FORCED_CAP:
                def build_forced(s, _p=path):
                    docs = s.read.parquet(_p)
                    return dd.near_dup_pairs(
                        FeatureTable(docs, key="doc_id"), hash_fn="xxhash64"
                    )

                rf = _forced_broadcast_twin(
                    sz, FORCED_CAP, lambda: _measure(build_forced, spark)
                )
                r["forced"] = {k: rf[k] for k in
                               ("sec", "shuffle_write_mb", "rows")}
                r["rows_match_forced"] = rf["rows"] == r["rows"]
                print(f"#   forced-broadcast twin: {rf['sec']}s "
                      f"shuffleW {rf['shuffle_write_mb']}MB rows "
                      f"{rf['rows']} match={r['rows_match_forced']}",
                      flush=True)
            out[str(m)] = r
    finally:
        sz.BROADCAST_CANDIDATE_LIMIT = orig_limit
        sz.choose_broadcast = orig_choose
        spark.stop()
    return {"probe_limit": PROBE_LIMIT, "runs": out}


def window_skew_probe(mults: list[int]) -> dict:
    """r10 (VERDICT r9 #7): the count-window family on the hot-key
    fixture — finding 10 covered joins; a sliding window partitions by
    key too, and AQE cannot split a window partition. Measures
    ``sliding_count_window`` under BOTH payload strategies (same
    window=48/slide=12 config): per-task shuffle-read rows and
    executorRunTime quantiles of the heaviest stage, plain wall.

    What distinguishes this from the join case: the hot key's rank pass
    is a sort + counter per row (tiny per-row cost after the sort), and
    the explode strategy's payload amplification lands on (key, pos)
    FINE-GRAINED keys — so the row straggler may not be a time straggler.
    The numbers decide whether a salted-window spelling is warranted."""
    from pyspark.sql import functions as F  # noqa: F401

    from ralf_spark.operators.windows import (
        salted_sliding_count_window,
        sliding_count_window,
    )
    from ralf_spark.table import FeatureTable

    spark = get_spark("winskewprobe", extra_confs={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.ui.enabled": "true",
        "spark.ui.port": str(UI_PORT),
    })
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    try:
        for m in mults:
            P = 16 * m
            spark.conf.set("spark.sql.shuffle.partitions", str(P))
            ev = spark.read.parquet(gen_events_skewed(m))
            lt = FeatureTable(ev, key="user_id", ts="t", seq="event_id")
            for strat in ("frame", "explode", "salted"):
                def build(s, _st=strat):
                    if _st == "salted":
                        win = salted_sliding_count_window(
                            lt, window_size=48, slide_size=12,
                            payload_cols=["value"],
                        )
                    else:
                        win = sliding_count_window(
                            lt, window_size=48, slide_size=12,
                            payload_cols=["value"], payload_strategy=_st,
                        )
                    return win.df.select(
                        "user_id", "pos", F.size("window").alias("n")
                    )

                _drain(build(spark))  # warm-up
                sid0 = _max_stage_id()
                t0 = time.perf_counter()
                _drain(build(spark))
                sec = round(time.perf_counter() - t0, 2)
                stats = _heaviest_stage_quantiles(sid0, min_tasks=P) or {}
                rec = {"sec": sec, "P": P, **stats}
                out.setdefault(f"slide_{strat}", {})[str(m)] = rec
                print(f"# winskew slide_{strat} x{m}: {sec}s P={P} "
                      f"rows max/med={rec.get('rows_max_over_median')} "
                      f"({rec.get('rows_max')}/{rec.get('rows_median')}) "
                      f"time max/med={rec.get('max_over_median')} "
                      f"(max {rec.get('task_ms_max')}ms)", flush=True)
    finally:
        spark.stop()
    return out


def window_null_skew_probe(mults: list[int]) -> dict:
    """r12: the hot key IS the NULL key — user 0 (25% of all rows) is
    remapped to NULL, the shape a real corpus hits when the skewed
    column is sparsely populated. r11 routed NULL to the plain branch
    for correctness (documented straggler); r12 routes a HOT NULL
    through the salted two-phase rank via null-safe joins. Expect the
    salted spelling's heaviest-stage time max/median ratio to collapse
    vs plain, same as finding 13's non-null hot key."""
    from pyspark.sql import functions as F  # noqa: F401

    from ralf_spark.operators.windows import (
        salted_sliding_count_window,
        sliding_count_window,
    )
    from ralf_spark.table import FeatureTable

    spark = get_spark("winnullskew", extra_confs={
        "spark.sql.adaptive.enabled": "false",
        "spark.ui.enabled": "true",
        "spark.ui.port": str(UI_PORT),
    })
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    try:
        for m in mults:
            P = 16 * m
            spark.conf.set("spark.sql.shuffle.partitions", str(P))
            ev = spark.read.parquet(gen_events_skewed(m)).withColumn(
                "user_id",
                F.when(F.col("user_id") == 0, F.lit(None)).otherwise(
                    F.col("user_id")
                ),
            )
            lt = FeatureTable(ev, key="user_id", ts="t", seq="event_id")
            for strat in ("explode", "salted"):
                def build(s, _st=strat):
                    if _st == "salted":
                        win = salted_sliding_count_window(
                            lt, window_size=48, slide_size=12,
                            payload_cols=["value"],
                        )
                    else:
                        win = sliding_count_window(
                            lt, window_size=48, slide_size=12,
                            payload_cols=["value"], payload_strategy=_st,
                        )
                    return win.df.select(
                        "user_id", "pos", F.size("window").alias("n")
                    )

                import gc

                from ralf_spark.operators.util import unpersist_cached

                df = build(spark)
                _drain(df)  # warm-up
                unpersist_cached(df, blocking=True)  # r9 hygiene: the
                spark.catalog.clearCache()           # salted path persists
                gc.collect()                         # its hot split per call
                sid0 = _max_stage_id()
                t0 = time.perf_counter()
                df = build(spark)
                _drain(df)
                sec = round(time.perf_counter() - t0, 2)
                unpersist_cached(df, blocking=True)
                spark.catalog.clearCache()
                gc.collect()
                stats = _heaviest_stage_quantiles(sid0, min_tasks=P) or {}
                rec = {"sec": sec, "P": P, **stats}
                out.setdefault(f"nullhot_{strat}", {})[str(m)] = rec
                print(f"# winnullskew {strat} x{m}: {sec}s P={P} "
                      f"time max/med={rec.get('max_over_median')} "
                      f"(max {rec.get('task_ms_max')}ms)", flush=True)
    finally:
        spark.stop()
    return out


def batch_count_probe(batch_counts: list[int]) -> dict:
    """r10 (VERDICT r9 #4): add/query cost vs BATCH COUNT at fixed store
    size — the small-file axis finding 6 never varied (it scaled store
    size in ONE batch). Fixed corpora are fed as B batches; the recorded
    metrics are the wall of a STANDARD 500-doc probe add (its scoring
    join reads the whole store) resp. a standard IvfIndex.query, plus
    the store's data-file count — before and after ``maintain()``.
    The claim under test: per-batch cost grows with accumulated batch
    count even at fixed rows, and one compaction restores it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import ralf_spark.operators.dedup as dd
    from ralf_spark.connectors import _list_parquet_files
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.table import FeatureTable

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    N_DOCS = 60_000   # 12x base, sliced into B add-batches
    N_VECS = 16_000
    K_CELLS = 64
    try:
        docs_all = spark.read.parquet(gen_documents(12)).select(
            "doc_id", "text"
        )
        vec_src = spark.read.parquet(gen_embeddings(8))
        vcols = vec_src.columns
        for B in batch_counts:
            # ---------------- MinHashIndex
            work = tempfile.mkdtemp(prefix=f"bc_{B}_")
            # auto_maintain=0: this probe MEASURES the uncompacted
            # accretion (r11's default cadence would heal it mid-feed)
            idx = dd.MinHashIndex(
                f"{work}/idx", hash_fn="xxhash64", auto_maintain=0
            )
            per = N_DOCS // B
            t_build = time.perf_counter()
            idx.build(FeatureTable(
                docs_all.where(F.col("doc_id") < per), key="doc_id"
            ))
            for b in range(1, B):
                lo, hi = b * per, (b + 1) * per
                p = idx.add(
                    FeatureTable(
                        docs_all.where(
                            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                        ),
                        key="doc_id",
                    ),
                    batch_tag=f"b{b}",
                )
                p.count()
                from ralf_spark.operators.util import unpersist_cached

                unpersist_cached(p)
            feed_s = round(time.perf_counter() - t_build, 1)

            probe = FeatureTable(
                docs_all.where(F.col("doc_id") >= N_DOCS).limit(500),
                key="doc_id",
            )

            def probe_add(tag):
                t0 = time.perf_counter()
                pp = idx.add(probe, batch_tag=tag)
                n = pp.count()
                from ralf_spark.operators.util import unpersist_cached

                unpersist_cached(pp)
                return round(time.perf_counter() - t0, 2), n

            files0 = len(_list_parquet_files(spark, f"{work}/idx/sigs")) + \
                len(_list_parquet_files(spark, f"{work}/idx/buckets"))
            add_before, n1 = probe_add("probe1")
            t0 = time.perf_counter()
            idx.maintain(spark)
            maint_s = round(time.perf_counter() - t0, 2)
            add_after, n2 = probe_add("probe2")
            files1 = len(_list_parquet_files(spark, f"{work}/idx/sigs")) + \
                len(_list_parquet_files(spark, f"{work}/idx/buckets"))
            rec = {
                "batches": B, "docs": N_DOCS, "feed_s": feed_s,
                "files_before": files0, "files_after": files1,
                "probe_add_before_s": add_before,
                "probe_add_after_s": add_after,
                "maintain_s": maint_s, "probe_pairs": n1,
            }
            out.setdefault("minhash_add", {})[str(B)] = rec
            print(f"# batchcount minhash B={B}: probe-add "
                  f"{add_before}s -> {add_after}s after maintain "
                  f"({maint_s}s), files {files0} -> {files1}", flush=True)
            shutil.rmtree(work, ignore_errors=True)

            # ---------------- IvfIndex
            work = tempfile.mkdtemp(prefix=f"bcivf_{B}_")
            vecs = vec_src.select(
                F.col(vcols[0]).alias("vec_id"),
                F.col(vcols[1]).alias("embedding"),
            ).where(F.col("vec_id") < N_VECS)
            cen = vecs.where(F.col("vec_id") < K_CELLS).select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").cast("array<double>").alias(
                    "centroid_vec"
                ),
            )
            ivf = IvfIndex(f"{work}/ivf", auto_maintain=0)
            perv = N_VECS // B
            ivf.build(
                FeatureTable(
                    vecs.where(F.col("vec_id") < perv), key="vec_id"
                ),
                cen,
            )
            for b in range(1, B):
                lo, hi = b * perv, (b + 1) * perv
                ivf.add(
                    FeatureTable(
                        vecs.where(
                            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                        ),
                        key="vec_id",
                    ),
                    batch_tag=f"b{b}",
                )
            q = vecs.where(F.col("vec_id") < 16).select(
                (F.col("vec_id") + 1_000_000).alias("query_id"),
                F.col("embedding").cast("array<double>").alias("query_vec"),
            )

            def probe_query():
                t0 = time.perf_counter()
                n = ivf.query(q, k=10, nprobe=2).count()
                return round(time.perf_counter() - t0, 2), n

            dirs0 = len(_list_parquet_files(spark, f"{work}/ivf/cells"))
            q_before, _ = probe_query()
            t0 = time.perf_counter()
            ivf.maintain(spark)
            maint_s = round(time.perf_counter() - t0, 2)
            q_after, _ = probe_query()
            dirs1 = len(_list_parquet_files(spark, f"{work}/ivf/cells"))
            rec = {
                "batches": B, "vecs": N_VECS, "cells": K_CELLS,
                "files_before": dirs0, "files_after": dirs1,
                "query_before_s": q_before, "query_after_s": q_after,
                "maintain_s": maint_s,
            }
            out.setdefault("ivf_query", {})[str(B)] = rec
            print(f"# batchcount ivf B={B}: query {q_before}s -> "
                  f"{q_after}s after maintain ({maint_s}s), files "
                  f"{dirs0} -> {dirs1}", flush=True)
            shutil.rmtree(work, ignore_errors=True)
    finally:
        spark.stop()
    return out


def lifecycle_probe(n_batches: int = 50) -> dict:
    """r11 (VERDICT r10 #3, finding 17): the COMPOSED crawl-loop
    lifecycle — the closest thing to the 100 TB operating regime this
    sandbox can express. One loop feeds ``n_batches`` fixed-size batches
    through the three incremental stores TOGETHER, with the r11
    auto-maintenance cadence at its defaults and ZERO manual maintain
    calls:

      MinHashIndex.add (dedup pairs consumed per batch)
      + GramIndex.add (exact-substring spans consumed per batch — r11b)
      + HLL append-log write + merge-on-read estimate
      + IvfIndex.add + a 16-query serving probe

    Recorded per batch: each op's wall; per checkpoint: data-file and
    batch-tag counts of every store. The claim under test: steady-state
    per-batch cost and file counts hold FLAT for the whole feed —
    finding 16 measured the same feed without maintenance degrading
    ~5× by 48 batches and O(B²) overall."""
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    import ralf_spark.operators.dedup as dd
    from ralf_spark.connectors import _list_parquet_files
    from ralf_spark.layout import batch_tag_count
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.operators.sketches import hll_register_update
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.streaming.sinks import (
        _append_log_batch,
        hll_log_merge,
        hll_log_state,
    )
    from ralf_spark.table import FeatureTable

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    DOCS_PER, VECS_PER, EVENTS_PER, K_CELLS = 600, 300, 2000, 32
    work = tempfile.mkdtemp(prefix="lifecycle_")
    per_batch: list[dict] = []
    checkpoints: dict[str, dict] = {}
    try:
        docs_all = spark.read.parquet(gen_documents(12)).select(
            "doc_id", "text"
        )
        vec_src = spark.read.parquet(gen_embeddings(8))
        vcols = vec_src.columns
        vecs_all = vec_src.select(
            F.col(vcols[0]).alias("vec_id"),
            F.col(vcols[1]).cast("array<double>").alias("embedding"),
        )
        cen = vecs_all.where(F.col("vec_id") < K_CELLS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        idx = dd.MinHashIndex(f"{work}/idx", hash_fn="xxhash64")  # auto on
        gram = dd.GramIndex(f"{work}/gram", hash_fn="xxhash64")  # auto on
        ivf = IvfIndex(f"{work}/ivf")  # auto on
        log = f"{work}/hll_log"
        hll_cb = _append_log_batch(
            log,
            lambda b: hll_register_update(b, ["k"], "v"),
            merge=hll_log_merge(["k"]),  # auto cadence on (default 16)
        )
        idx.build(FeatureTable(
            docs_all.where(F.col("doc_id") < DOCS_PER), key="doc_id"
        ))
        gram.build(FeatureTable(
            docs_all.where(F.col("doc_id") < DOCS_PER), key="doc_id"
        ))
        ivf.build(
            FeatureTable(
                vecs_all.where(F.col("vec_id") < VECS_PER), key="vec_id"
            ),
            cen,
        )
        q = vecs_all.where(F.col("vec_id") < 16).select(
            (F.col("vec_id") + 1_000_000).alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

        def files(p):
            try:
                return len(_list_parquet_files(spark, p))
            except Exception:
                return 0

        for b in range(1, n_batches + 1):
            rec = {"b": b}
            lo, hi = b * DOCS_PER, (b + 1) * DOCS_PER
            t0 = time.perf_counter()
            pairs = idx.add(
                FeatureTable(
                    docs_all.where(
                        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                    ),
                    key="doc_id",
                ),
                batch_tag=f"b{b}",
            )
            rec["dedup_pairs"] = pairs.count()
            unpersist_cached(pairs)
            rec["minhash_add_s"] = round(time.perf_counter() - t0, 2)

            t0 = time.perf_counter()
            spans = gram.add(
                FeatureTable(
                    docs_all.where(
                        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                    ),
                    key="doc_id",
                ),
                batch_tag=f"b{b}",
            )
            rec["gram_spans"] = spans.count()
            unpersist_cached(spans)
            rec["gram_add_s"] = round(time.perf_counter() - t0, 2)

            ev = spark.range(b * EVENTS_PER, (b + 1) * EVENTS_PER).select(
                (F.col("id") % 3000).alias("k"),
                (F.col("id") * 31 % 99991).alias("v"),
            )
            t0 = time.perf_counter()
            hll_cb(ev, b)
            rec["hll_append_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            rec["hll_groups"] = hll_log_state(spark, log, ["k"]).count()
            rec["hll_read_s"] = round(time.perf_counter() - t0, 2)

            vlo = b * VECS_PER
            t0 = time.perf_counter()
            ivf.add(
                FeatureTable(
                    vecs_all.where(
                        (F.col("vec_id") >= vlo)
                        & (F.col("vec_id") < vlo + VECS_PER)
                    ),
                    key="vec_id",
                ),
                batch_tag=f"b{b}",
            )
            rec["ivf_add_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            ivf.query(q, k=10, nprobe=2).count()
            rec["ivf_query_s"] = round(time.perf_counter() - t0, 2)
            per_batch.append(rec)
            if b % 10 == 0 or b == n_batches:
                cp = {
                    "minhash_tags": batch_tag_count(
                        spark, f"{work}/idx/buckets"
                    ),
                    "minhash_files": files(f"{work}/idx/sigs")
                    + files(f"{work}/idx/buckets"),
                    "gram_tags": batch_tag_count(spark, f"{work}/gram/grams"),
                    "gram_files": files(f"{work}/gram/grams"),
                    "ivf_tags": batch_tag_count(spark, f"{work}/ivf/cells"),
                    "ivf_files": files(f"{work}/ivf/cells"),
                    "log_tags": batch_tag_count(spark, log),
                    "log_files": files(log),
                }
                checkpoints[str(b)] = cp
                print(f"# lifecycle b={b}: add {rec['minhash_add_s']}s "
                      f"gram {rec['gram_add_s']}s "
                      f"est-read {rec['hll_read_s']}s query "
                      f"{rec['ivf_query_s']}s | tags mh={cp['minhash_tags']}"
                      f" ivf={cp['ivf_tags']} log={cp['log_tags']} | files "
                      f"mh={cp['minhash_files']} ivf={cp['ivf_files']} "
                      f"log={cp['log_files']}", flush=True)

        def med(key, lo, hi):
            return round(statistics.median(
                r[key] for r in per_batch if lo <= r["b"] <= hi
            ), 2)

        early, late = (2, min(12, n_batches)), (max(1, n_batches - 10),
                                                n_batches)
        summary = {}
        for key in ("minhash_add_s", "gram_add_s", "hll_append_s",
                    "hll_read_s", "ivf_add_s", "ivf_query_s"):
            e, l = med(key, *early), med(key, *late)
            summary[key] = {
                "early_median": e, "late_median": l,
                "ratio": round(l / e, 2) if e else None,
            }
        return {
            "batches": n_batches,
            "docs_per_batch": DOCS_PER, "vecs_per_batch": VECS_PER,
            "events_per_batch": EVENTS_PER,
            "manual_maintain_calls": 0,
            "per_batch": per_batch,
            "checkpoints": checkpoints,
            "summary": summary,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def count_mode_lifecycle_probe(n_batches: int = 50) -> dict:
    """r13 (VERDICT r12 #5 + #3): the count-mode GramIndex lifecycle.

    Feeds ``n_batches`` fixed-size doc batches through a
    ``count_mode=True`` GramIndex with the default auto-maintenance
    cadence and zero manual maintain calls. Claims under test:

    1. FILE COUNTS STAY BOUNDED: the position log only concatenates
       (positions are the payload — no distinct() fold), so without the
       tiered maintain() discipline the store would accrete one
       directory per add forever. Checkpoints record data-file and
       batch-tag counts every 10 batches.
    2. DELTA RETRO SCALES WITH THE BATCH, NOT THE STORE: at each
       checkpoint, one ``retro_delta()`` cadence (covering the 10
       batches since the last) is timed against a full ``retro()`` over
       the same store — emitted rows and wall are recorded for both.
       retro_delta's emission is O(touched-by-new); retro's is O(all
       duplicated docs), growing with the store.
    """
    import shutil
    import statistics
    import tempfile

    from pyspark.sql import functions as F

    import ralf_spark.operators.dedup as dd
    from ralf_spark.connectors import _list_parquet_files
    from ralf_spark.layout import batch_tag_count
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.table import FeatureTable

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    DOCS_PER = 600
    work = tempfile.mkdtemp(prefix="cm_lifecycle_")
    per_batch: list[dict] = []
    checkpoints: dict[str, dict] = {}
    try:
        docs_all = spark.read.parquet(gen_documents(12)).select(
            "doc_id", "text"
        )
        gram = dd.GramIndex(
            f"{work}/gram", hash_fn="xxhash64", count_mode=True
        )  # auto-maintenance on (default cadence)
        gram.build(FeatureTable(
            docs_all.where(F.col("doc_id") < DOCS_PER), key="doc_id"
        ))
        d0 = gram.retro_delta(spark)
        d0.count()  # cover the base tag so later cadences are deltas
        unpersist_cached(d0)
        gram.commit_retro_delta(spark)  # r14 two-phase watermark

        def files(p):
            try:
                return len(_list_parquet_files(spark, p))
            except Exception:
                return 0

        for b in range(1, n_batches + 1):
            rec = {"b": b}
            lo, hi = b * DOCS_PER, (b + 1) * DOCS_PER
            t0 = time.perf_counter()
            spans = gram.add(
                FeatureTable(
                    docs_all.where(
                        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                    ),
                    key="doc_id",
                ),
                batch_tag=f"b{b}",
            )
            rec["gram_spans"] = spans.count()
            unpersist_cached(spans)
            rec["gram_add_s"] = round(time.perf_counter() - t0, 2)
            per_batch.append(rec)
            if b % 10 == 0 or b == n_batches:
                cp = {
                    "gram_tags": batch_tag_count(spark, f"{work}/gram/grams"),
                    "gram_files": files(f"{work}/gram/grams"),
                }
                t0 = time.perf_counter()
                d = gram.retro_delta(spark)
                cp["retro_delta_rows"] = d.count()
                gram.commit_retro_delta(spark)  # consume-then-commit
                cp["retro_delta_s"] = round(time.perf_counter() - t0, 2)
                unpersist_cached(d)
                t0 = time.perf_counter()
                cp["retro_full_rows"] = gram.retro(spark).count()
                cp["retro_full_s"] = round(time.perf_counter() - t0, 2)
                checkpoints[str(b)] = cp
                print(f"# cm-lifecycle b={b}: add {rec['gram_add_s']}s | "
                      f"tags={cp['gram_tags']} files={cp['gram_files']} | "
                      f"delta {cp['retro_delta_rows']} rows "
                      f"{cp['retro_delta_s']}s vs full "
                      f"{cp['retro_full_rows']} rows "
                      f"{cp['retro_full_s']}s", flush=True)

        def med(key, lo, hi):
            return round(statistics.median(
                r[key] for r in per_batch if lo <= r["b"] <= hi
            ), 2)

        early, late = (2, min(12, n_batches)), (max(1, n_batches - 10),
                                                n_batches)
        e, l = med("gram_add_s", *early), med("gram_add_s", *late)
        return {
            "batches": n_batches,
            "docs_per_batch": DOCS_PER,
            "manual_maintain_calls": 0,
            "per_batch": per_batch,
            "checkpoints": checkpoints,
            "summary": {
                "gram_add_s": {
                    "early_median": e, "late_median": l,
                    "ratio": round(l / e, 2) if e else None,
                },
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def concurrent_adds_probe(n_batches: int = 8, workers: int = 2) -> dict:
    """r14 (VERDICT r13 #1): add throughput under concurrent writers.

    The same ``n_batches`` fixed-size crawl batches are folded into a
    fresh ``concurrent_adds=True`` GramIndex twice — once serially by a
    single writer, once split across ``workers`` threads with distinct
    writer ids (tag-scoped leases; no call takes the store root) — and
    the two walls are compared. The settled stores must hold the same
    distinct digest set (fold ≡ serial). One untimed warmup add runs
    first so plan-compile cost doesn't bias whichever mode runs second.

    Honest caveat for the local[32] box: both writers share one JVM and
    32 cores, so the measured speedup comes from overlapping the
    driver-side phases of one add (listing, lease IO, plan compile,
    small-stage scheduling) with the executor phases of the other —
    the multi-PROCESS cluster regime the leases actually target (N
    crawl drivers on one shared store) has no shared driver and
    overlaps more.
    """
    import shutil
    import threading

    from pyspark.sql import functions as F

    spark = _session()
    work = os.path.join(DATA_ROOT, "concadds")
    shutil.rmtree(work, ignore_errors=True)
    from ralf_spark.operators import dedup as dd
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.table import FeatureTable

    DOCS_PER = 2500
    docs_all = spark.read.parquet(gen_documents(8)).select(
        "doc_id", "text"
    )

    def part(lo: int, hi: int) -> FeatureTable:
        return FeatureTable(
            docs_all.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ),
            key="doc_id",
        )

    def do_add(idx, i: int, wid: str) -> None:
        lo = (i + 1) * DOCS_PER
        spans = idx.add(
            part(lo, lo + DOCS_PER), batch_tag=f"b{i}", writer_id=wid
        )
        spans.count()
        unpersist_cached(spans)

    # untimed warmup: pay the shingle/hash plan compile once
    warm = dd.GramIndex(
        f"{work}/warm", hash_fn="xxhash64", auto_maintain=0,
        concurrent_adds=True,
    )
    warm.build(part(0, DOCS_PER))
    do_add(warm, 0, "w0")

    out: dict = {
        "n_batches": n_batches,
        "workers": workers,
        "docs_per_batch": DOCS_PER,
    }
    for mode in ("serial", "concurrent"):
        idx = dd.GramIndex(
            f"{work}/{mode}", hash_fn="xxhash64", auto_maintain=0,
            concurrent_adds=True,
        )
        idx.build(part(0, DOCS_PER))
        t0 = time.perf_counter()
        if mode == "serial":
            for i in range(n_batches):
                do_add(idx, i, "w0")
        else:
            errs: list[BaseException] = []

            def worker(w: int, index=idx) -> None:
                try:
                    for i in range(w, n_batches, workers):
                        do_add(index, i, f"w{w}")
                except BaseException as e:  # noqa: BLE001
                    errs.append(e)

            ths = [
                threading.Thread(target=worker, args=(w,))
                for w in range(workers)
            ]
            for t in ths:
                t.start()
            for t in ths:
                t.join()
            if errs:
                raise errs[0]
        out[f"{mode}_wall_s"] = round(time.perf_counter() - t0, 2)
        out[f"{mode}_distinct_dg"] = (
            idx._store.snapshot(spark, "grams")
            .select("_dg").distinct().count()
        )
    assert out["serial_distinct_dg"] == out["concurrent_distinct_dg"]
    out["speedup"] = round(
        out["serial_wall_s"] / out["concurrent_wall_s"], 2
    )
    print(f"# concurrent-adds: serial {out['serial_wall_s']}s vs "
          f"{workers}-writer {out['concurrent_wall_s']}s "
          f"(speedup {out['speedup']}x, stores identical)", flush=True)
    return out


def write_amp_probe(n_batches: int = 40, every: int = 4) -> dict:
    """r11 (finding 18): MEASURE the tiered compaction's write-
    amplification claim. Two identical 600-doc × ``n_batches`` MinHash
    feeds run maintain() every ``every`` batches — one with the r11
    TIERED source selection (tier 1 folds raw tags only; tier 2 full
    fold once COMPACTED_TIER_LIMIT compacted partitions exist), one
    with the pre-r11 FULL fold (every maintenance rewrites the whole
    store). Recorded per mode: cumulative bytes read-and-rewritten by
    maintenance (`compact_batch_partitions` reports its source bytes —
    the rewrite is the same rows), cumulative maintenance wall, fold
    counts, final tag/file counts, and a standard 500-doc probe-add
    wall at the end (the read-side cost both modes exist to bound)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import ralf_spark.operators.dedup as dd
    from ralf_spark.connectors import _list_parquet_files
    from ralf_spark.layout import batch_tag_count
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.table import FeatureTable

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    DOCS_PER = 600
    out: dict[str, dict] = {}
    try:
        docs_all = spark.read.parquet(gen_documents(12)).select(
            "doc_id", "text"
        )
        probe = FeatureTable(
            docs_all.where(F.col("doc_id") >= 59_000).limit(500),
            key="doc_id",
        )
        for mode in ("tiered", "full"):
            work = tempfile.mkdtemp(prefix=f"wamp_{mode}_")
            idx = dd.MinHashIndex(
                f"{work}/idx", hash_fn="xxhash64", auto_maintain=0
            )
            idx.build(FeatureTable(
                docs_all.where(F.col("doc_id") < DOCS_PER), key="doc_id"
            ))
            maint_bytes = 0
            maint_s = 0.0
            folds = 0
            for b in range(1, n_batches + 1):
                lo, hi = b * DOCS_PER, (b + 1) * DOCS_PER
                p = idx.add(
                    FeatureTable(
                        docs_all.where(
                            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                        ),
                        key="doc_id",
                    ),
                    batch_tag=f"b{b}",
                )
                p.count()
                unpersist_cached(p)
                if b % every == 0:
                    t0 = time.perf_counter()
                    res = idx.maintain(spark, tiered=(mode == "tiered"))
                    maint_s += time.perf_counter() - t0
                    for v in (res or {}).values():
                        if v:
                            maint_bytes += v["bytes"]
                            folds += 1
            t0 = time.perf_counter()
            pp = idx.add(probe, batch_tag="probe")
            n_pairs = pp.count()
            probe_s = round(time.perf_counter() - t0, 2)
            unpersist_cached(pp)
            rec = {
                "batches": n_batches, "maintain_every": every,
                "maintenance_bytes_rewritten": maint_bytes,
                "maintenance_wall_s": round(maint_s, 2),
                "folds": folds,
                "final_tags": batch_tag_count(spark, f"{work}/idx/sigs"),
                "final_files": len(
                    _list_parquet_files(spark, f"{work}/idx/sigs")
                ) + len(_list_parquet_files(spark, f"{work}/idx/buckets")),
                "probe_add_s": probe_s, "probe_pairs": n_pairs,
            }
            out[mode] = rec
            print(f"# write-amp {mode}: maintenance rewrote "
                  f"{maint_bytes/1e6:.1f} MB in {rec['maintenance_wall_s']}s"
                  f" across {folds} folds; final tags "
                  f"{rec['final_tags']} files {rec['final_files']}; "
                  f"probe-add {probe_s}s", flush=True)
            shutil.rmtree(work, ignore_errors=True)
        t, f = (out["tiered"]["maintenance_bytes_rewritten"],
                out["full"]["maintenance_bytes_rewritten"])
        out["amp_ratio_full_over_tiered"] = round(f / t, 2) if t else None
    finally:
        spark.stop()
    return out


def adversarial_add_probe(mults: list[int]) -> dict:
    """r10 (VERDICT r9 #6): the giant-dup-cluster corpus against
    ``MinHashIndex.add`` — the incremental path a crawler re-feeding
    near-copies actually exercises. Per point: the stored index holds the
    background corpus PLUS half the duplicate cluster; one ``add()``
    batch delivers the other half, so the add's bucket-stats bound
    (``_add_pair_bound``: stored-cluster × batch + within-batch pairs)
    grows ~c² and crosses the probe's tightened broadcast limit exactly
    where the cluster math says. Recorded: the bound, the spelling auto
    chose, wall + shuffle, pair count, and — under the forced cap — a
    forced-broadcast twin on a byte-identical copy of the index proving
    the two spellings emit the same pairs (count + order-free checksum).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import ralf_spark.operators.dedup as dd
    import ralf_spark.plans.sizing as sz
    from ralf_spark.table import FeatureTable

    PROBE_LIMIT = 200_000
    FORCED_CAP = 2_000_000

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    orig_limit = sz.BROADCAST_CANDIDATE_LIMIT
    orig_choose = sz.choose_broadcast
    rec: dict = {}

    def spy(bound_fn):
        bound = bound_fn()
        rec["bound"] = bound
        rec["broadcast"] = bound <= sz.BROADCAST_CANDIDATE_LIMIT
        return rec["broadcast"]

    def pair_stats(pairs_df):
        # order-free checksum; pmod bounds the terms so the ANSI sum
        # cannot overflow a long
        row = pairs_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(
                    F.xxhash64("id1", "id2", "est_jaccard"),
                    F.lit(1_000_000_007),
                )
            ).alias("chk"),
        ).first()
        return int(row["n"]), int(row["chk"] or 0)

    sz.BROADCAST_CANDIDATE_LIMIT = PROBE_LIMIT
    sz.choose_broadcast = spy
    try:
        for m in mults:
            path = gen_documents_adversarial(m)
            docs = spark.read.parquet(path)
            n_bg, half = BASE_DOCS * m, 50 * m
            stored = docs.where(F.col("doc_id") < n_bg + half)
            batch = FeatureTable(
                docs.where(F.col("doc_id") >= n_bg + half), key="doc_id"
            )
            work = tempfile.mkdtemp(prefix=f"advadd_{m}_")
            idx = dd.MinHashIndex(f"{work}/idx", hash_fn="xxhash64")
            idx.build(FeatureTable(stored, key="doc_id"))
            shutil.copytree(f"{work}/idx", f"{work}/idx_forced")
            rec.clear()
            w0, r0 = _rest_shuffle_totals()
            t0 = time.perf_counter()
            pairs = idx.add(batch, threshold=0.5, batch_tag="adv")
            n, chk = pair_stats(pairs)
            sec = round(time.perf_counter() - t0, 2)
            w1, r1 = _rest_shuffle_totals()
            from ralf_spark.operators.util import unpersist_cached

            unpersist_cached(pairs)
            r = {
                "sec": sec, "rows": n, "checksum": chk,
                "cluster_stored": half, "cluster_batch": half,
                "pair_bound": rec.get("bound"),
                "chose_broadcast": rec.get("broadcast"),
                "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            }
            print(f"# adversarial-add x{m}: bound {r['pair_bound']} -> "
                  f"{'broadcast' if r['chose_broadcast'] else 'SHUFFLE'}, "
                  f"{sec}s shuffleW {r['shuffle_write_mb']}MB rows {n}",
                  flush=True)
            if r["pair_bound"] is not None and r["pair_bound"] <= FORCED_CAP:
                idxf = dd.MinHashIndex(
                    f"{work}/idx_forced", hash_fn="xxhash64"
                )
                t0 = time.perf_counter()
                pf = _forced_broadcast_twin(
                    sz, FORCED_CAP,
                    lambda: idxf.add(batch, threshold=0.5, batch_tag="adv"),
                )
                nf, chkf = pair_stats(pf)
                secf = round(time.perf_counter() - t0, 2)
                unpersist_cached(pf)
                r["forced"] = {"sec": secf, "rows": nf}
                r["pairs_match_forced"] = (nf, chkf) == (n, chk)
                print(f"#   forced-broadcast twin: {secf}s rows {nf} "
                      f"match={r['pairs_match_forced']}", flush=True)
            out[str(m)] = r
            shutil.rmtree(work, ignore_errors=True)
    finally:
        sz.BROADCAST_CANDIDATE_LIMIT = orig_limit
        sz.choose_broadcast = orig_choose
        spark.stop()
    return {"probe_limit": PROBE_LIMIT, "runs": out}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,4,16,48")
    ap.add_argument("--ops", default=",".join(OPS))
    ap.add_argument("--candidates", action="store_true",
                    help="measure SimHash candidate volumes instead")
    ap.add_argument("--adversarial", action="store_true",
                    help="giant-dup-cluster probe of the auto verification "
                         "spelling (near_dup_pairs)")
    ap.add_argument("--adversarial-add", action="store_true",
                    help="giant-dup-cluster probe of MinHashIndex.add — "
                         "the incremental crawl path (r10)")
    ap.add_argument("--window-skew", action="store_true",
                    help="hot-key probe for the sliding count window, "
                         "both payload strategies (r10)")
    ap.add_argument("--window-null-skew", action="store_true",
                    help="hot-NULL-key probe for the sliding count "
                         "window, plain vs salted (r12)")
    ap.add_argument("--batch-count", action="store_true",
                    help="index add/query cost vs accumulated BATCH count "
                         "at fixed store size, before/after maintain() "
                         "(r10; --mults holds the batch counts)")
    ap.add_argument("--lifecycle", action="store_true",
                    help="composed crawl-loop probe: N batches through "
                         "MinHashIndex + HLL log + IvfIndex with the "
                         "auto-maintenance cadence, zero manual calls "
                         "(r11; --batches sets N)")
    ap.add_argument("--batches", type=int, default=50,
                    help="batch count for --lifecycle")
    ap.add_argument("--count-lifecycle", action="store_true",
                    help="count-mode GramIndex lifecycle: bounded file "
                         "counts under auto-maintenance + retro_delta "
                         "vs full retro per cadence (r13; --batches)")
    ap.add_argument("--concurrent-adds", action="store_true",
                    help="2-writer vs serial GramIndex add throughput "
                         "under tag-scoped leases (r14; --batches)")
    ap.add_argument("--write-amp", action="store_true",
                    help="tiered vs full-fold maintenance: cumulative "
                         "bytes rewritten over a fixed feed (r11; "
                         "--batches sets the feed length)")
    ap.add_argument("--skew", action="store_true",
                    help="hot-key join probe: enrichment + as-of, plain "
                         "vs salted, per-task max/median ratios")
    ap.add_argument("--streaming", action="store_true",
                    help="streaming state-growth probe: fixed micro-batch "
                         "cost vs state-store size, both backends")
    ap.add_argument("--sink-only", action="store_true",
                    help="with --streaming: probe only the foreachBatch "
                         "sketch sink variants (skip the window backends)")
    args = ap.parse_args()
    mults = [int(x) for x in args.mults.split(",")]
    ops = [o.strip() for o in args.ops.split(",") if o.strip()]
    unknown = [o for o in ops if o not in OPS]
    if unknown:
        raise SystemExit(f"unknown ops {unknown}")

    if args.concurrent_adds:
        ca = concurrent_adds_probe(args.batches)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["concurrent_adds"] = ca
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(ca, indent=1))
        return

    if args.write_amp:
        wa = write_amp_probe(args.batches)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["write_amp"] = wa
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(wa, indent=1))
        return

    if args.count_lifecycle:
        lc = count_mode_lifecycle_probe(args.batches)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["count_mode_lifecycle"] = lc
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps({"summary": lc["summary"],
                          "checkpoints": lc["checkpoints"]}, indent=1))
        return

    if args.lifecycle:
        lc = lifecycle_probe(args.batches)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["lifecycle"] = lc
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(lc["summary"], indent=1))
        return

    if args.streaming:
        st = streaming_state_probe(mults, sink_only=args.sink_only)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        merged_st = data.get("streaming_state", {})
        for op, runs in st.items():  # merge per scale point, don't clobber
            merged_st.setdefault(op, {}).update(runs)
        data["streaming_state"] = merged_st
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(st, indent=1))
        return

    if args.skew:
        sk = skew_probe(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        merged_sk = data.get("skewed_joins", {})
        for op, runs in sk.items():  # merge per scale point, don't clobber
            merged_sk.setdefault(op, {}).update(runs)
        data["skewed_joins"] = merged_sk
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(sk, indent=1))
        return

    if args.batch_count:
        bc = batch_count_probe(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        merged_bc = data.get("batch_count", {})
        for op, runs in bc.items():
            merged_bc.setdefault(op, {}).update(runs)
        data["batch_count"] = merged_bc
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(bc, indent=1))
        return

    if args.window_null_skew:
        ws = window_null_skew_probe(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        merged_ws = data.get("window_null_skew", {})
        for op, runs in ws.items():
            merged_ws.setdefault(op, {}).update(runs)
        data["window_null_skew"] = merged_ws
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(ws, indent=1))
        return

    if args.window_skew:
        ws = window_skew_probe(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        merged_ws = data.get("window_skew", {})
        for op, runs in ws.items():
            merged_ws.setdefault(op, {}).update(runs)
        data["window_skew"] = merged_ws
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(ws, indent=1))
        return

    if args.adversarial_add:
        adv = adversarial_add_probe(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["adversarial_add"] = adv
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(adv, indent=1))
        return

    if args.adversarial:
        adv = adversarial_probe(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["adversarial_lsh"] = adv
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(adv, indent=1))
        return

    for m in mults:
        gen_documents(m)
        gen_events(m)
        gen_embeddings(m)
        print(f"# fixtures x{m} ready", flush=True)

    if args.candidates:
        vols = candidate_volumes(mults)
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "SCALEPROBE.json")
        data = json.load(open(path)) if os.path.exists(path) else {}
        data["simhash_candidate_volumes"] = vols
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
        print(json.dumps(vols, indent=1))
        return

    out: dict[str, dict] = {}
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in ops:
            fn, _tbl, predicted = OPS[name]
            runs = {}
            for m in mults:
                r = _measure(lambda s, _m=m: fn(s, _m), spark)
                runs[str(m)] = r
                print(f"# {name} x{m}: {r['sec']}s "
                      f"shuffleW {r['shuffle_write_mb']}MB "
                      f"rows {r['rows']}", flush=True)
            secs = [runs[str(m)]["sec"] for m in mults]
            wmbs = [runs[str(m)]["shuffle_write_mb"] for m in mults]
            out[name] = {
                "runs": runs,
                "predicted_exponent": predicted,
                "time_exponent": _fit_exponent(mults, secs),
                "shuffle_exponent": _fit_exponent(mults, wmbs),
            }
    finally:
        spark.stop()

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "SCALEPROBE.json")
    merged = {"mults": mults, "base_rows": {
        "documents": BASE_DOCS, "events": BASE_EVENTS,
        "embeddings": BASE_VECS}, "ops": {}}
    if os.path.exists(path):  # partial runs update, not clobber — and
        # keep every OTHER probe section (streaming_state, lifecycle, ...)
        # an --ops run doesn't touch (an early r11b run dropped them)
        try:
            with open(path) as f:
                prior = json.load(f)
            merged["ops"] = prior.pop("ops", {})
            for k, v in prior.items():
                if k not in merged:
                    merged[k] = v
        except Exception:
            pass
    merged["ops"].update(out)
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
    print(json.dumps({k: {"time_exp": v["time_exponent"],
                          "shuffle_exp": v["shuffle_exponent"],
                          "predicted": v["predicted_exponent"]}
                      for k, v in out.items()}, indent=1))


if __name__ == "__main__":
    main()
