"""Seeded input generators, written in the engine's fixture schemas.

Every generator is a pure function of its arguments: the same ``seed``
gives byte-identical tables. The engine only ever sees the parquet files
these functions write (the same schemas as the TPC-H-ish fixtures that
``ralf_spark.sources.fixtures.load_fixture`` reads).

- ``events``: ``event_id, ts, user_id, event_type, value, props`` with
  Zipf-skewed ``user_id`` and ``ts`` increasing with ``event_id``.
- ``documents``: ``doc_id, text, lang, source, n_chars``; a controlled
  share of each batch are near-duplicates (a few tokens replaced) of
  documents generated earlier.
- ``embeddings``: ``vec_id, embedding array<float>, label``; unit-norm
  draws from a Gaussian mixture (``label`` = component).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
EPOCH_US = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(
    microseconds=1
)
SPAN_US = 30 * 24 * 3600 * 10**6  # events spread over 30 days


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def zipf_draw(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` ranks in ``[0, n)`` with P(rank r) ∝ 1/(r+1)^s."""
    return rng.choice(n, size=size, p=zipf_weights(n, s))


def events_table(
    seed: int, n_events: int, n_users: int, zipf_s: float,
    first_id: int = 0, t0_us: int = 0,
) -> pa.Table:
    """Events with ``event_id`` in ``[first_id, first_id + n_events)``;
    timestamps start ``t0_us`` after 2024-01-01 and increase with id."""
    rng = np.random.default_rng(seed)
    # hot users are scattered over the id space, not ids 0, 1, 2, ...
    perm = rng.permutation(n_users)
    users = perm[zipf_draw(rng, n_users, zipf_s, n_events)].astype(np.int64)
    gaps = rng.integers(1, 2 * SPAN_US // max(n_events, 1) + 2, n_events)
    ts = EPOCH_US + t0_us + np.cumsum(gaps)
    value = np.round(rng.gamma(2.0, 10.0, n_events), 2)
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(kinds, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array([
        "".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(size)
    ])


class DocumentSource:
    """Document batches over one vocabulary; ``batch(n, dup_share)``
    returns ``n`` documents with ids continuing from the previous batch,
    ``round(n * dup_share)`` of which are near-duplicates (10% of tokens
    replaced) of a document generated in an earlier batch."""

    def __init__(self, seed: int, vocab_size: int = 2000):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng, vocab_size)
        self.texts: list[list[str]] = []

    def batch(self, n: int, dup_share: float) -> pa.Table:
        rng = self.rng
        n_dup = int(round(n * dup_share)) if self.texts else 0
        first = len(self.texts)
        new: list[list[str]] = []
        for i in range(n):
            if i < n_dup:
                toks = list(self.texts[rng.integers(0, first)])
                for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                    toks[j] = self.vocab[rng.integers(0, len(self.vocab))]
            else:
                toks = list(self.vocab[rng.integers(0, len(self.vocab), rng.integers(30, 90))])
            new.append(toks)
        order = rng.permutation(n)  # near-dups are not clustered at the front
        new = [new[k] for k in order]
        self.texts.extend(new)
        texts = [" ".join(t) for t in new]
        return pa.table({
            "doc_id": pa.array(np.arange(first, first + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{k % 4}" for k in range(first, first + n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })


def embeddings_table(seed: int, n: int, dim: int = 64, n_components: int = 16,
                     spread: float = 0.35) -> pa.Table:
    """``n`` unit-norm vectors from a Gaussian mixture of ``n_components``
    centres; ``label`` is the component."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((n_components, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_components, n)
    v = centres[labels] + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def write(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)
