"""Array/vector math as native higher-order functions (JVM-side, no UDF).

The reference does vector math in per-record Python (cosine/mean over window
arrays, ``ralf/policies/load_shedding_policy.py:25-50``; np.ndarray features
``ralf/table.py:160-166``). Here the same math is Catalyst expressions over
``ArrayType`` columns: ``zip_with`` + ``aggregate`` compile into codegen'd
loops — no Python boundary, so they vectorize at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with+aggregate (double accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b) = a·b / (|a||b|) — the reference's cosine policy math
    (``load_shedding_policy.py:41-50``) as one JVM expression."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
