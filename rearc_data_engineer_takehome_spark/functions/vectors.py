"""Vector math over array<float|double> columns — pure array expressions.

``F.zip_with`` + ``F.aggregate`` keep dot products and norms inside
whole-stage codegen (JVM, no Python round-trip). Elements are cast to
double BEFORE multiplication so accumulation precision matches DuckDB's
``list_dot_product`` on ``DOUBLE[]`` — both engines then fold
left-to-right in index order, giving bit-identical results for oracle
comparison.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i, double accumulation, index order."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """Euclidean norm."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe only insofar as inputs are non-null."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB rendering of :func:`cosine` (casts to DOUBLE[] so both
    engines accumulate in double)."""
    return (
        f"(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))"
    )

