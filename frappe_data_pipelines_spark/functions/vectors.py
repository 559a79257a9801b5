"""Vector math as JVM-side column expressions (no Python in the hot path).

Cosine / dot / norm are built from Spark higher-order functions
(``zip_with`` + ``aggregate``), so they run in the JVM and never cross the
Python boundary. Higher-order functions do not support whole-stage codegen:
the executed plan shows the scoring ``Project`` outside any ``[codegen id]``
span, so these expressions are interpreted per row. Keep them lean (one
``zip_with`` per dot product, no ``zip_with`` in a norm). This is the
engine's replacement for the reference's Qdrant cosine scoring (reference:
services/qdrant_service.py:78-84 fixes Distance.COSINE at collection
creation; search at :139-145).

All math is done in DOUBLE with a sequential left fold, which matches DuckDB's
``list_*`` semantics on ``DOUBLE[]`` — required for oracle hash parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: aggregate(zip_with(a,b,*), 0.0, +)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vector_norm(a: Column) -> Column:
    """sqrt of the sequential fold of x*x: the same arithmetic, in the same
    order, as ``sqrt(dot_product(a, a))`` without zip_with's per-row copy."""
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    """cosine(a,b) = dot / (|a| |b|); zero vectors → NULL (try_divide — under
    ANSI mode a plain division would raise)."""
    return F.try_divide(dot_product(a, b), vector_norm(a) * vector_norm(b))


def l2_normalize(a: Column) -> Column:
    """Normalize at write time so search is a plain dot product
    (SURVEY §1.3). Stays array<double>; zero vectors → array of NULLs."""
    n = vector_norm(a)
    return F.transform(_as_double(a), lambda x: F.try_divide(x, n))
