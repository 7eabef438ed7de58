"""Vector math over ``array<float>`` embedding columns, as pure Catalyst
higher-order-function expressions (``zip_with``/``aggregate``): JVM-side,
no UDF, no Arrow transfer. Used by the similarity-search operators.

At 100 TB these expressions are map-only (scale linearly, no shuffle);
the shuffle strategy lives in the operators that call them
(:mod:`..operators.similarity`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Dot product of two equal-length float arrays (accumulated in
    double for numeric stability)."""
    prod = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs instead of NaN."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)
