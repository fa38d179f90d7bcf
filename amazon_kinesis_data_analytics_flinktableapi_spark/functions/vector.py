"""Vector math over ``array<float>`` embedding columns.

All pure built-in expressions (``F.zip_with`` / ``F.aggregate``) — the dot
product runs inside codegen, no Python round-trip, so brute-force similarity
stays scan-bound.  Arithmetic is promoted to double *before* accumulation:
left-to-right double summation is deterministic and matches how the DuckDB
oracle evaluates the same expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    # promote BEFORE multiplying (module contract): on array<float> inputs
    # the product would otherwise be computed in float and only the sum
    # widened, drifting low bits vs the oracle's double arithmetic
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity = dot(a,b) / (|a|·|b|), computed in double.

    Zero-norm vectors yield NULL (cosine direction is undefined), which
    threshold filters and top-k ranks exclude.  The guard is mandatory:
    the engine session runs ANSI mode (Spark 4 default), where a bare
    division by zero ABORTS the whole job — one all-zero embedding in a
    100 TB corpus would otherwise kill every similarity query."""
    ad, bd = as_double(a), as_double(b)
    denom = norm(ad) * norm(bd)
    return F.when(denom != 0.0, dot(ad, bd) / denom)
