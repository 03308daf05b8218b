"""Vector math over ``array<float>`` embedding columns — built-in functions
only (``zip_with`` + ``aggregate``), so the arithmetic runs inside
whole-stage codegen and never crosses into Python. At 100 TB this is the
difference between an embarrassingly parallel scan and an Arrow serialization
bottleneck.

Everything accumulates in DOUBLE regardless of the input element type, so
results agree with any float64 oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))

