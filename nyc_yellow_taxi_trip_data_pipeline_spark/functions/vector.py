"""Vector math over ``array<float|double>`` columns — all JVM-side.

Built from higher-order functions (``zip_with`` / ``aggregate``) so the hot
path never crosses into Python. Used by the similarity-search operators.
Elements are cast to double before accumulation so results are deterministic
(same left-to-right fold order every run) and engine-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Sum of elementwise products via zip_with + aggregate (no UDF)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )

