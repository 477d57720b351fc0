"""Skew-safe aggregation via salting.

When a group-by key is pathologically hot (one key owning a large share of
100 TB), a single reducer partition becomes the straggler. Salting splits
each key into ``n_salts`` sub-keys for a first partial aggregation, then
re-aggregates the (tiny) salted partials — two shuffles, but each bounded.

Works on any algebraic aggregate; implemented here for the engine's
quantized sum/count so the final numbers are bit-identical to a plain
group-by (integer partials re-aggregate exactly)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_quantized_agg(
    df: DataFrame,
    key: str,
    value: Column,
    salt_expr: Column,
) -> DataFrame:
    """Two-stage sum/mean/count per ``key``, salted 16 ways on
    ``salt_expr``; the sum is quantized to cents.

    Returns columns: key, sum_value, avg_value, n — exactly what a direct
    ``groupBy(key)`` with the quantized aggs would return.
    """
    salted = df.withColumn("__salt", F.pmod(salt_expr, F.lit(16)))
    partials = salted.groupBy(key, "__salt").agg(
        F.sum(F.floor(value * 100 + F.lit(0.5)).cast("long")).alias("__psum"),
        F.count(value).alias("__pcnt"),
    )
    return partials.groupBy(key).agg(
        (F.sum("__psum") / 100.0).alias("sum_value"),
        ((F.sum("__psum") / 100.0) / F.sum("__pcnt")).alias("avg_value"),
        F.sum("__pcnt").alias("n"),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_expr: Column,
    n_salts: int = 8,
    how: str = "inner",
    hint: str | None = None,
) -> DataFrame:
    """Equi-join re-keyed on (key, salt), row-identical to the plain join.

    The dim side replicates each row across all ``n_salts`` salt ids
    (explode over a literal sequence — dim grows n_salts-fold, which is
    the price of spreading the fact side); the fact side derives its salt
    from ``salt_expr`` (pass a DETERMINISTIC expression, e.g. an md5 fold
    of a high-cardinality column — rand() salting is irreproducible).
    A hot fact key's rows then hash across ``n_salts`` shuffle partitions
    instead of one straggler.

    ``hint`` (e.g. ``"merge"``) is applied to the fact side right before
    the join so the salted co-partitioning is actually exercised in tests
    where the dim would otherwise auto-broadcast.

    Only ``inner``/``left``/``left_semi``/``left_anti`` joins are
    row-identical under salting: the dim side is REPLICATED n_salts
    ways, so any join type that emits unmatched DIM rows (right/full/
    right_semi/right_anti) would emit each unmatched dim row n_salts
    times instead of once — rejected here rather than silently wrong.
    (Unmatched FACT rows are fine: each fact row carries exactly one
    salt.)
    """
    # Allowlist, not string surgery: bare "outer" is Spark's alias for FULL
    # OUTER, and lower().replace("outer","") normalized it to "" — which the
    # old denylist waved through, silently n_salts-replicating unmatched dim
    # rows. Every join type that can emit unmatched DIM rows must be here.
    _SAFE = {
        "inner", "cross",
        "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti",
    }
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in _SAFE}:
        raise ValueError(
            f"salted_join(how={how!r}): dim-side replication duplicates "
            "unmatched dim rows n_salts-fold for right/full/outer join "
            "types; use inner/left/left_semi/left_anti (or salt the other "
            "side)"
        )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    fact_s = fact.withColumn(
        "__salt", F.pmod(salt_expr.cast("long"), F.lit(n_salts)).cast("int")
    )
    if hint is not None:
        fact_s = fact_s.hint(hint)
    cond = (fact_s[fact_key] == dim_s[dim_key]) & (
        fact_s["__salt"] == dim_s["__salt"]
    )
    # drop() by name removes BOTH __salt columns (Spark drops every match).
    return fact_s.join(dim_s, cond, how).drop("__salt")
