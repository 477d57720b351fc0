"""Scalar Column-expression builders (the engine's stdlib).

Each builder returns a ``pyspark.sql.Column`` so it composes inside
``select``/``withColumn`` and stays inside whole-stage codegen. Semantics
mirror the reference exactly where the reference is the spec, with the
documented quirks preserved as *named variants* (see SURVEY.md §2.12):

- two different time-of-day bucketings exist in the reference
  (sparkConsumer.py:73-80 vs 1_EDA_Dashboard.py:84-92) — both are kept;
- the reference's "weekend" flag actually marks Friday+Saturday
  (sparkConsumer.py:95 with Spark dayofweek 1=Sun..7=Sat) — both the
  buggy-but-faithful and the intended Sat+Sun variants are provided.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def time_of_day_etl(hour: Column) -> Column:
    """ETL bucketing: morning 6-11 / afternoon 12-15 / evening 16-21 /
    late night otherwise (reference sparkConsumer.py:71-80, a Python UDF
    there; a codegen-able CASE chain here)."""
    return (
        F.when(hour.between(6, 11), F.lit("morning"))
        .when(hour.between(12, 15), F.lit("afternoon"))
        .when(hour.between(16, 21), F.lit("evening"))
        .otherwise(F.lit("late night"))
    )


def time_of_day_dashboard(hour: Column) -> Column:
    """Dashboard bucketing — different boundaries AND labels: Morning 5-11 /
    Afternoon 12-16 / Evening 17-20 / Night otherwise (reference
    1_EDA_Dashboard.py:84-94)."""
    return (
        F.when(hour.between(5, 11), F.lit("Morning"))
        .when(hour.between(12, 16), F.lit("Afternoon"))
        .when(hour.between(17, 20), F.lit("Evening"))
        .otherwise(F.lit("Night"))
    )


def is_weekend_friday_saturday(day_of_week: Column) -> Column:
    """Faithful reference semantics: ``dayofweek IN (6,7)`` where Spark's
    dayofweek is 1=Sunday..7=Saturday, i.e. flags Friday+Saturday
    (reference sparkConsumer.py:95 — documented bug, SURVEY.md §2.12.1)."""
    return day_of_week.isin(6, 7)


def is_weekend(day_of_week: Column) -> Column:
    """Intended semantics: Saturday+Sunday (Spark dayofweek 1 or 7)."""
    return day_of_week.isin(1, 7)


def guarded_div(numer: Column, denom: Column) -> Column:
    """Division with a zero-denominator guard (0.0), e.g. fare_per_mile
    (reference sparkConsumer.py:96, deployment/main.py:44-45)."""
    return F.when(denom == 0, F.lit(0.0)).otherwise(numer / denom)


def duration_minutes(start_ts: Column, end_ts: Column) -> Column:
    """Elapsed minutes between two timestamps via unix-seconds arithmetic
    (reference sparkConsumer.py:87-88). May be negative/zero when end<start —
    deliberately NOT clamped (SURVEY.md §2.12.5)."""
    return (F.unix_timestamp(end_ts) - F.unix_timestamp(start_ts)) / 60.0


def day_name(ts: Column) -> Column:
    """Full weekday name, e.g. 'Monday' (reference 1_EDA_Dashboard.py:187
    uses pandas dt.day_name())."""
    return F.date_format(ts, "EEEE")


def label_map(code: Column, mapping: Mapping[str, str]) -> Column:
    """Code→label CASE mapping with the fallback label 'Other' (reference
    1_EDA_Dashboard.py:107-117, payment-type names + fillna('Other'))."""
    expr: Column | None = None
    for key, label in mapping.items():
        cond = code == F.lit(key)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    if expr is None:
        return F.lit("Other")
    return expr.otherwise(F.lit("Other"))


PAYMENT_TYPE_LABELS: dict[str, str] = {
    "1": "Credit card",
    "2": "Cash",
    "3": "No charge",
    "4": "Dispute",
    "5": "Unknown",
    "6": "Voided trip",
}
