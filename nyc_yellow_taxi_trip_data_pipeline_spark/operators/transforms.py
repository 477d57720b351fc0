"""The trip clean/feature transform layer — pure DataFrame -> DataFrame.

This is the engine's version of the reference's streaming ETL stage
(reference sparkConsumer.py:84-97) and the serving-side preprocessing
(reference deployment/main.py:37-57). Three properties the reference lacks:

1. **Native expressions, no Python UDFs.** The reference inserts a
   row-at-a-time UDF for time-of-day (sparkConsumer.py:71-80), which breaks
   whole-stage codegen and drags every row through a Python worker. Here the
   whole stage is one codegen'd Project.
2. **Batch/stream symmetric.** Each function only uses operations valid on
   streaming DataFrames, so ``streaming/`` applies them verbatim.
3. **Documented-quirk preservation.** Weekend flag and bucket boundaries
   follow SURVEY.md §2.12 (both variants available, faithful one default).

Each per-column transform is split in two: a ``*_columns`` builder that
returns its ``{name: Column}`` dict, and the DataFrame function, one
``withColumns`` of that dict. A caller that applies the same transform
to many small DataFrames (``operators.serving``, one per request) builds
the Columns once and reuses them; every Column costs py4j round trips
(CLAUDE.md lesson 44).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.functions.scalar import (
    duration_minutes,
    guarded_div,
    is_weekend_friday_saturday,
    time_of_day_etl,
)

ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss"

#: The reference's two trip timestamps (sparkConsumer.py:85-86).
TIMESTAMP_COLUMNS = ("tpep_pickup_datetime", "tpep_dropoff_datetime")

#: Columns the ML stage drops before feature assembly — ADAPTED from
#: reference sparkML.py:51-53, not a copy of its colsToDrop. The reference
#: drops its raw fee columns (congestion_surcharge, airport_fee, mta_tax,
#: extra, tolls_amount), which this repo's synthetic trip fixture does not
#: carry; the shared entries (timestamps, store_and_fwd_flag,
#: dropoff_timeofday) are kept, and the derived time features this
#: pipeline adds (hour/day/weekend) are dropped for the same reason the
#: reference drops its redundant fees: they leak into / duplicate the
#: assembled features.
ML_DROP_COLUMNS = (
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "store_and_fwd_flag",
    "pickup_hour",
    "dropoff_hour",
    "pickup_day",
    "dropoff_day",
    "dropoff_timeofday",
    "pickup_is_weekend",
)


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Lowercase all column names — the canonical post-ETL schema.

    The reference gets this accidentally via Postgres unquoted-identifier
    folding (sparkConsumer.py:125-137; SURVEY.md §1.3); we make it explicit.
    """
    return df.toDF(*[c.lower() for c in df.columns])


def parse_timestamps_columns(present: Iterable[str]) -> dict[str, Column]:
    """``parse_timestamps``'s Columns for the ``TIMESTAMP_COLUMNS`` in
    ``present``."""
    return {
        c: F.to_timestamp(F.col(c), ISO_TS_FORMAT)
        for c in TIMESTAMP_COLUMNS
        if c in present
    }


def parse_timestamps(df: DataFrame) -> DataFrame:
    """ISO-8601 string -> timestamp (reference sparkConsumer.py:85-86)."""
    return df.withColumns(parse_timestamps_columns(df.columns))


def add_trip_features_columns() -> dict[str, Column]:
    """``add_trip_features``'s 9 feature Columns."""
    pickup, dropoff = (F.col(c) for c in TIMESTAMP_COLUMNS)
    pickup_hour = F.hour(pickup)
    dropoff_hour = F.hour(dropoff)
    pickup_day = F.dayofweek(pickup)
    return {
        "trip_duration": duration_minutes(pickup, dropoff),
        "pickup_hour": pickup_hour,
        "dropoff_hour": dropoff_hour,
        "pickup_day": pickup_day,
        "dropoff_day": F.dayofweek(dropoff),
        "pickup_timeofday": time_of_day_etl(pickup_hour),
        "dropoff_timeofday": time_of_day_etl(dropoff_hour),
        # faithful reference semantics = Fri+Sat (SURVEY.md §2.12.1)
        "pickup_is_weekend": is_weekend_friday_saturday(pickup_day),
        "fare_per_mile": guarded_div(F.col("fare_amount"), F.col("trip_distance")),
    }


def add_trip_features(df: DataFrame) -> DataFrame:
    """Derive the 9 feature columns of the cleaned table in ONE projection
    (reference sparkConsumer.py:84-96 chains 11 withColumns).

    Single ``withColumns`` call => single Project node => one codegen stage.
    """
    return df.withColumns(add_trip_features_columns())


def filter_valid_passengers(df: DataFrame) -> DataFrame:
    """Drop zero-passenger rows (reference sparkConsumer.py:97). Null
    passenger_count rows are ALSO dropped: ``null != 0`` evaluates to
    null, which filter treats as false — the reference inherits the same
    SQL three-valued logic, so this matches it exactly."""
    return df.filter(F.col("passenger_count") != 0)


def clean_trips(df: DataFrame) -> DataFrame:
    """Full ETL clean stage: normalize -> parse -> feature -> filter.

    Equivalent of reference sparkConsumer.py:84-97 but column-name
    normalization happens up front instead of as a storage side effect.
    """
    out = normalize_column_names(df)
    out = parse_timestamps(out)
    out = add_trip_features(out)
    return filter_valid_passengers(out)


def impute_numeric_nulls_columns(
    present: Iterable[str], columns: list[str]
) -> dict[str, Column]:
    """``impute_numeric_nulls``'s Columns for the ``columns`` in ``present``."""
    return {
        c: F.coalesce(F.col(c).cast("double"), F.lit(0.0))
        for c in columns
        if c in present
    }


def impute_numeric_nulls(df: DataFrame, columns: list[str]) -> DataFrame:
    """when(isNull, 0).otherwise(cast(double)) per column — the pre-ML
    imputation (reference sparkML.py:63-64, deployment/main.py:39-41).
    NOTE: runs *after* storage in the reference (SURVEY.md §2.12.4); the
    cleaned table keeps its nulls."""
    return df.withColumns(impute_numeric_nulls_columns(df.columns, columns))


def iqr_fences(df: DataFrame, column: str, k: float = 1.5):
    """Exact Q1/Q3 and the 1.5*IQR fences (reference
    1_EDA_Dashboard.py:141-148). Returns (lo, hi) as Python floats —
    a 2-value aggregate, cheap at any scale."""
    row = df.select(
        F.percentile(F.col(column), F.lit(0.25)).alias("q1"),
        F.percentile(F.col(column), F.lit(0.75)).alias("q3"),
    ).first()
    iqr = row.q3 - row.q1
    return row.q1 - k * iqr, row.q3 + k * iqr


def filter_iqr_outliers(df: DataFrame, column: str, k: float = 1.5) -> DataFrame:
    """Keep rows within the IQR fences (reference 1_EDA_Dashboard.py:141-148).

    Implemented as an agg + broadcast cross-join so the fences never leave
    the cluster — no driver round-trip, valid at 100 TB.
    """
    fences = df.select(
        F.percentile(F.col(column), F.lit(0.25)).alias("__q1"),
        F.percentile(F.col(column), F.lit(0.75)).alias("__q3"),
    ).select(
        (F.col("__q1") - k * (F.col("__q3") - F.col("__q1"))).alias("__lo"),
        (F.col("__q3") + k * (F.col("__q3") - F.col("__q1"))).alias("__hi"),
    )
    return (
        df.crossJoin(F.broadcast(fences))
        .filter(F.col(column).between(F.col("__lo"), F.col("__hi")))
        .drop("__lo", "__hi")
    )
