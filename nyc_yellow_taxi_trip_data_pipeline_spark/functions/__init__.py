"""Scalar function library: native Column expression builders.

The reference implements its scalar logic as row-at-a-time Python UDFs
(reference sparkConsumer.py:71-80, deployment/main.py:23-32) and pandas
row-applies (deployment/pages/1_EDA_Dashboard.py:84-94). Every function here
is a *native* Column expression instead — Catalyst can optimize through it
and whole-stage codegen keeps it JVM-side, which is the difference between
a Python-worker bottleneck and a vectorized scan at 100 TB.
"""

from nyc_yellow_taxi_trip_data_pipeline_spark.functions.scalar import (
    day_name,
    duration_minutes,
    guarded_div,
    is_weekend,
    is_weekend_friday_saturday,
    label_map,
    time_of_day_dashboard,
    time_of_day_etl,
)
from nyc_yellow_taxi_trip_data_pipeline_spark.functions.vector import (
    dot_product,
    l2_norm,
)

__all__ = [
    "day_name",
    "dot_product",
    "duration_minutes",
    "guarded_div",
    "is_weekend",
    "is_weekend_friday_saturday",
    "l2_norm",
    "label_map",
    "time_of_day_dashboard",
    "time_of_day_etl",
]
