"""Shared fixtures: one local SparkSession, the oracle-parity harness and
the FIXTURES.md edge-case trips."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def oracle_parity(spark):
    """``oracle_parity(name, sf)`` runs registered query ``name`` and its
    DuckDB oracle twin over the same ``sf`` directory, asserts that
    ``tools.parity.compare`` finds nothing, and returns the Spark result
    as a pandas frame for the caller's hand-derived assertions."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
    from tools.parity import compare, duck_connection

    def run(name: str, sf: str):
        q = QUERIES[name]
        got = q.spark(spark, sf).toPandas()
        duck = duck_connection(sf).execute(q.oracle).fetch_df()
        problems = compare(name, got, duck)
        assert not problems, problems
        return got

    return run


@pytest.fixture(scope="session")
def trips_raw(spark):
    """Edge-case trip rows per FIXTURES.md §5: hour boundaries, all
    weekdays, zero distance, negative duration, zero/null passengers,
    unmatched zone FK, unmapped payment type."""
    rows = [
        # (VendorID, pickup, dropoff, passengers, distance, rate, flag, pu, do, pay, fare)
        ("1", "2024-05-05T05:30:00", "2024-05-05T05:45:00", 1.0, 2.0, "1", "N", "1", "2", "1", 10.0),   # Sun, hour 5
        ("1", "2024-05-06T06:00:00", "2024-05-06T06:30:00", 2.0, 3.0, "2", "Y", "3", "4", "2", 12.0),   # Mon, hour 6
        ("2", "2024-05-07T11:59:00", "2024-05-07T12:10:00", 1.0, 1.0, "1", "N", "5", "6", "3", 8.0),    # Tue, hour 11
        ("2", "2024-05-08T12:00:00", "2024-05-08T12:20:00", 3.0, 4.0, "3", "N", "7", "8", "4", 15.0),   # Wed, hour 12
        ("1", "2024-05-09T15:59:00", "2024-05-09T16:30:00", 1.0, 5.0, "1", "N", "9", "10", "5", 20.0),  # Thu, hour 15
        ("1", "2024-05-10T16:00:00", "2024-05-10T16:45:00", 2.0, 6.0, "2", "N", "11", "12", "6", 25.0), # Fri, hour 16
        ("2", "2024-05-11T21:59:00", "2024-05-11T22:30:00", 1.0, 7.0, "1", "N", "13", "14", "0", 30.0), # Sat, hour 21
        ("2", "2024-05-12T22:00:00", "2024-05-12T23:00:00", 4.0, 8.0, "4", "N", "999", "1", "1", 35.0), # Sun, hour 22; unmatched PU
        ("1", "2024-05-13T10:00:00", "2024-05-13T09:30:00", 1.0, 2.0, "1", "N", "2", "3", "2", 9.0),    # negative duration
        ("1", "2024-05-14T08:00:00", "2024-05-14T08:20:00", 1.0, 0.0, "1", "N", "4", "5", "1", 7.0),    # zero distance
        ("2", "2024-05-15T09:00:00", "2024-05-15T09:10:00", 0.0, 1.0, "1", "N", "6", "7", "2", 5.0),    # zero passengers
        ("2", "2024-05-16T23:30:00", "2024-05-17T00:15:00", None, 1.5, None, None, "8", "9", "1", 6.0), # null passengers
    ]
    return spark.createDataFrame(
        rows,
        "VendorID string, tpep_pickup_datetime string, "
        "tpep_dropoff_datetime string, passenger_count double, "
        "trip_distance double, RatecodeID string, store_and_fwd_flag string, "
        "PULocationID string, DOLocationID string, payment_type string, "
        "fare_amount double",
    )
