"""The benchmark's workloads: which ops each one times, how it warms up
and how its outputs are checked.

An op is one unit of user-visible work in a closed loop with one client:

- a query op builds ``QUERIES[name].spark(spark, sf_dir)`` and drains it
  through the ``noop`` sink, like ``bench.py``;
- a serve op sends one CSV request through
  ``operators.serving.predict_csv`` and collects the predictions.
"""

from __future__ import annotations

import os
from typing import Any, NamedTuple

import numpy as np
import pandas as pd

# Every query layer in one pass. From the reference dashboard's analytics
# mix: an aggregate summary, a join with top-k and the SQL API path (ten
# table reads). From curation: a session-memo consumer (ANN ranking) and
# a salted skew join. From streaming: a replay whose every micro-batch
# writes offset/commit logs and state. Replays that write outside the
# working tree (fixed /tmp paths) are left out. The two middle ops by
# cost (q05, q121) take about the same time, so the median latency falls
# inside their cluster rather than in a gap between ops of unlike cost.
QUERIES = (
    "q01_pricing_summary", "q05_route_topk", "q43_sql_api",
    "q164_retrieval_rank_eval", "q121_salted_skew_join", "q44_streaming_hourly",
)

# Serving: reference-shaped pipeline trained on seeded synthetic trips.
TRAIN_ROWS = 1000
TRAIN_SEED = 42
REQUEST_ROWS = (1, 10, 100, 1000, 10000)
LABEL = "total_amount"


class Workload(NamedTuple):
    name: str
    why: str
    ops: tuple[str, ...]
    # Seconds one warm pass takes on the reference 4-core host. A run
    # times round(--seconds / pass_s) whole passes, so every run of a
    # workload does the same work however fast the code under test is.
    pass_s: float
    # Untimed passes in set-up. Pass times keep falling for several
    # passes after the first (JIT); the timed passes start once the
    # steepest part of that fall is over.
    warm_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "queries",
            "dashboard, curation and streaming queries: plan construction, table reads, "
            "Catalyst, executor shuffle, the session memo and the micro-batch floor",
            QUERIES,
            4.5,
            2,
        ),
        Workload(
            "serve",
            "predict_csv requests of 1 to 10k rows against a trained 100-tree "
            "forest: the only path through ml and operators.serving",
            tuple(f"request_{n}" for n in REQUEST_ROWS),
            4.0,
            1,
        ),
    )
}


# -- serve inputs ------------------------------------------------------


def synthetic_trips(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Raw trips in the reference's yellow-tripdata schema (FIXTURES.md
    ``trips_raw``), with a learnable ``total_amount``."""
    pickup = (
        np.datetime64("2024-05-01T00:00:00")
        + rng.integers(0, 31 * 86_400, n) * np.timedelta64(1, "s")
    )
    dropoff = pickup + rng.integers(60, 90 * 60, n) * np.timedelta64(1, "s")
    distance = np.round(rng.uniform(0.0, 30.0, n), 2)
    fare = np.round(3.0 + 2.5 * distance + rng.uniform(0.0, 5.0, n), 2)
    tip = np.round(rng.uniform(0.0, 0.3, n) * fare, 2)
    tolls = rng.choice([0.0, 6.55, 17.0], n, p=[0.9, 0.07, 0.03])
    surcharge = rng.choice([0.0, 1.0], n, p=[0.1, 0.9])
    iso = "%Y-%m-%dT%H:%M:%S"
    return pd.DataFrame({
        "VendorID": rng.choice(["1", "2"], n),
        "tpep_pickup_datetime": pd.to_datetime(pickup).strftime(iso),
        "tpep_dropoff_datetime": pd.to_datetime(dropoff).strftime(iso),
        "passenger_count": rng.integers(1, 7, n).astype(float),
        "trip_distance": distance,
        "RatecodeID": rng.choice(["1", "2", "3", "4", "5", "6"], n),
        "PULocationID": rng.integers(1, 266, n).astype(str),
        "DOLocationID": rng.integers(1, 266, n).astype(str),
        "payment_type": rng.choice(["1", "2", "3", "4"], n),
        "fare_amount": fare,
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": surcharge,
        "total_amount": np.round(fare + tip + tolls + surcharge, 2),
    })


def write_requests(seed: int, out_dir: str) -> dict[str, str]:
    """One seeded CSV per request size. Every float carries a decimal
    point so CSV schema inference types a 1-row file like a 10k-row one."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for n in REQUEST_ROWS:
        path = os.path.join(out_dir, f"request_{n}.csv")
        synthetic_trips(rng, n).to_csv(path, index=False, float_format="%.2f")
        paths[f"request_{n}"] = path
    return paths


def train_model(spark) -> Any:
    """Fit the reference-shaped pipeline (StringIndexer -> OneHotEncoder
    -> VectorAssembler -> StandardScaler -> RandomForest, 100 trees,
    depth 10) on the serving path's own preprocessing. The training rows
    are the same for every ``--seed``; only the requests vary."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.ml import FeatureSpec, train
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving

    raw = spark.createDataFrame(synthetic_trips(np.random.default_rng(TRAIN_SEED), TRAIN_ROWS))
    spec = FeatureSpec(
        label=LABEL,
        numeric=("trip_distance", "fare_amount", "tip_amount", "tolls_amount",
                 "passenger_count", "trip_duration", "pickup_hour", "pickup_day"),
        categorical=("pickup_timeofday",),
        num_trees=100,
        max_depth=10,
    )
    model, _, _ = train(serving.preprocess(raw), spec)
    return model
