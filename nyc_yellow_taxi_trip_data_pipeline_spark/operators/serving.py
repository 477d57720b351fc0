"""Serving: batch-predict with a persisted model (reference deployment/main.py).

The reference wraps this in FastAPI; the engine capability is the function
underneath — load a PipelineModel once, apply the SAME clean/feature
transforms as training (the reference re-implements them a third time in
preprocessData, deployment/main.py:37-57; here they're imported), then
project the label and the model's prediction. HTTP framing is the
caller's concern.

The prediction is the model's compiled form (``ml.compile``), not
``PipelineModel.transform``: transform re-broadcasts the whole forest on
every call (~150 ms of driver time per request for a 100-tree depth-10
forest), the compiled form broadcasts it once per session and model and
is bit-identical to transform.
"""

from __future__ import annotations

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.ml.compile import compile_pipeline
from nyc_yellow_taxi_trip_data_pipeline_spark.operators.transforms import (
    add_trip_features,
    impute_numeric_nulls,
    normalize_column_names,
    parse_timestamps,
)

#: Numeric columns imputed before prediction (reference main.py:37-41).
IMPUTE_COLUMNS = [
    "vendorid",
    "ratecodeid",
    "pulocationid",
    "dolocationid",
    "passenger_count",
    "trip_distance",
    "fare_amount",
    "tip_amount",
    "improvement_surcharge",
    "total_amount",
    "payment_type",
]

#: Request columns ``preprocess`` derives the trip features from: the
#: reference contract is an upload in the yellow-tripdata schema, pickup
#: and dropoff timestamps included (main.py:37-57).
REQUEST_COLUMNS = (
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "trip_distance",
    "fare_amount",
)


def load_model(path: str) -> PipelineModel:
    """Loaded once per process (reference main.py:19)."""
    return PipelineModel.load(path)


def preprocess(df: DataFrame) -> DataFrame:
    """Serving-side preprocessing == training-side transforms, one code
    path (normalize -> parse timestamps -> impute -> derive features)."""
    out = normalize_column_names(df)
    out = parse_timestamps(out)
    out = impute_numeric_nulls(out, IMPUTE_COLUMNS)
    return add_trip_features(out)


def _require(df: DataFrame, needed: tuple[str, ...]) -> None:
    have = {c.lower() for c in df.columns}
    missing = [c for c in needed if c.lower() not in have]
    if missing:
        raise ValueError(f"request is missing columns: {', '.join(missing)}")


def predict(
    model: PipelineModel, df: DataFrame, label: str = "fare_amount"
) -> DataFrame:
    """Preprocess and project the label and the prediction (reference
    main.py:71-75). Raises ValueError naming the missing columns when the
    request lacks ``REQUEST_COLUMNS``, the label or a model input."""
    compiled = compile_pipeline(df.sparkSession, model)
    _require(df, REQUEST_COLUMNS)
    prepped = preprocess(df)
    _require(prepped, (label, *compiled.inputs))
    return prepped.select(label, compiled.prediction.alias("prediction"))


def predict_csv(
    spark: SparkSession, model: PipelineModel, csv_path: str, label: str = "fare_amount"
) -> DataFrame:
    """CSV upload path (reference main.py:61-67) without the pandas hop:
    Spark reads the CSV directly — the createDataFrame(pd.read_csv(...))
    round trip only existed because the reference served from pandas."""
    df = spark.read.option("header", "true").option("inferSchema", "true").csv(csv_path)
    return predict(model, df, label=label)
