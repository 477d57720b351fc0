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

A request runs one Spark job, the collect. Two fixed costs stay out of it:

- ``predict_csv`` never infers the upload's schema (two jobs with
  ``inferSchema``). It reads the header line on the driver through the
  path's Hadoop ``FileSystem``, so any scheme Spark's reader accepts
  works; for a directory or a glob it takes the first data file by
  name. Each header column is typed from ``UPLOAD_CONTRACT``, the
  reference's declared schema; an unknown column stays a string. The
  read is ``mode=FAILFAST``, so a malformed value raises instead of
  becoming a silent null, and ``enforceSchema=false``, so a file whose
  header differs from the first one raises instead of being mapped by
  position.
- ``preprocess`` builds its ~35 Columns once per session and set of
  contract columns (session memo, family ``serve``): each Column costs
  py4j round trips (CLAUDE.md lesson 44). Per request it is a rename
  and three ``withColumns`` over the reused Columns, the same plan as
  the DataFrame transforms build.
"""

from __future__ import annotations

import csv

from py4j.java_gateway import JavaClass
from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DataType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from nyc_yellow_taxi_trip_data_pipeline_spark import memo
from nyc_yellow_taxi_trip_data_pipeline_spark.ml.compile import compile_pipeline
from nyc_yellow_taxi_trip_data_pipeline_spark.operators.transforms import (
    add_trip_features_columns,
    impute_numeric_nulls_columns,
    normalize_column_names,
    parse_timestamps_columns,
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


_DOUBLE, _STRING, _TIMESTAMP = DoubleType(), StringType(), TimestampType()

#: The upload contract: the reference's declared stream schema
#: (sparkConsumer.py:36-56, SURVEY.md §1.3), lowercased. Money, distance
#: and passenger columns are doubles and the code columns strings, as
#: there; the timestamps are TimestampType, not the reference's string,
#: so the reader parses space-separated and ISO ``T`` values alike, as
#: schema inference does (a string here would leave a space-separated
#: upload to ``to_timestamp``'s ISO format, which rejects it).
UPLOAD_CONTRACT: dict[str, DataType] = {
    "vendorid": _STRING,
    "tpep_pickup_datetime": _TIMESTAMP,
    "tpep_dropoff_datetime": _TIMESTAMP,
    "passenger_count": _DOUBLE,
    "trip_distance": _DOUBLE,
    "ratecodeid": _STRING,
    "store_and_fwd_flag": _STRING,
    "pulocationid": _STRING,
    "dolocationid": _STRING,
    "payment_type": _STRING,
    "fare_amount": _DOUBLE,
    "extra": _DOUBLE,
    "mta_tax": _DOUBLE,
    "tip_amount": _DOUBLE,
    "tolls_amount": _DOUBLE,
    "improvement_surcharge": _DOUBLE,
    "total_amount": _DOUBLE,
    "congestion_surcharge": _DOUBLE,
    "airport_fee": _DOUBLE,
}


def load_model(path: str) -> PipelineModel:
    """Loaded once per process (reference main.py:19)."""
    return PipelineModel.load(path)


def preprocess(df: DataFrame) -> DataFrame:
    """Serving-side preprocessing == training-side transforms, one code
    path (normalize -> parse timestamps -> impute -> derive features).
    The Columns are built once per session and set of contract columns
    present, which bounds the memo entries whatever else a request
    carries."""
    out = normalize_column_names(df)
    present = tuple(c for c in UPLOAD_CONTRACT if c in out.columns)
    timestamps, imputed, features = memo.get_or_build(
        df.sparkSession, "serve", present, "columns", lambda: (
            parse_timestamps_columns(present),
            impute_numeric_nulls_columns(present, IMPUTE_COLUMNS),
            add_trip_features_columns(),
        ),
    )
    return out.withColumns(timestamps).withColumns(imputed).withColumns(features)


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


def _upload_header(spark: SparkSession, csv_path: str) -> list[str]:
    """The upload's header fields (``[]`` for an empty file), read on the
    driver through the path's Hadoop ``FileSystem`` and the codec its
    name implies. A directory or a glob contributes its data files (not
    ``_``- or ``.``-prefixed ones); the first by name is read."""
    client = spark.sparkContext._gateway._gateway_client

    def new(cls: str, *args):
        # JavaClass by name: ``spark._jvm.a.b.C`` resolves every package
        # segment in a reflection round trip, ~1 ms each (lesson 44).
        return JavaClass(cls, client)(*args)

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = new("org.apache.hadoop.fs.Path", csv_path)
    fs = path.getFileSystem(conf)
    files = []
    for status in fs.globStatus(path) or []:
        if not status.isDirectory():
            files.append(status.getPath())
            continue
        for child in fs.listStatus(status.getPath()):
            name = child.getPath().getName()
            if child.isFile() and not name.startswith(("_", ".")):
                files.append(child.getPath())
    if not files:
        raise FileNotFoundError(f"no CSV file at {csv_path}")
    first = min(files, key=lambda p: p.toString())
    stream = fs.open(first)
    codec = new("org.apache.hadoop.io.compress.CompressionCodecFactory", conf).getCodec(first)
    if codec is not None:
        stream = codec.createInputStream(stream)
    reader = new("java.io.BufferedReader", new("java.io.InputStreamReader", stream, "UTF-8"))
    try:
        line = reader.readLine()
    finally:
        reader.close()
    return next(csv.reader([line])) if line else []


def predict_csv(
    spark: SparkSession, model: PipelineModel, csv_path: str, label: str = "fare_amount"
) -> DataFrame:
    """CSV upload path (reference main.py:61-67) without the pandas hop:
    Spark reads the CSV directly — the createDataFrame(pd.read_csv(...))
    round trip only existed because the reference served from pandas.
    The upload is read under the schema its header and ``UPLOAD_CONTRACT``
    declare (see the module docstring): no inference job, a malformed
    value or a mismatched header raises when the result is collected."""
    schema = StructType([
        StructField(name, UPLOAD_CONTRACT.get(name.lower(), _STRING))
        for name in _upload_header(spark, csv_path)
    ])
    df = (
        spark.read.schema(schema)
        .options(header="true", mode="FAILFAST", enforceSchema="false")
        .csv(csv_path)
    )
    return predict(model, df, label=label)
