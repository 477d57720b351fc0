"""HTTP framing for batch predict (reference deployment/main.py:61-76).

The reference serves ``POST /predict/`` from FastAPI: CSV upload ->
preprocess -> PipelineModel.transform -> ``[{fare_amount, prediction},
...]`` records. The engine capability is ``operators.serving``, which
scores with the model's compiled form (``ml.compile``: the forest is
broadcast once per session, not on every request as ``transform`` does)
— this module only adds the HTTP envelope, import-gated like MLflow so
the package works in environments without fastapi installed. The upload
must carry the reference schema's pickup and dropoff timestamps; without
them ``predict_csv`` raises ValueError naming the missing columns.

Run: ``uvicorn`` on ``create_app(spark, model)``. The reference decodes
the upload with pandas then ``createDataFrame`` (main.py:65-67); here the
upload is spooled to a temp file and read by Spark's CSV reader directly —
same rows, no pandas parse/convert hop. ``predict_csv`` reads the file's
header line on the driver and types each column from the declared upload
contract (``serving.UPLOAD_CONTRACT``; an unknown column is a string),
so a request runs one Spark job, the collect, instead of two more for
schema inference. The read is ``mode=FAILFAST``: a value that does not
parse as its declared type (a non-numeric fare, a malformed timestamp)
fails the request instead of being scored as null. Note the handler still buffers
the full upload bytes (``await file.read()``) and collect()s all
prediction rows for the JSON response, so request/response size bounds
the endpoint — for bulk scoring use ``operators.serving.predict_csv``
against files on shared storage instead of HTTP uploads.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.ml import PipelineModel
from pyspark.sql import SparkSession

from nyc_yellow_taxi_trip_data_pipeline_spark.operators.serving import predict_csv


def create_app(spark: SparkSession, model: PipelineModel, label: str = "fare_amount"):
    """Build the FastAPI app serving ``POST /predict/``.

    Raises ImportError with a clear message when fastapi is absent —
    callers that only need batch predict use ``operators.serving``
    directly and never pay the dependency.
    """
    try:
        from fastapi import FastAPI, File, UploadFile
    except ImportError as exc:  # pragma: no cover - exercised via skipif
        raise ImportError(
            "serving_http requires fastapi (pip install fastapi); the "
            "engine-side batch predict lives in operators.serving and has "
            "no HTTP dependency"
        ) from exc

    app = FastAPI()

    @app.post("/predict/")
    async def predict(file: UploadFile = File(...)):  # noqa: ANN001
        contents = await file.read()
        tmp = tempfile.NamedTemporaryFile(
            mode="wb", suffix=".csv", delete=False
        )
        try:
            tmp.write(contents)
            tmp.close()
            result = predict_csv(spark, model, tmp.name, label=label)
            # same envelope as the reference: list of records with the
            # label and prediction columns (main.py:73-76)
            return [row.asDict() for row in result.collect()]
        finally:
            os.unlink(tmp.name)

    return app
