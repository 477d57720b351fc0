"""HTTP framing tests for the batch-predict endpoint (serving_http).

The endpoint test runs only where fastapi is installed (importorskip) —
this container ships without it, so the default run exercises the
import-gate path; environments with fastapi get the full TestClient
roundtrip against the same records predict_csv returns.
"""

from __future__ import annotations

import importlib.util

import pytest

from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving_http

HAS_FASTAPI = importlib.util.find_spec("fastapi") is not None


@pytest.mark.skipif(HAS_FASTAPI, reason="fastapi installed; gate cannot fire")
def test_create_app_import_gated_without_fastapi():
    with pytest.raises(ImportError, match="requires fastapi"):
        serving_http.create_app(spark=None, model=None)


def _model(spark):
    from nyc_yellow_taxi_trip_data_pipeline_spark.ml.pipeline import FeatureSpec, train

    spec = FeatureSpec(
        label="total_amount",
        numeric=("trip_distance", "fare_amount"),
        categorical=(),
        num_trees=5,
        max_depth=3,
    )
    rows = [
        (float(d), 3.0 + 2.5 * d, 3.0 + 2.5 * d + 1.0) for d in range(1, 101)
    ]
    df = spark.createDataFrame(
        rows, "trip_distance double, fare_amount double, total_amount double"
    )
    model, _, _ = train(df, spec)
    return model


def _upload(path, timestamps: bool = True):
    """The upload CSV. The reference contract is the yellow-tripdata
    schema, pickup and dropoff timestamps included: without them there
    are no trip features to derive."""
    ts = "tpep_pickup_datetime,tpep_dropoff_datetime," if timestamps else ""
    row_ts = (
        "2024-05-0{d}T08:00:00,2024-05-0{d}T08:2{d}:00," if timestamps else ""
    )
    path.write_text(
        f"{ts}trip_distance,fare_amount,total_amount\n"
        + "\n".join(
            f"{row_ts.format(d=d)}{d}.0,{3.0 + 2.5 * d},{4.0 + 2.5 * d}"
            for d in range(1, 6)
        )
    )
    return path


def test_predict_csv_requires_the_request_timestamps(spark, tmp_path):
    """The upload without timestamps fails with a ValueError naming the
    missing columns, not an AnalysisException from the feature
    transforms; the upload with them is scored."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.serving import (
        preprocess,
        predict_csv,
    )

    model = _model(spark)
    bare = _upload(tmp_path / "bare.csv", timestamps=False)
    with pytest.raises(
        ValueError, match="tpep_pickup_datetime, tpep_dropoff_datetime"
    ):
        predict_csv(spark, model, str(bare), label="total_amount")

    full = str(_upload(tmp_path / "upload.csv"))
    got = predict_csv(spark, model, full, label="total_amount").collect()
    frame = spark.read.option("header", "true").option("inferSchema", "true").csv(full)
    want = (
        model.transform(preprocess(frame))
        .select("total_amount", "prediction")
        .collect()
    )
    assert len(got) == 5
    assert got == want


@pytest.mark.skipif(not HAS_FASTAPI, reason="fastapi not installed")
def test_predict_endpoint_matches_predict_csv(spark, tmp_path):
    from fastapi.testclient import TestClient

    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.serving import predict_csv

    model = _model(spark)
    csv_path = _upload(tmp_path / "upload.csv")

    app = serving_http.create_app(spark, model, label="total_amount")
    with TestClient(app) as client:
        resp = client.post(
            "/predict/",
            files={"file": ("upload.csv", csv_path.read_bytes(), "text/csv")},
        )
    assert resp.status_code == 200
    got = resp.json()
    want = [
        r.asDict()
        for r in predict_csv(spark, model, str(csv_path), label="total_amount")
        .collect()
    ]
    assert got == want
