"""The compiled serving path (``ml.compile``) against its oracle,
``PipelineModel.transform``: predictions must be bit-identical, the
compiled form must be built once per session and model, and anything
``ml.build_pipeline`` never produces must be refused by name."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark import SparkContext
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.ml import FeatureSpec, build_pipeline
from nyc_yellow_taxi_trip_data_pipeline_spark.ml import compile as ml_compile
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving

LABEL = "total_amount"
RAW_SCHEMA = (
    "VendorID string, tpep_pickup_datetime string, tpep_dropoff_datetime string, "
    "passenger_count double, trip_distance double, fare_amount double, "
    "tip_amount double, tolls_amount double, improvement_surcharge double, "
    "total_amount double"
)
FOREST_SPEC = FeatureSpec(
    label=LABEL,
    numeric=(
        "trip_distance", "fare_amount", "tip_amount", "tolls_amount",
        "passenger_count", "trip_duration", "pickup_hour", "improvement_surcharge",
    ),
    categorical=("pickup_timeofday",),
    num_trees=100,
    max_depth=10,
)
SMALL_SPEC = FeatureSpec(
    label=LABEL, numeric=("trip_distance", "fare_amount"), num_trees=5, max_depth=3
)


def _trips(seed: int, n: int, hours: tuple[int, int], edge: bool) -> list[tuple]:
    """Seeded raw trips. ``edge`` plants null and NaN numerics, null
    timestamps and negative durations; training rows carry
    a constant ``improvement_surcharge`` (a zero-variance feature)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        day, hour = int(rng.integers(1, 29)), int(rng.integers(*hours))
        minutes = int(rng.integers(1, 90))
        if edge and i % 9 == 4:
            minutes = -minutes  # dropoff before pickup
        pickup = f"2024-05-{day:02d}T{hour:02d}:{int(rng.integers(0, 60)):02d}:00"
        drop_h, drop_m = divmod(hour * 60 + 30 + minutes, 60)
        dropoff = f"2024-05-{day:02d}T{drop_h % 24:02d}:{drop_m:02d}:00"
        distance = round(float(rng.uniform(0.0, 30.0)), 2)
        fare = round(3.0 + 2.5 * distance + float(rng.uniform(0.0, 5.0)), 2)
        tip = round(float(rng.uniform(0.0, 0.3)) * fare, 2)
        tolls = float(rng.choice([0.0, 6.55, 17.0]))
        surcharge = 1.0
        passengers = float(rng.integers(1, 7))
        if edge:
            surcharge = [0.0, 1.0, 2.5][i % 3]
            if i % 7 == 1:
                tolls = None
            if i % 11 == 2:
                tolls = float("nan")
            if i % 13 == 3:
                passengers = None
            if i % 17 == 5:
                pickup = None
            if i % 19 == 6:
                dropoff = None
        total = round(fare + tip + (tolls or 0.0) + surcharge, 2)
        rows.append(("1", pickup, dropoff, passengers, distance, fare, tip,
                     tolls, surcharge, total))
    return rows


def _fit(spark, spec: FeatureSpec, rows: list[tuple]) -> PipelineModel:
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    return build_pipeline(spec).fit(serving.preprocess(raw))


def _bits(rows, column: str) -> list[int]:
    return np.array([r[column] for r in rows], dtype=np.float64).view(np.int64).tolist()


def _assert_exact(want_df, got_df) -> int:
    want, got = want_df.collect(), got_df.collect()
    assert len(got) == len(want)
    assert _bits(got, LABEL) == _bits(want, LABEL)
    assert _bits(got, "prediction") == _bits(want, "prediction")
    return len(got)


@pytest.fixture(scope="module")
def forest(spark):
    """100 trees, depth 10, on ~1k trips picked up 06:00-21:59, so the
    'late night' bucket is a label the indexer never saw."""
    return _fit(spark, FOREST_SPEC, _trips(7, 1000, (6, 22), edge=False))


def test_forest_predict_is_bit_identical_to_transform(spark, forest):
    surcharge = FOREST_SPEC.numeric.index("improvement_surcharge")
    assert forest.stages[-2].std[surcharge] == 0.0  # constant in training
    assert "late night" not in forest.stages[0].labelsArray[0]
    raw = spark.createDataFrame(_trips(8, 10_500, (0, 24), edge=True), RAW_SCHEMA).cache()
    want = forest.transform(serving.preprocess(raw)).select(LABEL, "prediction")
    got = serving.predict(forest, raw, label=LABEL)
    assert _assert_exact(want, got) >= 10_000
    prepped = serving.preprocess(raw)
    assert prepped.filter(F.col("trip_duration") < 0).count() > 0
    assert prepped.filter(F.col("tolls_amount").isNull()).count() > 0
    assert prepped.filter(F.isnan("tolls_amount")).count() > 0
    raw.unpersist()


def test_forest_null_and_unseen_labels_encode_as_zeros(spark, forest):
    """Through ``preprocess`` the bucket is never null, so a null and an
    unseen label are planted after it and scored by the compiled Column."""
    prepped = serving.preprocess(
        spark.createDataFrame(_trips(9, 600, (0, 24), edge=True), RAW_SCHEMA)
    ).withColumn(
        "pickup_timeofday",
        F.when(F.col("fare_amount") < 20, F.lit(None).cast("string"))
        .when(F.col("fare_amount") < 40, F.lit("dawn"))
        .otherwise(F.col("pickup_timeofday")),
    ).cache()
    compiled = ml_compile.compile_pipeline(spark, forest)
    want = forest.transform(prepped).select(LABEL, "prediction")
    got = prepped.select(LABEL, compiled.prediction.alias("prediction"))
    assert _assert_exact(want, got) == 600
    prepped.unpersist()


def test_categorical_free_model_is_bit_identical(spark):
    model = _fit(spark, SMALL_SPEC, _trips(10, 200, (0, 24), edge=False))
    raw = spark.createDataFrame(_trips(11, 500, (0, 24), edge=True), RAW_SCHEMA)
    want = model.transform(serving.preprocess(raw)).select(LABEL, "prediction")
    assert _assert_exact(want, serving.predict(model, raw, label=LABEL)) == 500
    assert ml_compile.compile_pipeline(spark, model).inputs == SMALL_SPEC.numeric


def test_second_request_reuses_the_compiled_model(spark, monkeypatch):
    model = _fit(spark, SMALL_SPEC, _trips(12, 200, (0, 24), edge=False))
    raw = spark.createDataFrame(_trips(13, 20, (0, 24), edge=False), RAW_SCHEMA)
    calls = {"parse": 0, "broadcast": 0}
    parse, broadcast = ml_compile.parse_forest, SparkContext.broadcast

    def counting_parse(text):
        calls["parse"] += 1
        return parse(text)

    def counting_broadcast(self, value):
        calls["broadcast"] += 1
        return broadcast(self, value)

    monkeypatch.setattr(ml_compile, "parse_forest", counting_parse)
    monkeypatch.setattr(SparkContext, "broadcast", counting_broadcast)
    first = serving.predict(model, raw, label=LABEL).collect()
    assert calls == {"parse": 1, "broadcast": 1}
    second = serving.predict(model, raw, label=LABEL).collect()
    assert calls == {"parse": 1, "broadcast": 1}
    assert first == second
    assert ml_compile.compile_pipeline(spark, model) is ml_compile.compile_pipeline(spark, model)


def test_unsupported_stages_and_splits_are_refused(spark):
    model = _fit(spark, SMALL_SPEC, _trips(14, 200, (0, 24), edge=False))
    with pytest.raises(ValueError, match="final stage is StandardScalerModel"):
        ml_compile.compile_pipeline(spark, PipelineModel(stages=model.stages[:-1]))

    df = serving.preprocess(spark.createDataFrame(_trips(15, 200, (0, 24), False), RAW_SCHEMA))
    centered = Pipeline(stages=[
        VectorAssembler(inputCols=["trip_distance", "fare_amount"], outputCol="raw",
                        handleInvalid="keep"),
        StandardScaler(inputCol="raw", outputCol="features", withMean=True),
        RandomForestRegressor(labelCol=LABEL, numTrees=2, maxDepth=2),
    ]).fit(df)
    with pytest.raises(ValueError, match="StandardScalerModel.*withMean"):
        serving.predict(centered, df, label=LABEL)

    unscaled = Pipeline(stages=[
        VectorAssembler(inputCols=["trip_distance", "fare_amount"], outputCol="features",
                        handleInvalid="keep"),
        RandomForestRegressor(labelCol=LABEL, numTrees=2, maxDepth=2),
    ]).fit(df)
    with pytest.raises(ValueError, match="RandomForestRegressionModel.*StandardScaler"):
        ml_compile.compile_pipeline(spark, unscaled)

    categorical = (
        "RandomForestRegressionModel: uid=rf, numTrees=1, numFeatures=2\n"
        "  Tree 0 (weight 1.0):\n"
        "    If (feature 1 in {0.0,2.0})\n"
        "     Predict: 1.0\n"
        "    Else (feature 1 not in {0.0,2.0})\n"
        "     Predict: 2.0\n"
    )
    with pytest.raises(ValueError, match=r"feature 1 in \{0.0,2.0\}"):
        ml_compile.parse_forest(categorical)


def test_parse_forest_walks_like_the_tree():
    text = (
        "RandomForestRegressionModel: uid=rf, numTrees=2, numFeatures=2\n"
        "  Tree 0 (weight 1.0):\n"
        "    If (feature 0 <= 1.5)\n"
        "     If (feature 1 <= -2.0E-5)\n"
        "      Predict: 0.1\n"
        "     Else (feature 1 > -2.0E-5)\n"
        "      Predict: 0.2\n"
        "    Else (feature 0 > 1.5)\n"
        "     Predict: 0.30000000000000004\n"
        "  Tree 1 (weight 1.0):\n"
        "    Predict: 7.0\n"
    )
    f = ml_compile.parse_forest(text)
    assert f.depth == 2
    assert f.roots.tolist() == [0, 5]
    assert f.value[f.children[f.children[0, 0], 1]] == 0.2
    assert f.threshold[f.children[0, 0]] == -2.0e-5
    assert f.value[f.children[0, 1]] == 0.30000000000000004
    assert f.children[5].tolist() == [5, 5]  # a leaf walks to itself
