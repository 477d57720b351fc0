"""The declared upload contract of ``serving.predict_csv`` against an
independent oracle: ``serving.predict`` over an ``inferSchema`` read of
the same file. Label and prediction must match bit for bit (int64 views
of the doubles) across the upload shapes schema inference handles, the
failures inference raises on must still raise, and a request must run
one Spark job over Columns built once per session."""

from __future__ import annotations

import gzip

import numpy as np
import pytest

from nyc_yellow_taxi_trip_data_pipeline_spark import memo
from nyc_yellow_taxi_trip_data_pipeline_spark.ml import FeatureSpec, build_pipeline
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving

LABEL = "total_amount"
SPEC = FeatureSpec(
    label=LABEL,
    numeric=(
        "trip_distance", "fare_amount", "tip_amount", "passenger_count",
        "trip_duration", "pickup_hour", "pickup_day",
    ),
    categorical=("pickup_timeofday",),
    num_trees=10,
    max_depth=5,
)
HEADER = (
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
    "trip_distance", "RatecodeID", "PULocationID", "DOLocationID", "payment_type",
    "fare_amount", "tip_amount", "tolls_amount", "improvement_surcharge", "total_amount",
)


def _rows(seed: int, n: int, sep: str = "T", integral: bool = False) -> list[dict]:
    """Seeded upload rows in the yellow-tripdata shape, as CSV cell text.
    ``integral`` writes every fare and total without a decimal point."""
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n):
        day, hour, minute = (int(v) for v in (rng.integers(1, 29), rng.integers(0, 23),
                                               rng.integers(0, 60)))
        minutes = int(rng.integers(1, 50))
        drop_h, drop_m = divmod(hour * 60 + minute + minutes, 60)
        distance = round(float(rng.uniform(0.1, 30.0)), 2)
        fare = 3.0 + 2.5 * distance + float(rng.uniform(0.0, 5.0))
        fare = float(round(fare)) if integral else round(fare, 2)
        tip = round(float(rng.uniform(0.0, 0.3)) * fare, 2)
        tolls = float(rng.choice([0.0, 6.55]))
        total = fare + tip + tolls + 1.0
        total = float(round(total)) if integral else round(total, 2)
        rows.append({
            "VendorID": str(int(rng.integers(1, 3))),
            "tpep_pickup_datetime": f"2024-05-{day:02d}{sep}{hour:02d}:{minute:02d}:00",
            "tpep_dropoff_datetime": f"2024-05-{day:02d}{sep}{drop_h:02d}:{drop_m:02d}:00",
            "passenger_count": f"{float(rng.integers(1, 7)):.1f}",
            "trip_distance": f"{distance:.2f}",
            "RatecodeID": str(int(rng.integers(1, 7))),
            "PULocationID": str(int(rng.integers(1, 266))),
            "DOLocationID": str(int(rng.integers(1, 266))),
            "payment_type": str(int(rng.integers(1, 5))),
            "fare_amount": f"{fare:.0f}" if integral else f"{fare:.2f}",
            "tip_amount": f"{tip:.2f}",
            "tolls_amount": f"{tolls:.2f}",
            "improvement_surcharge": "1.00",
            "total_amount": f"{total:.0f}" if integral else f"{total:.2f}",
        })
    return rows


def _write(path, rows: list[dict], header=HEADER) -> str:
    path.write_text(
        ",".join(header) + "\n"
        + "".join(",".join(r.get(c, "") for c in header) + "\n" for r in rows)
    )
    return str(path)


@pytest.fixture(scope="module")
def model(spark, tmp_path_factory):
    path = _write(tmp_path_factory.mktemp("train") / "train.csv", _rows(1, 400))
    frame = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    return build_pipeline(SPEC).fit(serving.preprocess(frame))


def _bits(rows, column: str) -> list[int]:
    return np.array([r[column] for r in rows], dtype=np.float64).view(np.int64).tolist()


def _assert_matches_inferred_read(spark, model, path: str) -> int:
    got = serving.predict_csv(spark, model, path, label=LABEL).collect()
    frame = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    want = serving.predict(model, frame, label=LABEL).collect()
    assert len(got) == len(want)
    assert _bits(got, LABEL) == _bits(want, LABEL)
    assert _bits(got, "prediction") == _bits(want, "prediction")
    return len(got)


def test_iso_t_timestamps(spark, model, tmp_path):
    path = _write(tmp_path / "u.csv", _rows(2, 60))
    assert _assert_matches_inferred_read(spark, model, path) == 60


def test_space_separated_timestamps(spark, model, tmp_path):
    path = _write(tmp_path / "u.csv", _rows(3, 60, sep=" "))
    assert _assert_matches_inferred_read(spark, model, path) == 60


def test_integer_looking_fares(spark, model, tmp_path):
    path = _write(tmp_path / "u.csv", _rows(4, 60, integral=True))
    inferred = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    assert dict(inferred.dtypes)["fare_amount"] == "int"
    assert dict(inferred.dtypes)["total_amount"] == "int"
    assert _assert_matches_inferred_read(spark, model, path) == 60


def test_empty_cells(spark, model, tmp_path):
    rows = _rows(5, 60)
    for i in range(0, 60, 7):
        rows[i]["tpep_pickup_datetime"] = ""
    for i in range(3, 60, 11):
        rows[i]["trip_distance"] = ""
    path = _write(tmp_path / "u.csv", rows)
    assert _assert_matches_inferred_read(spark, model, path) == 60


def test_extra_unknown_column(spark, model, tmp_path):
    rows = _rows(6, 60)
    for i, r in enumerate(rows):
        r["driver_rating"] = str(i % 5)
    path = _write(tmp_path / "u.csv", rows, header=(*HEADER, "driver_rating"))
    assert _assert_matches_inferred_read(spark, model, path) == 60


def test_reordered_columns(spark, model, tmp_path):
    path = _write(tmp_path / "u.csv", _rows(7, 60), header=tuple(reversed(HEADER)))
    assert _assert_matches_inferred_read(spark, model, path) == 60


def test_directory_upload_reads_its_first_file_header(spark, model, tmp_path):
    d = tmp_path / "upload"
    d.mkdir()
    _write(d / "part-0.csv", _rows(8, 30))
    _write(d / "part-1.csv", _rows(9, 30))
    (d / "_SUCCESS").write_text("")
    assert _assert_matches_inferred_read(spark, model, str(d)) == 60


def test_gzip_upload_reads_its_header_through_the_codec(spark, model, tmp_path):
    plain = _write(tmp_path / "u.csv", _rows(19, 30))
    packed = tmp_path / "u.csv.gz"
    packed.write_bytes(gzip.compress(open(plain, "rb").read()))
    assert _assert_matches_inferred_read(spark, model, str(packed)) == 30


def test_file_with_another_header_raises(spark, model, tmp_path):
    """A later file with two double columns swapped would parse cleanly
    by position; it is refused instead of scored with swapped values."""
    d = tmp_path / "upload"
    d.mkdir()
    _write(d / "part-0.csv", _rows(10, 10))
    swapped = tuple(
        {"fare_amount": "tip_amount", "tip_amount": "fare_amount"}.get(c, c) for c in HEADER
    )
    _write(d / "part-1.csv", _rows(11, 10), header=swapped)
    with pytest.raises(Exception, match="does not conform to the schema"):
        serving.predict_csv(spark, model, str(d), label=LABEL).collect()


def test_malformed_timestamp_raises(spark, model, tmp_path):
    rows = _rows(12, 10)
    rows[4]["tpep_dropoff_datetime"] = "not a time"
    path = _write(tmp_path / "u.csv", rows)
    with pytest.raises(Exception, match="MALFORMED_RECORD|FAILFAST"):
        serving.predict_csv(spark, model, path, label=LABEL).collect()


def test_non_numeric_fare_raises(spark, model, tmp_path):
    rows = _rows(13, 10)
    rows[6]["fare_amount"] = "twelve"
    path = _write(tmp_path / "u.csv", rows)
    with pytest.raises(Exception, match="MALFORMED_RECORD|FAILFAST"):
        serving.predict_csv(spark, model, path, label=LABEL).collect()


def test_zero_byte_and_absent_files_raise(spark, model, tmp_path):
    path = tmp_path / "empty.csv"
    path.write_bytes(b"")
    with pytest.raises(ValueError, match="tpep_pickup_datetime, tpep_dropoff_datetime"):
        serving.predict_csv(spark, model, str(path), label=LABEL)
    with pytest.raises(FileNotFoundError, match="no CSV file"):
        serving.predict_csv(spark, model, str(tmp_path / "absent.csv"), label=LABEL)


def test_request_runs_one_spark_job(spark, model, tmp_path):
    path = _write(tmp_path / "u.csv", _rows(14, 100))
    serving.predict_csv(spark, model, path, label=LABEL).collect()  # compile, memo fill
    sc = spark.sparkContext
    group = "serving-one-job-probe"
    sc.setJobGroup(group, "predict_csv job count")
    try:
        rows = serving.predict_csv(spark, model, path, label=LABEL).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 100
    assert len(jobs) == 1


def test_same_header_is_a_memo_hit(spark, model, tmp_path):
    first = _write(tmp_path / "a.csv", _rows(15, 20))
    second = _write(tmp_path / "b.csv", _rows(16, 20))
    serving.predict_csv(spark, model, first, label=LABEL).collect()
    app = spark.sparkContext.applicationId
    before = memo.stats(app)["serve"]
    serving.predict_csv(spark, model, second, label=LABEL).collect()
    after = memo.stats(app)["serve"]
    assert after["misses"] == before["misses"]
    assert after["hits"] == before["hits"] + 1


def test_headers_with_other_impute_columns_get_their_own_entry(spark, model, tmp_path):
    """Dropping ``payment_type`` changes which columns ``preprocess``
    imputes, so that upload builds its own Columns: sharing the full
    header's entry would reference a column the upload lacks."""
    full = _write(tmp_path / "full.csv", _rows(17, 20))
    narrow_header = tuple(c for c in HEADER if c != "payment_type")
    narrow = _write(tmp_path / "narrow.csv", _rows(18, 20), header=narrow_header)
    serving.predict_csv(spark, model, full, label=LABEL).collect()
    app = spark.sparkContext.applicationId
    before = memo.stats(app)["serve"]
    assert _assert_matches_inferred_read(spark, model, narrow) == 20
    after = memo.stats(app)["serve"]
    assert after["misses"] == before["misses"] + 1
    prepped = serving.preprocess(
        spark.read.option("header", "true").option("inferSchema", "true").csv(narrow)
    )
    assert "payment_type" not in prepped.columns
