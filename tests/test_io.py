"""Sources/sinks unit tests: CSV round trip, DDL generation, partitioned
parquet layout, pandas interchange, dropna, the ``read_table`` memo."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_yellow_taxi_trip_data_pipeline_spark import memo
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf
from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
    read_table,
    schema_to_ddl,
    write_csv,
)

SF_DIR = "/root/testdata/sf0.001"


def _copy_table(tmp_path, table: str) -> str:
    """A private copy of one test table, so the memo entry is cold and the
    file can be rewritten in place."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    shutil.copy(os.path.join(SF_DIR, f"{table}.parquet"), sf)
    return sf


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id int, name string, v double"
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(path)
    assert sorted(back.collect()) == sorted(df.collect())


def test_schema_to_ddl_type_mapping_and_case_folding():
    schema = T.StructType(
        [
            T.StructField("VendorID", T.StringType()),
            T.StructField("tpep_pickup_datetime", T.TimestampType()),
            T.StructField("passenger_count", T.DoubleType()),
            T.StructField("pickup_hour", T.IntegerType()),
            T.StructField("pickup_is_weekend", T.BooleanType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    ddl = schema_to_ddl(schema, "cleaned_tripdata")
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS cleaned_tripdata (")
    # lowercase folding (the reference relies on Postgres doing this
    # implicitly; we make it explicit - SURVEY.md §1.3)
    assert "vendorid VARCHAR(255)" in ddl
    assert "tpep_pickup_datetime TIMESTAMP" in ddl
    assert "passenger_count DOUBLE PRECISION" in ddl
    assert "pickup_hour INTEGER" in ddl
    assert "pickup_is_weekend BOOLEAN" in ddl
    assert "event_id BIGINT" in ddl


def test_partitioned_parquet_enables_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [(2024, 5, 1.0), (2024, 6, 2.0), (2023, 5, 3.0)],
        "year int, month int, v double",
    )
    path = str(tmp_path / "part_out")
    df.write.partitionBy("year", "month").parquet(path)
    back = spark.read.parquet(path).filter("year = 2024 AND month = 5")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 1
    # partition filters must reach the scan (pruning, not a full read)
    assert "PartitionFilters: [" in plan and "year" in plan.split("PartitionFilters")[1][:200]


def test_pandas_interchange_arrow(spark):
    import pandas as pd

    pdf = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    df = spark.createDataFrame(pdf)
    assert df.count() == 2
    back = df.toPandas()
    assert list(back.columns) == ["a", "b"]
    assert back["a"].tolist() == [1, 2]


def test_na_drop_all_columns(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, None)], "x int, y string"
    )
    assert df.na.drop().count() == 1


def test_json_and_orc_round_trip(spark, tmp_path):
    """The engine reads/writes JSON-lines and ORC through the same native
    reader stack as parquet/CSV — schema preserved, values intact."""
    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("v"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    jdir = str(tmp_path / "j")
    odir = str(tmp_path / "o")
    df.write.mode("overwrite").json(jdir)
    df.write.mode("overwrite").orc(odir)
    back_j = spark.read.schema(df.schema).json(jdir)
    back_o = spark.read.orc(odir)
    want = sorted(tuple(r) for r in df.collect())
    assert sorted(tuple(r) for r in back_j.collect()) == want
    assert sorted(tuple(r) for r in back_o.collect()) == want
    # nullability flags differ after a write/read cycle; types must not
    assert back_o.dtypes == df.dtypes


def test_expire_partitions_drops_only_old(spark, tmp_path):
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import expire_partitions

    df = spark.createDataFrame(
        [("2024-01", 1.0), ("2024-02", 2.0), ("2024-03", 3.0)],
        "month string, v double",
    )
    path = str(tmp_path / "retained")
    df.write.partitionBy("month").parquet(path)
    dropped = expire_partitions(spark, path, "month", keep_from="2024-02")
    assert dropped == ["2024-01"]
    back = spark.read.parquet(path)
    assert {r.month for r in back.select("month").distinct().collect()} == {
        "2024-02",
        "2024-03",
    }


def test_write_training_shards_deterministic_and_md5_ordered(spark, tmp_path):
    """Shards are (a) assigned by the md5 fold (engine-independent), and
    (b) internally md5-ordered, so any shard prefix is an unbiased sample
    and a re-run reproduces byte-identical shard contents."""
    from pyspark.sql import functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_table,
        shard_column,
        write_training_shards,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4)

    expected = {
        (r.shard, r.doc_id)
        for r in docs.select(shard_column("doc_id", 4).alias("shard"), "doc_id")
        .collect()
    }
    back = spark.read.parquet(out)
    got = {(r.shard, r.doc_id) for r in back.select("shard", "doc_id").collect()}
    assert got == expected

    # Within one shard the file order equals the md5(ord:id) order.
    one = back.filter(F.col("shard") == sorted({s for s, _ in got})[0])
    ids_in_file_order = [r.doc_id for r in one.select("doc_id").collect()]
    md5_sorted = [
        r.doc_id
        for r in one.select("doc_id")
        .withColumn("o", F.md5(F.concat(F.lit("ord:"), F.col("doc_id").cast("string"))))
        .orderBy("o")
        .collect()
    ]
    assert ids_in_file_order == md5_sorted


def test_python_datasource_stats_pruning_and_roundtrip(spark, tmp_path):
    """The custom manifest source must (a) prune whole files via
    row-group source min/max stats when the filter is pushed, and
    (b) read rows identical to the native parquet scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.pydatasource import (
        manifest_datasource,
    )

    d = tmp_path / "docs.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"doc_id": [1, 2], "source": ["aaa", "abb"],
                  "n_chars": [10, 20]}), d / "p0.parquet")
    pq.write_table(
        pa.table({"doc_id": [3, 4], "source": ["zzz", "zzy"],
                  "n_chars": [30, 40]}), d / "p1.parquet")

    cls = manifest_datasource()
    reader = cls({"path": str(d)}).reader(None)
    assert len(reader.partitions()) == 2  # no filter: both files
    reader.src_filter = "abb"
    pruned = reader.partitions()
    assert len(pruned) == 1 and pruned[0].path.endswith("p0.parquet")

    pushdown = {"spark.sql.python.filterPushdown.enabled": "true"}
    with scoped_conf(spark, pushdown):
        spark.dataSource.register(cls)
        df = (spark.read.format("doc_manifest")
              .option("path", str(d)).load())
        assert df.count() == 4
        got = {(r.doc_id, r.n_chars)
               for r in df.filter(df.source == "zzy").collect()}
        assert got == {(4, 40)}


def test_read_table_repeat_launches_no_job(spark, tmp_path):
    """A repeat read of an unchanged table is a memo hit: the same
    DataFrame back, no file listing and no schema-inference job."""
    sf = _copy_table(tmp_path, "orders")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "read-table-memo-probe"
    sc.setJobGroup(group, "read_table memo probe")
    try:
        first = read_table(spark, sf, "orders")
        cold_jobs = set(tracker.getJobIdsForGroup(group))
        assert cold_jobs, "a cold read should run the schema job"
        second = read_table(spark, sf, "orders")
        assert set(tracker.getJobIdsForGroup(group)) == cold_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert second is first


def test_read_table_sees_in_place_rewrite(spark, tmp_path):
    """Rewriting a table in place moves its data fingerprint, so the next
    read lists the new file and returns the new rows."""
    import pandas as pd

    sf = _copy_table(tmp_path, "orders")
    path = os.path.join(sf, "orders.parquet")
    before = read_table(spark, sf, "orders")
    n = before.count()
    pdf = pd.read_parquet(path)
    pdf.head(7).to_parquet(path, index=False)
    after = read_table(spark, sf, "orders")
    assert after is not before
    assert n > 7 and after.count() == 7
    assert read_table(spark, sf, "orders") is after


def test_read_table_new_session_evicts_old_entries(spark, tmp_path):
    """A DataFrame belongs to its session: a read under another session
    builds its own entry and drops every memo entry of the session
    before, whatever its family."""
    sf = _copy_table(tmp_path, "orders")
    mine = read_table(spark, sf, "orders")
    other = spark.newSession()
    theirs = read_table(other, sf, "orders")
    assert theirs is not mine and theirs.sparkSession is other
    sessions = {k[0] for k in memo._ENTRIES}
    assert sessions == {
        (
            other.sparkContext.applicationId,
            other._jsparkSession.sessionUUID(),
        )
    }
    assert read_table(spark, sf, "orders") is not mine


def test_read_table_self_join_of_two_reads_matches_duckdb(spark):
    """Two reads of one table are the same memoized DataFrame; a
    self-join through ``.alias`` still resolves each side on its own."""
    from tools.parity import duck_connection

    a = read_table(spark, SF_DIR, "orders")
    b = read_table(spark, SF_DIR, "orders")
    assert a is b
    got = (
        a.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.o_custkey") == F.col("y.o_custkey"))
            & (F.col("x.o_orderkey") < F.col("y.o_orderkey")),
        )
        .count()
    )
    con = duck_connection(SF_DIR)
    want = con.execute(
        "SELECT COUNT(*) FROM orders x JOIN orders y"
        " ON x.o_custkey = y.o_custkey AND x.o_orderkey < y.o_orderkey"
    ).fetchone()[0]
    assert got == want and got > 0


def test_memo_read_concurrent_fills_return_their_own_value(spark):
    """Threads racing ``memo.get_or_build`` fills and evictions (two
    tokens per name) must each get the value built for their own key --
    never another key's value, never a KeyError."""
    import random
    import sys
    import threading

    paths = [f"/memo-stress/{i}" for i in range(3)]
    errors: list = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(300):
                want = (rng.choice(paths), rng.randint(0, 1))
                got = memo.get_or_build(spark, "stress", *want, lambda: want)
                if got != want:
                    errors.append((want, got))
        except Exception as exc:  # noqa: BLE001 -- surfaced via assert
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
        for k in [k for k in list(memo._ENTRIES) if k[1] == "stress"]:
            memo._ENTRIES.pop(k, None)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
