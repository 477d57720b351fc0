"""Batch sources and sinks.

Covers the reference's I/O surface (SURVEY.md §2.1) re-expressed natively:

- S1  Parquet scan        -> read_table (session-memoized spark.read.parquet;
                             vectorized reader, pushdown)
- S3  JDBC scan           -> spark.read.format("jdbc") with *partitioned*
                             reads (the reference reads single-partition,
                             sparkML.py:40-46 — a scan bottleneck at scale)
- S5  CSV scan            -> operators/serving.predict_csv (uploads read
                             under a declared schema, UPLOAD_CONTRACT)
- S7  Kafka sink          -> to_kafka_json (columnar JSON envelope; oracle-
                             checked via q29) + write_kafka (broker + jars)
- S8  JDBC append sink    -> df.write.format("jdbc").mode("append")
- S9  DDL-from-schema     -> schema_to_ddl (StructType -> CREATE TABLE),
                             matching the reference's type mapping
                             (sparkConsumer.py:123-141) including its
                             lowercase identifier folding (SURVEY.md §1.3)
- S11 CSV sink            -> write via df.write.csv

The Kafka *source* and streaming file sources live in ``streaming/``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_yellow_taxi_trip_data_pipeline_spark import memo

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_ts_to_micros(df: DataFrame) -> DataFrame:
    """Convert the events ``ts`` column from TIMESTAMP(NANOS), which Spark
    cannot represent and reads as nanosecond longs under
    ``spark.sql.legacy.parquet.nanosAsLong``, to microsecond timestamps —
    the same truncation DuckDB applies. The other historical encoding,
    timestamp[us] with no timezone, reads as ``TIMESTAMP_NTZ`` and is left
    to ``_normalize_ntz``, which both callers apply next.

    Single definition shared by the batch and streaming readers so the
    conversion cannot drift between paths."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to plain TIMESTAMP. The testdata's
    timestamp[us]-no-tz columns (events.ts, lineitem.l_shipdate,
    orders.o_orderdate) infer as NTZ under Spark 4; the engine's contract
    is uniform TIMESTAMP with session timeZone pinned to UTC, so the cast
    is value-preserving and watermarks/date-math behave identically on
    every column (``withWatermark`` rejects NTZ event time)."""
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _data_fingerprint_token(sf_dir: str, table: str) -> str:
    """Token that fingerprints a table's INPUT DATA (parquet file count +
    total bytes + newest mtime), not just the path: in-place testdata
    regeneration (invariant 5's drift scenario) must invalidate anything
    cached from the table -- the ``read_table`` memo and every
    warehouse artifact derived from it -- instead of silently reusing it
    against a fresh oracle. Same-data concurrent sessions still share a
    token, so every query that materializes under one of these tokens
    stays on the SERIAL sweep list (ARCHITECTURE.md, env-robustness
    matrix)."""
    import hashlib

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        stats = [
            os.stat(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
    else:
        stats = [os.stat(path)]
    fp = (
        f"{sf_dir}|{table}|{len(stats)}|{sum(s.st_size for s in stats)}"
        f"|{max((s.st_mtime_ns for s in stats), default=0)}"
    )
    return hashlib.md5(fp.encode()).hexdigest()[:8]


def _table_read(spark: SparkSession, sf_dir: str, name: str):
    """(raw, normalized) DataFrames of one test table, memoized on the
    table's data fingerprint: a repeat read lists no files and runs no
    schema job; an in-place regeneration moves the fingerprint and gets a
    fresh read. The raw one carries the on-disk schema the streaming twin
    needs; the normalized one is what ``read_table`` returns."""
    # Runtime-settable; applied here so the engine works under any caller's
    # SparkSession (the driver builds its own), not just sessions from
    # session.get_spark(). The UTC pin keeps the NTZ→timestamp casts
    # value-preserving. Set on every call, hit or miss, so a memoized
    # entry is only ever used under the confs it was built with.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        token = _data_fingerprint_token(sf_dir, name)
    except OSError:
        token = None  # nothing to fingerprint: Spark reports the bad path

    def build():
        raw = spark.read.parquet(path)
        df = _nanos_ts_to_micros(raw) if name == "events" else raw
        return raw, _normalize_ntz(df)

    return memo.get_or_build(spark, "table", path, token, build)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the test tables from a scale-factor directory,
    timestamp-encoding-safe (see ``_nanos_ts_to_micros`` and
    ``_normalize_ntz``). Session-memoized (``_table_read``): two calls
    for one unchanged table return the SAME DataFrame, so a self-join of
    two reads needs ``.alias`` (or column names), as with any
    DataFrame."""
    return _table_read(spark, sf_dir, name)[1]


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``read_table``: the same table replayed as a
    bounded file stream, with the identical nanos→micros conversion.
    The on-disk schema comes from the ``read_table`` memo.

    File streams take a directory. When ``{name}.parquet`` is itself a
    DIRECTORY (any real multi-file table — the only shape that exists at
    scale), stream it directly; a ``pathGlobFilter`` of the table name
    would match no leaf file and SILENTLY stream zero rows (found when
    every streaming query read 0 events from a multi-file corpus). The
    glob path remains only for the single-FILE tables the driver's
    testdata uses, where the table file sits in a shared directory."""
    raw_schema = _table_read(spark, sf_dir, name)[0].schema
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    if name == "events":
        stream = _nanos_ts_to_micros(stream)
    return _normalize_ntz(stream)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql queries."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """JDBC scan with optional partitioned parallel read.

    The reference reads its whole table through one JDBC cursor
    (sparkML.py:40-46); at scale that serializes the scan, so we expose
    Spark's partitionColumn/numPartitions parallel read.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
) -> None:
    """JDBC append sink (reference sparkConsumer.py:147-154); ``mode``
    is Spark's save mode (the upsert sink's staging write overwrites)."""
    writer = (
        df.write.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def to_kafka_json(df: DataFrame) -> DataFrame:
    """Serialize rows to the Kafka value envelope: one JSON object per row
    with ISO-ish timestamp rendering (reference kafkaProducer.py:12-16,36-42
    does this row-at-a-time in Python; to_json(struct(*)) is the columnar
    form). Pair with ``write_kafka``."""
    # Backtick-quote each name: bare (and even df[c]-indexed) names
    # containing dots are parsed as struct-field paths, not columns.
    # ignoreNullFields=false: the reference producer json.dumps(row.to_dict())
    # emits explicit nulls; Spark's default would drop null fields and hand
    # strict consumers a different envelope per row.
    return df.select(
        F.to_json(
            F.struct(*[F.col(f"`{c}`") for c in df.columns]),
            {"ignoreNullFields": "false"},
        ).alias("value")
    )


def write_kafka(
    df: DataFrame, bootstrap_servers: str, topic: str
) -> None:
    """Kafka sink (S7). Requires a reachable broker + the kafka connector
    jars on the classpath; the JSON envelope itself is covered broker-free
    by q29's roundtrip oracle."""
    (
        to_kafka_json(df)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (reference featureEngineering.ipynb cell 5
    writes sampled test rows via pandas to_csv)."""
    df.write.mode(mode).option("header", "true").csv(path)


_SQL_TYPES: dict[type, str] = {
    T.TimestampType: "TIMESTAMP",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.DoubleType: "DOUBLE PRECISION",
    T.FloatType: "REAL",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
}


def schema_to_ddl(schema: T.StructType, table: str, lowercase: bool = True) -> str:
    """CREATE TABLE DDL from a StructType (reference sparkConsumer.py:123-141).

    The reference emits unquoted identifiers which Postgres case-folds to
    lowercase (SURVEY.md §1.3); ``lowercase=True`` makes that folding
    explicit so the DDL matches what downstream consumers actually see.
    Unknown types map to VARCHAR(255), as in the reference.
    """
    cols = []
    for field in schema.fields:
        name = field.name.lower() if lowercase else field.name
        sql_type = _SQL_TYPES.get(type(field.dataType), "VARCHAR(255)")
        cols.append(f"{name} {sql_type}")
    return f"CREATE TABLE IF NOT EXISTS {table} ({', '.join(cols)})"


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep_from: str,
) -> list[str]:
    """Retention/TTL enforcement for a ``partitionBy`` parquet table:
    drop every ``{partition_col}=value`` directory with value strictly
    below ``keep_from`` (lexicographic, which matches numeric/ISO-date
    partition values as Spark writes them). Returns the dropped values.

    This is the partition-pruned DELETE: at 100 TB, retention must be a
    metadata operation (drop whole directories) — a filtered rewrite of
    the surviving 99% would cost a full-table pass. Uses the Hadoop
    FileSystem API, so it runs on any HDFS-compatible store; each
    directory delete is atomic per-partition, and readers planning from
    the file index simply stop listing the removed partitions.
    """
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    dropped: list[str] = []
    prefix = f"{partition_col}="
    for status in fs.listStatus(jpath(path)):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            value = name[len(prefix):]
            if value < keep_from:
                fs.delete(status.getPath(), True)
                dropped.append(value)
    return sorted(dropped)


def shard_column(id_col: str = "doc_id", n_shards: int = 16) -> Column:
    """Deterministic training-shard assignment: an md5-derived integer in
    [0, n_shards) computed from the row key — reproducible across engines,
    partitionings, and corpus growth (unlike RNG or engine-specific hash
    partitioner ids). The md5 prefix is folded to an integer with
    ``instr`` positional arithmetic, which parses identically in Spark SQL
    and DuckDB, so oracle twins can reproduce the assignment verbatim."""
    h = f"md5(concat('shard:', CAST({id_col} AS STRING)))"
    hexpos = "instr('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    v = " + ".join(
        f"({hexpos.format(h=h, i=i + 1)}) * {16 ** (3 - i)}" for i in range(4)
    )
    return F.expr(f"CAST(({v}) % {n_shards} AS BIGINT)")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
) -> None:
    """The pre-training 'global shuffle': write the corpus as n_shards
    deterministic shards, each internally ordered by md5(doc_id) — a
    reproducible uniform permutation of the corpus (hash order == uniform
    order), so any prefix of any shard is an unbiased sample and training
    can stream shards independently.

    Scale shape: shard assignment is map-only; ``repartition`` on the
    shard key is the ONE shuffle (at 100 TB: bump n_shards so each shard
    fits an executor, e.g. 100k shards of ~1 GB); the per-shard md5 sort
    is sortWithinPartitions (no global sort — a total order across
    shards is never needed, the shard id IS the outer sort key)."""
    (
        df.withColumn("shard", shard_column(n_shards=n_shards))
        .withColumn(
            "__ord", F.md5(F.concat(F.lit("ord:"), F.col("doc_id").cast("string")))
        )
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__ord")
        .drop("__ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
