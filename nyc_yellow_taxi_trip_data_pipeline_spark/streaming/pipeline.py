"""Streaming ETL: source -> JSON parse -> transforms -> sink.

The reference's streaming job (sparkConsumer.py:59-175) is Kafka-only and
stateless; this layer keeps its exact pipeline shape but:

- abstracts the source (kafka | file | rate) so the identical pipeline is
  testable without a broker (file source) and loadable synthetically
  (rate source);
- applies the SAME batch transform functions (operators/transforms.py) —
  streaming DataFrames accept them unchanged, which is the idiomatic-Spark
  payoff the reference misses by duplicating logic between consumer,
  server, and notebook;
- fixes the reference's double-execution bug (count() then write per
  batch, sparkConsumer.py:144-147 — two jobs per micro-batch) by counting
  the written rows driver-side from the same materialized batch;
- adds the watermark + event-time window upgrade path (absent in the
  reference, required for any stateful aggregate at scale);
- runs every bounded replay of the query inventory through one harness
  (``replay_query``, ``drain_to_memory``, ``replay_files``,
  ``replay_phases``), so starting, draining, stopping, staging and the
  lifetime of the scratch and checkpoint directories live in one place.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import (
    DataStreamReader,
    DataStreamWriter,
    StreamingQuery,
)

from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf
from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
    schema_to_ddl,
    write_jdbc_append,
)


def read_stream(
    spark: SparkSession,
    source: str,
    schema: T.StructType | None = None,
    path: str | None = None,
    kafka_bootstrap: str | None = None,
    topic: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Source abstraction: 'kafka' | 'json' | 'parquet' | 'csv' | 'rate'.

    Kafka mirrors the reference subscription (sparkConsumer.py:59-63);
    file sources take the same JSON payloads from a directory, which is
    how the tests drive micro-batches without a broker.
    """
    reader: DataStreamReader = spark.readStream
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if source == "kafka":
        if not (kafka_bootstrap and topic):
            raise ValueError("kafka source needs kafka_bootstrap and topic")
        # startingOffsets is a DEFAULT, not an override: an explicit
        # options={"startingOffsets": ...} (or maxOffsetsPerTrigger /
        # any other connector option) must win — Spark's option chain is
        # last-writer-wins, so only fill it when the caller didn't.
        # (Option matrix pinned broker-free in tests/test_kafka_contract.py
        # against the reference subscription, sparkConsumer.py:59-63.)
        reader = (
            reader.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", topic)
        )
        if "startingOffsets" not in (options or {}):
            reader = reader.option("startingOffsets", "earliest")
        return reader.load()
    if source == "rate":
        return reader.format("rate").load()
    if source in ("json", "parquet", "csv"):
        if schema is None or path is None:
            raise ValueError(f"{source} stream needs explicit schema and path")
        return reader.format(source).schema(schema).load(path)
    raise ValueError(f"unknown stream source {source!r}")


def parse_json_envelope(stream: DataFrame, schema: T.StructType) -> DataFrame:
    """Kafka-envelope decode: binary value -> JSON string -> struct ->
    flattened columns (reference sparkConsumer.py:66)."""
    return (
        stream.select(
            F.from_json(F.col("value").cast("string"), schema).alias("data")
        ).select("data.*")
    )


def hourly_windowed_agg(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window aggregate — the stateful upgrade path
    (SURVEY.md §2.9: absent in the reference). Late rows beyond the
    watermark are dropped deterministically; state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_windowed_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows with an inactivity gap — the streaming twin of the
    batch sessionization query (plans/analytics.py q20)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def unload_state_stores(spark: SparkSession) -> None:
    """Unload all loaded state-store providers and stop the maintenance
    thread after a bounded stateful replay finishes.

    In local mode the driver and executors share one JVM: after a stateful
    streaming query stops, background state-store maintenance (snapshot
    compaction across every state partition) keeps competing with
    subsequent batch jobs — measured here, the next shuffle-heavy query ran
    3-6x slower while maintenance drained. On a real cluster that work is
    spread across executors and off any one query's critical path, but a
    bounded replay that is done with its state should release it either
    way; providers reload transparently from the checkpoint if another
    stateful query starts."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        # Py4J surface differences across Spark versions — hygiene only,
        # never worth failing a query over.
        pass


@contextmanager
def replay_query(
    spark: SparkSession, writer: DataStreamWriter, state_partitions: int = 1
) -> Iterator[StreamingQuery]:
    """Run one bounded replay: start ``writer`` under ``state_partitions``
    state partitions and yield the running query; on exit, failures
    included, stop it, unload the state stores, restore
    ``spark.sql.shuffle.partitions`` (``session.scoped_conf``) and remove
    its checkpoint.

    The checkpoint lives in a fresh ``tempfile`` directory (``TMPDIR``
    decides where), the outermost scope, so it is removed after the
    query stops and its state stores unload. Without an explicit
    ``checkpointLocation`` Spark would create one under
    ``java.io.tmpdir`` (which ignores ``TMPDIR``) and keep it when the
    query fails.

    A streaming query locks its state-partition count to the shuffle
    partition number in effect at ``start()`` and keeps one state-store
    provider (plus snapshot/maintenance work) per partition for its
    whole life, so the session default (200, or the cluster's tuned
    value) would mean that many state stores per stateful operator:
    pure per-partition overhead on a bounded few-MB replay. Part of each
    partition's cost is checkpoint-file I/O: local engine sessions use
    the FileSystem checkpoint manager
    (``session.LOCAL_CHECKPOINT_FILE_MANAGER``), which drops Hadoop's
    ``readlink`` forks, but the ``chmod`` per file created remains and
    the partition count multiplies it. A real deployment sizes the count
    to state volume / executor memory instead; see ARCHITECTURE.md.

    One partition by default: a bounded replay is usually bound by
    per-batch fixed cost (state-store commit and checkpoint files per
    partition), not by data, and results do not depend on the count
    (counts, quantized integer sums, per-key state; lessons 23 and 38).
    A replay whose state work is heavy enough to want parallel tasks
    passes more; the probe that decides each replay's count is
    ``plans/r18/probe_replay_partitions.txt``."""
    shuffle = {"spark.sql.shuffle.partitions": str(state_partitions)}
    with tempfile.TemporaryDirectory(
        prefix="ckpt_", ignore_cleanup_errors=True
    ) as checkpoint, scoped_conf(spark, shuffle):
        query = writer.option("checkpointLocation", checkpoint).start()
        try:
            yield query
        finally:
            query.stop()
            unload_state_stores(spark)


def drain_to_memory(
    df: DataFrame, output_mode: str, state_partitions: int = 1
) -> DataFrame:
    """Replay the bounded stream ``df`` to completion into a memory sink
    (``replay_query`` + ``processAllAvailable``) and return the sink's
    table, which holds every emitted row."""
    spark = df.sparkSession
    sink = f"replay_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.format("memory").queryName(sink).outputMode(output_mode)
    )
    with replay_query(spark, writer, state_partitions) as query:
        query.processAllAvailable()
    return spark.table(sink)


@contextmanager
def replay_files(
    spark: SparkSession, batches: Iterable[DataFrame]
) -> Iterator[DataFrame]:
    """Stage ``batches`` as a file replay and yield the stream over it.

    Each batch becomes one parquet file, renamed ``00.parquet``,
    ``01.parquet``, ... in batch order, so name order and mtime order
    agree (every write is its own job). The stream reads one file per
    trigger, so batch i is micro-batch i; row order within a file is the
    batch's own. The files live in a fresh ``tempfile`` directory
    (``TMPDIR`` decides where), removed on exit, failures included, so
    drain the stream inside the block."""
    with tempfile.TemporaryDirectory(
        prefix="replay_", ignore_cleanup_errors=True
    ) as replay_dir:
        for i, batch in enumerate(batches):
            before = set(os.listdir(replay_dir))
            batch.coalesce(1).write.mode("append").parquet(replay_dir)
            (new,) = [
                f
                for f in os.listdir(replay_dir)
                if f.endswith(".parquet") and f not in before
            ]
            os.rename(
                os.path.join(replay_dir, new),
                os.path.join(replay_dir, f"{i:02d}.parquet"),
            )
        schema = spark.read.parquet(replay_dir).schema
        yield (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay_dir)
        )


@contextmanager
def replay_phases(
    spark: SparkSession, stage_dir: str, schema: str | T.StructType
) -> Iterator[tuple[DataFrame, Callable[[str], None]]]:
    """Yield ``(stream, stage)`` for a replay whose input ARRIVES in
    phases the caller times (drain phase N, then stage phase N+1).

    ``stream`` reads ``schema`` parquet from a fresh ``tempfile``
    directory (``TMPDIR`` decides where), removed on exit, failures
    included, so drain the stream inside the block. ``stage(part)``
    copies the single data file of ``stage_dir/part`` (one pre-written
    partition, e.g. ``"phase=0"``) into it as ``00.parquet``,
    ``01.parquet``, ... in call order, made visible atomically (temp
    name + rename, so the source never sees a partial file).
    ``stage_dir`` is only read: a cached ``plans/cache.build_once``
    artifact stays in place for the next run."""
    with tempfile.TemporaryDirectory(
        prefix="replay_", ignore_cleanup_errors=True
    ) as watch_dir:
        staged = 0

        def stage(part: str) -> None:
            nonlocal staged
            out = os.path.join(stage_dir, part)
            src = [
                f
                for f in os.listdir(out)
                if f.endswith(".parquet") and not f.startswith("_")
            ]
            assert len(src) == 1, src
            tmp = os.path.join(watch_dir, f".{staged:02d}.tmp")
            shutil.copyfile(os.path.join(out, src[0]), tmp)
            os.rename(tmp, os.path.join(watch_dir, f"{staged:02d}.parquet"))
            staged += 1

        yield spark.readStream.schema(schema).parquet(watch_dir), stage


def start_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Append micro-batches to a parquet table (exactly-once via the
    checkpointed file sink) — the scale-friendly replacement for the
    reference's row-by-row JDBC append."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def foreach_batch_jdbc_writer(
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    on_batch: Callable[[int, int], None] | None = None,
    ensure_table: Callable[[str], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback writing each micro-batch to JDBC
    (reference sparkConsumer.py:103-163), fixed and idempotent-ready:

    - table bootstrap uses CREATE TABLE IF NOT EXISTS DDL generated from
      the batch schema (sources/io.schema_to_ddl) instead of a raw Py4J
      information_schema probe (sparkConsumer.py:111-120);
    - no separate count() job before the write (the reference executes
      every batch twice, sparkConsumer.py:144-147); row count comes from
      the materialized batch used for the write.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if ensure_table is not None:
            # Caller runs the generated CREATE TABLE IF NOT EXISTS against
            # its own connection (dialects differ; the engine stays
            # driver-agnostic).
            ensure_table(schema_to_ddl(batch_df.schema, table))
        # One execution: persist the batch, write it, count the cached data.
        batch_df.persist()
        try:
            write_jdbc_append(batch_df, url, table, properties)
            if on_batch is not None:
                on_batch(batch_id, batch_df.count())
        finally:
            batch_df.unpersist()

    return write_batch


def sessionize_stateful(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState — the
    operator Spark's built-in ``session_window`` cannot express when the
    session logic needs imperative per-key state (here: cumulative session
    and event counts surviving across micro-batches).

    Emits one CUMULATIVE row per ``user_id`` per micro-batch (update mode):
    (key, n_sessions, n_events) counted with a ``gap_seconds`` inactivity
    gap. Cumulative emission means bounded replays always surface final
    values (take max per key) — unlike watermark-finalized session windows,
    which hold back sessions newer than the final watermark. Events are
    gap-compared in (ts, event_id) order; cross-batch correctness assumes
    batches arrive in event-time order per key (true for replayed files;
    live out-of-order input needs interval-merging state instead).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        # Self-contained closure: executor workers can't import this repo.
        import numpy as np
        import pandas as pd

        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        pdf = pd.concat(list(pdfs))
        if len(pdf):
            pdf = pdf.sort_values(["__ts", "__ord"])
            # Vectorized gap detection: whole-second timestamps, each
            # compared to its predecessor (the carried last_ts for row 0;
            # a sentinel far past forces a new session when state is empty).
            ts = pdf["__ts"].astype("int64").to_numpy() // 1_000_000_000
            # Sentinel just past the gap so row 0 opens a session when no
            # state is carried (int64 min would overflow the subtraction).
            prev0 = last_ts if last_ts is not None else int(ts[0]) - gap_seconds - 1
            prev = np.concatenate(([prev0], ts[:-1]))
            n_sessions += int((ts - prev > gap_seconds).sum())
            n_events += len(ts)
            last_ts = int(ts[-1])
            state.update((last_ts, int(n_sessions), int(n_events)))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    renamed = events.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("__ts"),
        F.col("event_id").alias("__ord"),
    )
    return renamed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType="key long, n_sessions long, n_events long",
        stateStructType="last_ts long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def foreach_batch_jdbc_upsert(
    url: str,
    table: str,
    key_cols: list[str],
    order_col: str | None = None,
    properties: dict[str, str] | None = None,
    on_batch: Callable[[int, int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch UPSERT sink: keyed last-write-wins into a JDBC table,
    making retried micro-batches IDEMPOTENT — the exactly-once story for
    an RDBMS sink (an append sink re-delivers rows when a batch retries
    after a partial failure; a keyed upsert converges to the same state
    no matter how often a batch replays).

    Portable recipe (no MERGE dialect dependence, works on Derby/
    Postgres/MySQL alike), constant driver-side work at any batch size:

    1. within-batch dedup: one row per key, deterministically (max
       ``order_col`` per key with a key tiebreak, or min key order when
       no order column) — never ``dropDuplicates`` (partition-order
       dependent);
    2. the deduped batch lands in a per-batch STAGING table via the
       distributed Spark JDBC writer (executors write in parallel);
    3. ONE set-based ``DELETE ... WHERE EXISTS (staging)`` plus ONE
       ``INSERT INTO ... SELECT FROM staging`` run driver-side over a
       single JDBC connection — the database does the set work, nothing
       is collected to the driver;
    4. staging is dropped; steps 3-4 rerun harmlessly on retry because
       the staging name embeds the batch id and the DELETE/INSERT pair
       converges.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        cols = batch_df.columns
        order = (
            [F.col(order_col).desc()] if order_col is not None else []
        ) + [F.col(c).asc() for c in cols if c not in key_cols]
        w = Window.partitionBy(*key_cols).orderBy(*order)
        deduped = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        # Target bootstrap: an empty append creates the table when
        # missing (portable — Derby has no CREATE TABLE IF NOT EXISTS).
        write_jdbc_append(deduped.limit(0), url, table, properties)
        staging = f"{table}_STG_{batch_id}"
        write_jdbc_append(deduped, url, staging, properties, mode="overwrite")

        spark = batch_df.sparkSession
        dm = spark._jvm.java.sql.DriverManager  # noqa: SLF001
        conn = dm.getConnection(url)
        try:
            # Identifier-folding contract (pinned LIVE on both Derby and
            # Postgres by tests/test_postgres_live.py — the two fold
            # unquoted names to OPPOSITE cases, so a wrong choice passes
            # on one and fails on the other): Spark's JDBC writer emits
            # CREATE TABLE with the table name UNQUOTED (the database
            # folds it: Postgres->lower, Derby->upper) but quotes every
            # COLUMN name (case preserved exactly). The driver-side
            # statements must therefore leave TABLE identifiers unquoted
            # — folding the same way the writer's CREATE did — and quote
            # COLUMN identifiers. Quoting the table name instead only
            # works when the caller's name happens to match the
            # database's fold (the trap the original Derby-only test
            # fell into with an uppercase table name).
            def q(ident: str) -> str:
                return '"' + ident + '"'

            st = conn.createStatement()
            on_keys = " AND ".join(
                f"s.{q(k)} = t.{q(k)}" for k in key_cols
            )
            st.executeUpdate(
                f"DELETE FROM {table} t WHERE EXISTS "
                f"(SELECT 1 FROM {staging} s WHERE {on_keys})"
            )
            collist = ", ".join(q(c) for c in cols)
            n = st.executeUpdate(
                f"INSERT INTO {table} ({collist}) "
                f"SELECT {collist} FROM {staging}"
            )
            st.execute(f"DROP TABLE {staging}")
            st.close()
            if on_batch is not None:
                on_batch(batch_id, n)
        finally:
            conn.close()

    return write_batch
