"""Checkpoint-recovery battery: the exactly-once restart guarantees a
production deployment leans on (SURVEY.md §2.9 upgrade path). Every other
streaming test drives one uninterrupted query; these stop a checkpointed
query mid-stream, restart it, and assert that

  1. a file sink emits every input row exactly once across restarts (and a
     restart with no new data appends nothing),
  2. windowed aggregation STATE is restored from the checkpoint (a window
     whose rows all arrived before the stop is finalized with the correct
     counts after the restart),
  3. completed micro-batches are never re-run through foreachBatch.

File source + local checkpoint stand in for Kafka + DBFS/S3 exactly as in
the rest of the suite — the recovery contract (offset log + commit log +
state store under checkpointLocation) is source-agnostic.

The battery runs under both checkpoint file managers: the FileSystem
manager that local engine sessions use (session.py), and Spark's own
FileContext default that bare sessions (``tools/parity.py --bare``) and
non-local masters keep (the ``*_filecontext`` tests).
"""

from __future__ import annotations

import json
import os
import time as _time

import pytest
from pyspark.sql import types as T

from nyc_yellow_taxi_trip_data_pipeline_spark.session import (
    LOCAL_CHECKPOINT_FILE_MANAGER,
)
from nyc_yellow_taxi_trip_data_pipeline_spark.streaming import (
    hourly_windowed_agg,
    read_stream,
    start_parquet_sink,
)
from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
    unload_state_stores,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILECONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.fixture
def checkpoint_manager(request, spark, tmp_path):
    """Scope the checkpoint file manager to one test and restore the
    session's setting afterwards. The manager is the engine's FileSystem
    one unless the test passes ``None`` indirectly, which unsets the key
    and leaves Spark's own choice (FileContext). Asserts the manager a
    streaming query would get really is the expected class."""
    wanted = getattr(request, "param", LOCAL_CHECKPOINT_FILE_MANAGER)
    prev = spark.conf.get(_MANAGER_KEY, None)
    if wanted is None:
        spark.conf.unset(_MANAGER_KEY)
    else:
        spark.conf.set(_MANAGER_KEY, wanted)
    try:
        jvm = spark._jvm
        checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        manager = checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path / "probe")),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        assert manager.getClass().getName() == (wanted or _FILECONTEXT_MANAGER)
        yield
    finally:
        if prev is None:
            spark.conf.unset(_MANAGER_KEY)
        else:
            spark.conf.set(_MANAGER_KEY, prev)


# The battery's second arm: Spark's default checkpoint manager.
_FILECONTEXT = pytest.mark.parametrize(
    "checkpoint_manager", [None], ids=["filecontext"], indirect=True
)


def _write_batch(d, name, rows, mtime):
    p = d / name
    p.write_text("\n".join(json.dumps(r) for r in rows))
    # Strict mtime order => deterministic file-source batch order.
    os.utime(p, (mtime, mtime))
    _time.sleep(0.05)


def _stream(spark, d):
    return read_stream(
        spark,
        "json",
        schema=EVENTS_SCHEMA,
        path=str(d),
        options={"maxFilesPerTrigger": "1", "latestFirst": "false"},
    )


def test_parquet_sink_exactly_once_across_restart(
    spark, tmp_path, checkpoint_manager
):
    d = tmp_path / "in"
    d.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        d,
        "a.json",
        [
            {"ts": "2024-01-01T10:05:00", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01T10:20:00", "user_id": 2, "value": 2.0},
        ],
        1000,
    )

    def run_once():
        q = start_parquet_sink(_stream(spark, d), out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    first = spark.read.parquet(out)
    assert first.count() == 2

    # New data arrives while the query is DOWN; the restarted query must
    # pick it up from the source log without re-emitting the old rows.
    _write_batch(
        d,
        "b.json",
        [{"ts": "2024-01-01T11:05:00", "user_id": 3, "value": 3.0}],
        2000,
    )
    run_once()
    rows = spark.read.parquet(out).groupBy("user_id").count().collect()
    assert {r.user_id: r["count"] for r in rows} == {1: 1, 2: 1, 3: 1}

    # Restart with NO new input: the commit log says everything is done;
    # an append here would be a duplicate-on-recovery bug.
    run_once()
    assert spark.read.parquet(out).count() == 3


_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


_PROVIDERS = pytest.mark.parametrize(
    ("provider", "changelog"),
    [
        (_HDFS_PROVIDER, None),
        (_ROCKSDB_PROVIDER, "false"),
        (_ROCKSDB_PROVIDER, "true"),
    ],
    ids=["hdfs", "rocksdb", "rocksdb-changelog"],
)


@_PROVIDERS
def test_stateful_window_state_survives_restart(
    spark, tmp_path, provider, changelog, checkpoint_manager
):
    """Run 1 accumulates two rows into the 10:00 window; its watermark
    tops out at 9:50 (10:20 - 30min), so nothing is ripe and nothing is
    emitted — not even by the engine's no-data flush batch (which is why
    run 1 must NOT contain the watermark-advancing row: processAllAvailable
    runs that flush batch, so any window ripe by end of run 1 finalizes
    BEFORE the stop). Run 2's new 12:00 row then advances the watermark to
    11:30 and the flush batch finalizes the 10:00 window. Emitting
    (2, 3.0) is only possible if the window state built before the stop
    was restored from the checkpoint — lost state would leave the 10:00
    window empty and nothing would be emitted for it.

    Parametrized over both state store providers: RocksDB is the
    large-state production backend (state spills to disk), and a
    checkpoint must restore correctly under it too. RocksDB additionally
    runs with changelog checkpointing ON — the production durability
    mode that uploads per-batch changelogs instead of full snapshots
    (restart replays the changelog on top of the last snapshot), so the
    restore path it exercises is genuinely different from snapshot
    mode. Each param gets its own tmp_path, so a checkpoint is always
    reopened by the provider (and changelog mode) that wrote it —
    mixing across a restart is unsupported."""
    d = tmp_path / "in"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        d,
        "a.json",
        [
            {"ts": "2024-01-01T10:05:00", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01T10:20:00", "user_id": 1, "value": 2.0},
        ],
        1000,
    )

    emitted: list[tuple[str, int, float]] = []

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append(
                (r.window_start.isoformat(), r.n_events, r.sum_value)
            )

    def run_once():
        agg = hourly_windowed_agg(_stream(spark, d), watermark="30 minutes")
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    chlog_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    prev = spark.conf.get(conf_key, None)
    prev_chlog = spark.conf.get(chlog_key, None)
    spark.conf.set(conf_key, provider)
    if changelog is not None:
        spark.conf.set(chlog_key, changelog)
    try:
        run_once()
        assert emitted == []  # watermark 9:50; nothing ripe yet

        _write_batch(
            d,
            "b.json",
            [{"ts": "2024-01-01T12:00:00", "user_id": 2, "value": 7.0}],
            2000,
        )
        run_once()
    finally:
        if prev:
            spark.conf.set(conf_key, prev)
        else:
            spark.conf.unset(conf_key)
        if prev_chlog:
            spark.conf.set(chlog_key, prev_chlog)
        else:
            spark.conf.unset(chlog_key)
        unload_state_stores(spark)
    assert emitted == [("2024-01-01T10:00:00", 2, 3.0)]


def test_completed_batches_not_reprocessed(spark, tmp_path, checkpoint_manager):
    """foreachBatch + checkpoint: batch ids continue (not restart at 0)
    and no pre-stop row flows through the callback again."""
    d = tmp_path / "in"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        d, "a.json", [{"ts": "2024-01-01T10:00:00", "user_id": 1, "value": 1.0}], 1000
    )
    _write_batch(
        d, "b.json", [{"ts": "2024-01-01T10:01:00", "user_id": 2, "value": 2.0}], 2000
    )

    seen: list[tuple[int, list[int]]] = []

    def sink(batch_df, batch_id):
        seen.append(
            (batch_id, sorted(r.user_id for r in batch_df.collect()))
        )

    def run_once():
        df = _stream(spark, d).select("user_id", "value")
        q = (
            df.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    run1 = list(seen)
    assert [u for _, us in run1 for u in us] == [1, 2]

    _write_batch(
        d, "c.json", [{"ts": "2024-01-01T10:02:00", "user_id": 3, "value": 3.0}], 3000
    )
    run_once()
    run2 = seen[len(run1):]
    # Only the new file's rows, in a batch id strictly after run 1's
    # (empty batches are fine; re-delivered user 1/2 rows are not).
    assert [u for _, us in run2 for u in us] == [3]
    assert min(b for b, _ in run2) > max(b for b, _ in run1)


@_FILECONTEXT
def test_parquet_sink_exactly_once_across_restart_filecontext(
    spark, tmp_path, checkpoint_manager
):
    test_parquet_sink_exactly_once_across_restart(
        spark, tmp_path, checkpoint_manager
    )


@_FILECONTEXT
@_PROVIDERS
def test_stateful_window_state_survives_restart_filecontext(
    spark, tmp_path, provider, changelog, checkpoint_manager
):
    test_stateful_window_state_survives_restart(
        spark, tmp_path, provider, changelog, checkpoint_manager
    )


@_FILECONTEXT
def test_completed_batches_not_reprocessed_filecontext(
    spark, tmp_path, checkpoint_manager
):
    test_completed_batches_not_reprocessed(spark, tmp_path, checkpoint_manager)
