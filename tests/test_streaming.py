"""Streaming tests without a broker: file-source micro-batches drive the
same pipeline the Kafka path uses (SURVEY.md §5.3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_yellow_taxi_trip_data_pipeline_spark.operators.transforms import (
    add_trip_features,
    parse_timestamps,
)
from nyc_yellow_taxi_trip_data_pipeline_spark.streaming import (
    hourly_windowed_agg,
    parse_json_envelope,
    read_stream,
    drain_to_memory,
    replay_files,
    replay_phases,
    replay_query,
    session_windowed_agg,
)
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf

_ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}

TRIP_SCHEMA = T.StructType(
    [
        T.StructField("tpep_pickup_datetime", T.StringType()),
        T.StructField("tpep_dropoff_datetime", T.StringType()),
        T.StructField("passenger_count", T.DoubleType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("fare_amount", T.DoubleType()),
    ]
)


@pytest.fixture
def trip_json_dir(tmp_path):
    rows = [
        {
            "tpep_pickup_datetime": "2024-05-06T06:00:00",
            "tpep_dropoff_datetime": "2024-05-06T06:30:00",
            "passenger_count": 1.0,
            "trip_distance": 2.0,
            "fare_amount": 10.0,
        },
        {
            "tpep_pickup_datetime": "2024-05-06T07:15:00",
            "tpep_dropoff_datetime": "2024-05-06T07:45:00",
            "passenger_count": 2.0,
            "trip_distance": 4.0,
            "fare_amount": 20.0,
        },
    ]
    path = tmp_path / "stream_in"
    path.mkdir()
    (path / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))
    return str(path)


def test_file_stream_applies_batch_transforms(spark, trip_json_dir):
    stream = read_stream(spark, "json", schema=TRIP_SCHEMA, path=trip_json_dir)
    assert stream.isStreaming
    cleaned = add_trip_features(parse_timestamps(stream))
    out = (
        drain_to_memory(cleaned, "append")
        .select("trip_duration", "pickup_timeofday", "fare_per_mile")
        .orderBy("trip_duration")
        .collect()
    )
    assert [r.trip_duration for r in out] == [30.0, 30.0]
    assert {r.pickup_timeofday for r in out} == {"morning"}
    assert sorted(r.fare_per_mile for r in out) == [5.0, 5.0]


def test_json_envelope_parse_matches_kafka_shape(spark, tmp_path):
    """The Kafka value column is binary JSON; simulate it exactly."""
    payload = {
        "tpep_pickup_datetime": "2024-05-06T06:00:00",
        "tpep_dropoff_datetime": "2024-05-06T06:10:00",
        "passenger_count": 1.0,
        "trip_distance": 1.0,
        "fare_amount": 5.0,
    }
    d = tmp_path / "envelope"
    d.mkdir()
    (d / "b.json").write_text(json.dumps({"value": json.dumps(payload)}))
    env_schema = T.StructType([T.StructField("value", T.StringType())])
    stream = read_stream(spark, "json", schema=env_schema, path=str(d))
    parsed = parse_json_envelope(
        stream.select(F.col("value").cast("binary").alias("value")), TRIP_SCHEMA
    )
    rows = drain_to_memory(parsed, "append").collect()
    assert len(rows) == 1
    assert rows[0]["fare_amount"] == 5.0
    assert set(parsed.columns) == {f.name for f in TRIP_SCHEMA.fields}


def test_windowed_agg_with_watermark(spark, tmp_path):
    events_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    d = tmp_path / "events_in"
    d.mkdir()
    rows = [
        {"ts": "2024-01-01T10:05:00", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T10:55:00", "user_id": 1, "value": 2.0},
        {"ts": "2024-01-01T11:05:00", "user_id": 2, "value": 4.0},
    ]
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_stream(spark, "json", schema=events_schema, path=str(d))
    agg = hourly_windowed_agg(stream)
    out = {
        r.window_start.isoformat(): (r.n_events, r.sum_value)
        for r in drain_to_memory(agg, "complete").collect()
    }
    assert out["2024-01-01T10:00:00"] == (2, 3.0)
    assert out["2024-01-01T11:00:00"] == (1, 4.0)


def test_session_window_gap(spark, tmp_path):
    events_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    d = tmp_path / "sess_in"
    d.mkdir()
    rows = [
        {"ts": "2024-01-01T10:00:00", "user_id": 1},
        {"ts": "2024-01-01T10:10:00", "user_id": 1},  # same session (10 min gap)
        {"ts": "2024-01-01T12:00:00", "user_id": 1},  # new session (>30 min)
    ]
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_stream(spark, "json", schema=events_schema, path=str(d))
    agg = session_windowed_agg(stream)
    rows_out = (
        drain_to_memory(agg, "complete")
        .orderBy("session_start")
        .select("n_events")
        .collect()
    )
    assert [r.n_events for r in rows_out] == [2, 1]


def test_foreach_batch_collects_batches(spark, trip_json_dir):
    stream = read_stream(spark, "json", schema=TRIP_SCHEMA, path=trip_json_dir)
    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = stream.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(n for _, n in seen) == 2


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """sessionize_stateful: gap logic inside a batch AND across batches —
    an event within 30 min of the previous batch's last event must extend
    that session, not start a new one."""
    import json as _json

    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        sessionize_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    d = tmp_path / "sess_state_in"
    d.mkdir()
    (d / "b0.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                # user 1: two events 10 min apart (1 session), then a 2h gap
                {"user_id": 1, "event_id": 1, "ts": "2024-05-01T10:00:00"},
                {"user_id": 1, "event_id": 2, "ts": "2024-05-01T10:10:00"},
                {"user_id": 1, "event_id": 3, "ts": "2024-05-01T12:30:00"},
                {"user_id": 2, "event_id": 4, "ts": "2024-05-01T09:00:00"},
            ]
        )
    )
    stream = read_stream(spark, "json", schema=schema, path=str(d))
    sessions = sessionize_stateful(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_state_out")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 1 continues within 20 min of event 3 (same session);
        # user 2 returns after 4 hours (new session)
        (d / "b1.json").write_text(
            "\n".join(
                _json.dumps(r)
                for r in [
                    {"user_id": 1, "event_id": 5, "ts": "2024-05-01T12:50:00"},
                    {"user_id": 2, "event_id": 6, "ts": "2024-05-01T13:00:00"},
                ]
            )
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sess_state_out").collect()
    finally:
        q.stop()
    final = {}
    for r in rows:  # cumulative: max per key is the final value
        cur = final.get(r.key, (0, 0))
        final[r.key] = (max(cur[0], r.n_sessions), max(cur[1], r.n_events))
    assert final[1] == (2, 4)  # sessions: {e1,e2}, {e3,e5}
    assert final[2] == (2, 2)  # two singleton sessions


def test_malformed_envelope_yields_nulls_not_failure(spark, tmp_path):
    """A malformed Kafka payload must not kill the stream: from_json
    yields a null struct, so the row survives with null fields and the
    pipeline keeps running (filter out or dead-letter downstream)."""
    import json as jsonlib

    from pyspark.sql import types as T

    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        parse_json_envelope,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    payloads = spark.createDataFrame(
        [
            (jsonlib.dumps({"event_id": 1, "value": 2.5}).encode(),),
            (b"{not valid json at all",),
            (b"",),
        ],
        "value binary",
    )
    rows = parse_json_envelope(payloads, schema).collect()
    assert len(rows) == 3
    parsed = [tuple(r) for r in rows]
    assert (1, 2.5) in parsed
    assert parsed.count((None, None)) == 2


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """The core watermark semantic needs multiple micro-batches: batch 1
    advances the watermark past a window's end; a row for that window
    arriving in batch 2 is LATE and must be dropped deterministically,
    and the finalized (append-mode) window must not include it."""
    import os
    import time as _time

    events_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    d = tmp_path / "late_in"
    d.mkdir()
    batch1 = [
        {"ts": "2024-01-01T10:05:00", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T10:20:00", "user_id": 1, "value": 2.0},
        # advances event-time watermark to 11:30 (= 12:00 - 30min)
        {"ts": "2024-01-01T12:00:00", "user_id": 2, "value": 7.0},
    ]
    # Watermark/eviction lag one batch behind the data that advanced
    # them: batch 2 runs WITH watermark 11:30, finalizes + emits the
    # 10:00 window, and advances the watermark to 12:00.
    batch2 = [
        {"ts": "2024-01-01T12:30:00", "user_id": 2, "value": 8.0},
    ]
    batch3 = [
        # LATE: 10:40 is below watermark 12:00 and its window state was
        # evicted last batch -> dropped (numRowsDroppedByWatermark)
        {"ts": "2024-01-01T10:40:00", "user_id": 1, "value": 99.0},
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in batch2))
    (d / "c.json").write_text("\n".join(json.dumps(r) for r in batch3))
    os.utime(d / "a.json", (1000, 1000))  # strict mtime order a < b < c
    os.utime(d / "b.json", (2000, 2000))
    os.utime(d / "c.json", (3000, 3000))
    _time.sleep(0.1)

    stream = read_stream(
        spark,
        "json",
        schema=events_schema,
        path=str(d),
        options={"maxFilesPerTrigger": "1", "latestFirst": "false"},
    )
    agg = hourly_windowed_agg(stream, watermark="30 minutes")
    rows = {
        r.window_start.isoformat(): (r.n_events, r.sum_value)
        for r in drain_to_memory(agg, "append").collect()
    }
    # Only the 10:00 window is finalized; the late 10:40/99.0 row is NOT
    # in it. The 12:00 window stays open (watermark 12:00 < its end).
    assert rows == {"2024-01-01T10:00:00": (2, 3.0)}


def test_rate_source_produces_rows(spark):
    """The 'rate' source path in read_stream: synthetic load generator
    with the documented (timestamp, value) schema — the no-dependency way
    to soak-test a streaming pipeline's throughput."""
    import time

    stream = read_stream(
        spark, "rate", options={"rowsPerSecond": "50"}
    )
    assert dict(stream.dtypes) == {"timestamp": "timestamp", "value": "bigint"}
    writer = stream.writeStream.format("memory").queryName("rate_out")
    with replay_query(spark, writer) as q:
        deadline = time.time() + 15
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) AS n FROM rate_out").first().n
            if n > 0:
                break
            time.sleep(0.5)
    assert not q.isActive
    assert n > 0, "rate source produced no rows within 15s"


def test_real_testdata_streams_with_watermark(spark):
    """Regression guard against testdata-encoding drift (round-5 breakage).

    Every other streaming test builds its own fixtures, so a change in how
    the shipped ``events.parquet`` encodes its timestamp column (nanos-as-
    bigint in early rounds, timestamp[us]→TIMESTAMP_NTZ now) can break the
    driver gate while pytest stays green. This test runs a real watermark
    query end-to-end against the shipped testdata through read_table_stream.
    """
    import os

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_table,
        read_table_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
        pytest.skip("testdata not present")

    # Both readers must surface plain TIMESTAMP (withWatermark rejects NTZ).
    assert dict(read_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    assert (
        dict(read_table_stream(spark, sf_dir, "events").dtypes)["ts"]
        == "timestamp"
    )

    # And the full watermark query must run to completion on the real files.
    out = QUERIES["q44_streaming_hourly"].spark(spark, sf_dir)
    assert out.count() >= 0


def test_rocksdb_state_store_provider_same_results(spark):
    """The RocksDB state store provider (the large-state scale path —
    state spills to disk instead of living on the executor heap) must
    produce bit-identical results to the default HDFS-backed provider
    for a watermarked windowed aggregation. At 100 TB stream state
    (dedup indexes, session maps), providerClass is the switch that
    keeps executors alive; results must not depend on it."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    baseline = sorted(
        map(tuple, QUERIES["q44_streaming_hourly"].spark(spark, sf_dir).collect())
    )
    with scoped_conf(spark, _ROCKSDB):
        rocks = sorted(
            map(
                tuple,
                QUERIES["q44_streaming_hourly"].spark(spark, sf_dir).collect(),
            )
        )
    assert rocks == baseline


def test_transform_with_state_in_pandas_totals(spark):
    """Spark 4.1's transformWithStateInPandas (the successor of
    applyInPandasWithState, q67) computing per-user running totals with
    a ValueState, verified against the batch aggregate. The API's
    Python runner needs google.protobuf, absent in this container —
    env-gated like the Kafka smoke; lights up wherever protobuf exists."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not installed (transformWithState "
                    "runner requires it)")
    import uuid

    import numpy as np  # noqa: F401
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_table,
        read_table_stream,
    )

    sf = "/root/testdata/sf0.001"

    class Totals(StatefulProcessor):
        def init(self, handle):
            schema = StructType(
                [
                    StructField("n", LongType(), True),
                    StructField("qs", LongType(), True),
                ]
            )
            self._state = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            n = 0
            qs = 0
            for pdf in rows:
                n += len(pdf)
                qs += int(
                    np.floor(pdf["value"].to_numpy() * 100 + 0.5)
                    .astype("int64")
                    .sum()
                )
            if self._state.exists():
                prev = self._state.get()
                n += int(prev[0])
                qs += int(prev[1])
            self._state.update((n, qs))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "sum_value": [qs / 100.0],
                }
            )

        def close(self):
            pass

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    with scoped_conf(spark, _ROCKSDB):
        stream = read_table_stream(spark, sf, "events").select(
            "user_id", "value"
        )
        res = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Totals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        sink = f"tws_{uuid.uuid4().hex[:6]}"
        q = (
            res.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            (r.user_id, r.n_events, round(r.sum_value, 2))
            for r in spark.table(sink).collect()
        )
    exp = sorted(
        (r.user_id, r.n, round(r.s, 2))
        for r in read_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                / 100.0
            ).alias("s"),
        )
        .collect()
    )
    assert got == exp


def test_transform_with_state_timer_eviction(spark):
    """q190's staged-arrival processing-time timer algebra on the NEW
    transformWithStateInPandas API (registerTimer + handleExpiredTimer):
    phase A fully timer-evicts before phase B lands, so every key evicts
    exactly once per phase with that phase's count. Env-gated exactly
    like the ValueState test above — the runner needs google.protobuf;
    this pins the q190 oracle's transfer path wherever it exists."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not installed (transformWithState "
                    "runner requires it)")
    import os
    import shutil
    import time
    import uuid

    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events").select("event_id", "user_id")
    tok = uuid.uuid4().hex[:8]
    watch = f"/tmp/tws_timer_watch_{tok}"
    stage = f"/tmp/tws_timer_stage_{tok}"
    os.makedirs(watch)

    class Evictor(StatefulProcessor):
        def init(self, handle):
            self._handle = handle
            self._cnt = handle.getValueState(
                "cnt", StructType([StructField("n", LongType(), True)])
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            n = 0
            for pdf in rows:
                n += len(pdf)
            if self._cnt.exists():
                n += int(self._cnt.get()[0])
            self._cnt.update((n,))
            self._handle.registerTimer(1)  # epoch-ms 1: already expired
            yield pd.DataFrame({"user_id": [], "n": []})

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            import pandas as pd

            n = int(self._cnt.get()[0]) if self._cnt.exists() else -1
            self._cnt.clear()
            yield pd.DataFrame({"user_id": [int(key[0])], "n": [n]})

        def close(self):
            pass

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n", LongType())]
    )
    sink = f"tws_timer_{tok}"
    try:
        with scoped_conf(spark, _ROCKSDB):
            (
                ev.withColumn("parity", F.pmod("event_id", F.lit(2)))
                .repartition(2, "parity")
                .write.partitionBy("parity")
                .mode("overwrite")
                .parquet(stage)
            )

            def stage_phase(parity):
                out = os.path.join(stage, f"parity={parity}")
                src = [
                    f
                    for f in os.listdir(out)
                    if f.endswith(".parquet") and not f.startswith("_")
                ]
                assert len(src) == 1, src
                os.rename(
                    os.path.join(out, src[0]),
                    os.path.join(watch, f"{parity:02d}.parquet"),
                )

            stage_phase(0)
            stream = (
                spark.readStream.schema("event_id long, user_id long")
                .parquet(watch)
            )
            out = stream.groupBy("user_id").transformWithStateInPandas(
                Evictor(), out_schema, "Update", "ProcessingTime"
            )
            q = (
                out.writeStream.format("memory")
                .queryName(sink)
                .outputMode("update")
                .start()
            )
            try:
                seen: dict = {}

                def wait_drained(min_batches):
                    deadline = time.time() + 120
                    while time.time() < deadline:
                        for p in q.recentProgress:
                            if p:
                                seen[p["batchId"]] = p["numInputRows"]
                        p = q.lastProgress
                        fed = sum(1 for v in seen.values() if v)
                        if (
                            p is not None
                            and fed >= min_batches
                            and p.get("stateOperators")
                            and p["stateOperators"][0]["numRowsTotal"] == 0
                        ):
                            return
                        time.sleep(0.05)
                    raise AssertionError("timers never drained the state")

                wait_drained(1)
                stage_phase(1)
                wait_drained(2)
            finally:
                q.stop()
            got = sorted(
                (r.user_id, r.n_evict, r.n_events)
                for r in spark.table(sink)
                .groupBy("user_id")
                .agg(
                    F.count("*").cast("long").alias("n_evict"),
                    F.sum("n").cast("long").alias("n_events"),
                )
                .collect()
            )
            exp = sorted(
                (r.user_id, r.n_evict, r.n_events)
                for r in ev.groupBy("user_id")
                .agg(
                    F.countDistinct(
                        F.pmod("event_id", F.lit(2))
                    ).cast("long").alias("n_evict"),
                    F.count("*").alias("n_events"),
                )
                .collect()
            )
            assert got == exp
    finally:
        shutil.rmtree(watch, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


# ---------------------------------------------------------------------------
# The bounded-replay harness (streaming.pipeline): replay_query,
# drain_to_memory and replay_files are the only code that starts, drains,
# stops and stages a replay.
# ---------------------------------------------------------------------------


def test_replay_query_failing_query_still_stops_unloads_and_restores(
    spark, trip_json_dir, monkeypatch
):
    """A micro-batch that raises propagates out of the block, and the
    query is still stopped, the state stores unloaded and
    ``spark.sql.shuffle.partitions`` restored; inside the block the
    query ran under one state partition."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming import pipeline

    unloads: list[int] = []
    monkeypatch.setattr(
        pipeline, "unload_state_stores", lambda s: unloads.append(1)
    )
    key = "spark.sql.shuffle.partitions"
    started = []

    def fail(batch_df, batch_id):
        raise ValueError("batch failed")

    stream = read_stream(spark, "json", schema=TRIP_SCHEMA, path=trip_json_dir)
    with scoped_conf(spark, {key: "7"}):
        with pytest.raises(Exception, match="batch failed"):
            with replay_query(spark, stream.writeStream.foreachBatch(fail)) as q:
                started.append(q)
                assert spark.conf.get(key) == "1"
                q.processAllAvailable()
        assert len(started) == 1 and not started[0].isActive
        assert unloads == [1]
        assert spark.conf.get(key) == "7"


def test_replay_query_checkpoint_lives_under_tempdir_and_is_removed(
    spark, trip_json_dir, tmp_path, monkeypatch
):
    """Each replay checkpoints into its own ``tempfile`` directory, not
    Spark's ``java.io.tmpdir`` default; it holds the query's offsets and
    state while the block runs and is removed after a normal exit and
    after a failure inside the block."""
    import os
    import tempfile

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    stream = read_stream(spark, "json", schema=TRIP_SCHEMA, path=trip_json_dir)
    agg = stream.groupBy("passenger_count").count()

    def writer(name):
        return (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
        )

    with replay_query(spark, writer("ckpt_ok")) as q:
        q.processAllAvailable()
        (checkpoint,) = os.listdir(scratch)
        assert checkpoint.startswith("ckpt_")
        assert {"offsets", "state"} <= set(
            os.listdir(scratch / checkpoint)
        )
    assert os.listdir(scratch) == []
    assert spark.table("ckpt_ok").count() == 2

    with pytest.raises(RuntimeError, match="drain failed"):
        with replay_query(spark, writer("ckpt_fail")) as q:
            q.processAllAvailable()
            assert len(os.listdir(scratch)) == 1
            raise RuntimeError("drain failed")
    assert os.listdir(scratch) == []


def _replay_dirs(root) -> list[str]:
    import glob

    return glob.glob(str(root / "replay_*"))


def test_replay_files_failing_batch_write_leaves_no_staging_dir(
    spark, tmp_path, monkeypatch
):
    """A batch whose write fails, and a failure inside the block, both
    remove the staging directory."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    good = spark.range(3)
    bad = spark.range(3).withColumn(
        "id",
        F.when(F.col("id") == 2, F.raise_error(F.lit("bad batch"))).otherwise(
            F.col("id")
        ),
    )
    with pytest.raises(Exception, match="bad batch"):
        with replay_files(spark, [good, bad]):
            pass
    assert _replay_dirs(tmp_path) == []

    with pytest.raises(RuntimeError, match="drain failed"):
        with replay_files(spark, [good]):
            assert len(_replay_dirs(tmp_path)) == 1
            raise RuntimeError("drain failed")
    assert _replay_dirs(tmp_path) == []


def test_replay_files_one_micro_batch_per_file_in_batch_order(
    spark, tmp_path, monkeypatch
):
    """Each staged batch is one file, named in batch order, and one
    micro-batch: micro-batch i carries exactly batch i's rows."""
    import os
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sizes = [2, 5, 1, 3]
    batches = [
        spark.range(n).select(F.lit(i).alias("b"), F.col("id"))
        for i, n in enumerate(sizes)
    ]
    seen: list[tuple[int, list[int], int]] = []

    def collect(batch_df, batch_id):
        rows = batch_df.collect()
        seen.append((batch_id, sorted({r.b for r in rows}), len(rows)))

    with replay_files(spark, batches) as stream:
        (replay_dir,) = _replay_dirs(tmp_path)
        staged = sorted(
            f for f in os.listdir(replay_dir) if f.endswith(".parquet")
        )
        assert staged == ["00.parquet", "01.parquet", "02.parquet", "03.parquet"]
        with replay_query(spark, stream.writeStream.foreachBatch(collect)) as q:
            q.processAllAvailable()
    assert seen == [(i, [i], n) for i, n in enumerate(sizes)]
    assert _replay_dirs(tmp_path) == []


def test_replay_phases_stages_in_call_order_and_removes_the_watch_dir(
    spark, tmp_path, monkeypatch
):
    """The watched directory is created under ``tempfile``'s directory;
    ``stage`` lands ``00.parquet`` then ``01.parquet`` in call order with
    no temp file left behind and the stage file still in place; the
    directory is removed on a normal exit and after a failure inside the
    block."""
    import os
    import tempfile

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    stage_dir = tmp_path / "stage"
    (
        spark.range(6)
        .withColumn("phase", (F.col("id") % 2).cast("int"))
        .coalesce(1)
        .write.partitionBy("phase")
        .parquet(str(stage_dir))
    )
    staged_files = sorted(os.listdir(stage_dir / "phase=1"))

    with replay_phases(spark, str(stage_dir), "id long") as (stream, stage):
        (watch_dir,) = _replay_dirs(scratch)
        stage("phase=1")
        stage("phase=0")
        assert sorted(os.listdir(watch_dir)) == ["00.parquet", "01.parquet"]
        first = spark.read.parquet(os.path.join(watch_dir, "00.parquet"))
        assert sorted(r.id for r in first.collect()) == [1, 3, 5]
        rows = drain_to_memory(stream, "append").collect()
        assert sorted(r.id for r in rows) == list(range(6))
    assert sorted(os.listdir(stage_dir / "phase=1")) == staged_files
    assert _replay_dirs(scratch) == []

    with pytest.raises(RuntimeError, match="drain failed"):
        with replay_phases(spark, str(stage_dir), "id long") as (_, stage):
            stage("phase=0")
            raise RuntimeError("drain failed")
    assert _replay_dirs(scratch) == []


def test_only_pipeline_module_spells_the_replay_protocol():
    """Starting, stopping and staging a bounded replay lives in
    ``streaming/pipeline.py`` only: the plan modules call
    ``drain_to_memory``/``replay_query``/``replay_files``/``replay_phases``
    and never start a query, unload state stores or set a file-stream
    trigger size themselves. Their transient directories come from
    ``tempfile`` context managers, never ``mkdtemp`` + ``rmtree`` or a
    literal ``/tmp`` path (which ignores ``TMPDIR``), and ``replay_query``
    owns every replay's checkpoint directory."""
    import pathlib

    plans = pathlib.Path(__file__).resolve().parent.parent / (
        "nyc_yellow_taxi_trip_data_pipeline_spark/plans"
    )
    banned = (
        ".start()",
        "unload_state_stores",
        "maxFilesPerTrigger",
        "mkdtemp",
        "rmtree(",
        '"/tmp/',
        "checkpointLocation",
    )
    for module in ("datapipe.py", "analytics.py"):
        src = (plans / module).read_text()
        hits = [b for b in banned if b in src]
        assert not hits, (
            f"plans/{module} spells {hits}; use streaming.pipeline's "
            "replay_query / drain_to_memory / replay_files / replay_phases "
            "and tempfile.TemporaryDirectory"
        )

