"""Structured Streaming layer (SURVEY.md §2.9, reference sparkConsumer.py)."""

from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
    drain_to_memory,
    foreach_batch_jdbc_writer,
    hourly_windowed_agg,
    parse_json_envelope,
    read_stream,
    replay_files,
    replay_phases,
    replay_query,
    session_windowed_agg,
    start_parquet_sink,
)

__all__ = [
    "drain_to_memory",
    "foreach_batch_jdbc_writer",
    "hourly_windowed_agg",
    "parse_json_envelope",
    "read_stream",
    "replay_files",
    "replay_phases",
    "replay_query",
    "session_windowed_agg",
    "start_parquet_sink",
]
