"""Sources & sinks: Parquet / CSV / JSON / JDBC / Kafka-shaped streams."""

from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
    read_jdbc,
    read_table,
    schema_to_ddl,
    write_jdbc_append,
)

__all__ = [
    "read_jdbc",
    "read_table",
    "schema_to_ddl",
    "write_jdbc_append",
]
