from data_pipeline_project_spark.sinks.sinks import (
    AGG_TABLE_DDL,
    RAW_TABLE_DDL,
    JdbcAppendSink,
    JdbcUpsertSink,
    ParquetAppendSink,
    Sink,
    bootstrap_database,
    connect_with_retry,
)

__all__ = [
    "Sink",
    "ParquetAppendSink",
    "JdbcAppendSink",
    "JdbcUpsertSink",
    "bootstrap_database",
    "connect_with_retry",
    "RAW_TABLE_DDL",
    "AGG_TABLE_DDL",
]
