"""Structured Streaming sensor pipeline — the reference's watcher loop
(S1-S4), Spark-native.

Reference: watchdog directory events + 5s poll + recently_processed
dedup + temp-copy stable reads (pipeline.py:360-431). The Structured
Streaming file source subsumes all four: checkpointed file tracking is
exactly-once (S3), triggers replace the poll (S2), and listed files are
read immutably (S4). ``cleanSource=archive`` replaces the success-path
move to processed/ (K4).

F7 alignment: the file source assigns WHOLE files to a micro-batch
(listing granularity is per-file), so the per-file all-or-nothing gate
inside ``process_sensor_frame`` can never see half a file.

Each epoch runs its validation once: the rules, NA-token map and
row-number column are built once per stream, and the flagged frame is
cached by one bad-file probe job and released when the epoch ends. The
raw and aggregate commits are independent, so they run at the same time
on a 2-thread pool; the quarantine write starts only after both have
returned, as the reference quarantines after its database writes.

Retry semantics (K6): a failing sink raises → the query stops and
restarts from the checkpoint, replaying the batch. Because the raw and
aggregate commits run concurrently, the other one may already have
landed when one fails, and a failing quarantine write follows both, so
EVERY sink must make its replay idempotent: ``ManifestTableSink``'s
``stream_append`` batch stamp, which skips an epoch it already
committed, or the JDBC upsert's unique key (K2/K3). ``ParquetAppendSink``
appends a replayed epoch again.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_pipeline_project_spark.config import EXPECTED_COLUMNS, PipelineConfig
from data_pipeline_project_spark.operators.validation import (
    ROW_COL,
    na_token_columns,
    sensor_rules,
)
from data_pipeline_project_spark.pipeline_batch import process_sensor_frame
from data_pipeline_project_spark.sinks import Sink
from data_pipeline_project_spark.sources.csv_source import FILE_COL, SENSOR_CSV_SCHEMA


def sensor_stream_source(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """S1/S2 — the streaming CSV file source, all-string schema."""
    reader = (
        spark.readStream.schema(SENSOR_CSV_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if archive_dir:
        # K4 — archive consumed files instead of the reference's
        # shutil.move to processed/ (pipeline.py:323-324)
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return reader.csv(input_dir).select(F.col("_metadata.file_name").alias(FILE_COL), "*")


def run_sensor_stream(
    spark: SparkSession,
    input_dir: str,
    raw_sink: Sink,
    agg_sink: Sink,
    quarantine_sink: Sink,
    checkpoint_dir: str,
    config: PipelineConfig | None = None,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = None,
    archive_dir: str | None = None,
) -> StreamingQuery:
    """EP1 — the full streaming pipeline: one foreachBatch running the
    exact batch dataflow per micro-batch, then writing the three
    outputs through their sinks inside the batch's epoch: raw and
    aggregates concurrently, then the quarantine rows."""
    config = config or PipelineConfig()
    stream = sensor_stream_source(
        spark, input_dir, max_files_per_trigger, archive_dir
    )
    rules = sensor_rules(config.bounds)
    na_cols = na_token_columns(EXPECTED_COLUMNS)
    w = Window.partitionBy(FILE_COL).orderBy(F.monotonically_increasing_id())
    row_col = F.row_number().over(w) + 1

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        df = batch_df.withColumns(na_cols).withColumn(ROW_COL, row_col)
        res = process_sensor_frame(df, config, rules)
        try:
            # the wrapper carries this epoch's job group, description and
            # tags over to the commit threads
            inherit = inheritable_thread_target(batch_df.sparkSession)
            with ThreadPoolExecutor(2, thread_name_prefix="sensor-commit") as pool:
                commits = [
                    pool.submit(inherit(sink.write), out, epoch_id)
                    for sink, out in ((raw_sink, res.raw), (agg_sink, res.aggregates))
                ]
            for commit in commits:  # both have returned: re-raise the first error
                commit.result()
            quarantine_sink.write(res.quarantined_rows, epoch_id)
        finally:
            res.release()

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    trigger = trigger if trigger is not None else {"processingTime": f"{config.monitor_interval_seconds} seconds"}
    writer = writer.trigger(**trigger)
    return writer.start()
