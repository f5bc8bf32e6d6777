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

What one epoch runs. Every Column expression (NA-token map, scan id,
rules, line numbers, casts, aggregates, quarantine summary) is built
once per stream (``sensor_scan_columns``, ``sensor_exprs``); an epoch
only assembles its plan from them. Then:

1. one probe job caches the flagged frame and collects a verdict per
   file (``split_valid_invalid``). A batch with no rows stops here:
   the probe saw no file, so nothing is written. The file source
   starts no empty micro-batch for this stateless query, so no
   separate emptiness probe runs;
2. the raw and aggregate commits, which are independent, run at the
   same time on a 2-thread pool, each one staged write plus a commit
   whose target schema comes from the log or one footer
   (``append_snapshot``);
3. after both have returned, the quarantine write, as the reference
   quarantines after its database writes. It runs in every epoch with
   rows, also a clean one: an empty frame then, whose plan Spark
   prunes to an empty relation. Only the rows of files with a bad row
   are numbered, so a clean epoch shuffles nothing for line numbers.

The flagged frame is released when the epoch ends.

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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_pipeline_project_spark.config import PipelineConfig
from data_pipeline_project_spark.pipeline_batch import process_sensor_frame, sensor_exprs
from data_pipeline_project_spark.sinks import Sink
from data_pipeline_project_spark.sources.csv_source import (
    FILE_COL,
    SENSOR_CSV_SCHEMA,
    sensor_scan_columns,
)


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
    scan_cols = sensor_scan_columns()
    exprs = sensor_exprs(config)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        res = process_sensor_frame(batch_df.withColumns(scan_cols), config, exprs)
        try:
            if not res.files:  # the probe saw no row
                return
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
