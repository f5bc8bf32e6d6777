"""Batch sensor pipeline — the reference's ``process_file`` end-to-end
(pipeline.py:273-356), one declarative dataflow instead of per-file
control flow.

    read CSVs (all-string, NA tokens, lineage, line numbers)
      → validate F1-F8 (columnar rules)
      → strict per-file gate (IN-filter on collected bad files) or lenient row split
      → cast valid rows (P4/P5)           → raw table      (K1)
      → long-format aggregates (A1-A8)    → agg table      (K2)
      → invalid rows + per-file reasons   → quarantine     (K5)

Every file in the input directory is processed in one Spark job; the
per-file all-or-nothing semantics live inside the dataflow, so the same
code runs unchanged in ``foreachBatch`` under Structured Streaming.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_project_spark.config import METRIC_COLUMNS, PipelineConfig
from data_pipeline_project_spark.operators.aggregates import long_format_stats
from data_pipeline_project_spark.operators.validation import (
    ERROR_COL,
    ROW_COL,
    Rule,
    cast_validated,
    file_error_summary,
    sensor_rules,
    split_valid_invalid,
)
from data_pipeline_project_spark.sources.csv_source import (
    FILE_COL,
    header_mismatch_files,
    read_sensor_csv,
)


@dataclass
class SensorBatchResult:
    """The three output tables of one pipeline run (reference: the two
    MySQL tables + the quarantine folder/log)."""

    raw: DataFrame  # valid typed rows (raw_sensor_data shape)
    aggregates: DataFrame  # long-format stats (aggregated_sensor_data shape)
    quarantined_rows: DataFrame  # all rows of rejected files, with error_reason
    quarantine_log: DataFrame  # one reason line per rejected file (K5)
    cached: DataFrame  # the persisted flagged frame all four read

    def release(self) -> None:
        """Drop the cached flagged frame once every output is written."""
        self.cached.unpersist()


def run_sensor_batch(
    spark: SparkSession,
    input_path: str,
    config: PipelineConfig | None = None,
) -> SensorBatchResult:
    df = read_sensor_csv(spark, input_path)
    # F1 — a missing/unknown header column quarantines the whole file
    # BEFORE row validation (enforceSchema would positional-map it into
    # silently mislabeled columns). Evaluate the probe ONCE and collect:
    # the result is bounded by per-batch file COUNT (the driver already
    # holds the directory listing), never data bytes — and leaving it
    # lazy would re-run the probe's Python stage inside every one of the
    # four output queries that reference it (measured 4-5 s/batch).
    bad_headers = header_mismatch_files(spark, input_path).collect()
    bad_log = spark.createDataFrame(
        bad_headers, f"{FILE_COL} string, quarantine_reason string"
    )
    if bad_headers:
        bad_names = [r[FILE_COL] for r in bad_headers]
        # literal IN-filter: pushed into the CSV scan, no join, no
        # recompute — the common zero-bad-files batch skips it entirely
        df = df.where(~F.col(FILE_COL).isin(bad_names))
    result = process_sensor_frame(df, config)
    return SensorBatchResult(
        raw=result.raw,
        aggregates=result.aggregates,
        quarantined_rows=result.quarantined_rows,
        quarantine_log=result.quarantine_log.unionByName(bad_log),
        cached=result.cached,
    )


def process_sensor_frame(
    df: DataFrame,
    config: PipelineConfig | None = None,
    rules: Sequence[Rule] | None = None,
) -> SensorBatchResult:
    """Validate/split/cast/aggregate one already-read sensor frame.

    Shared verbatim between the batch entry point and the streaming
    ``foreachBatch`` (SURVEY.md §7 M3 — the cleanest Spark idiom for
    the reference's whole-file micro-batching). ``rules`` defaults to
    ``sensor_rules(config.bounds)``; the stream builds them once and
    passes them to every micro-batch. In strict mode the call runs one
    job (the bad-file probe) and leaves the flagged frame cached until
    ``release()``.
    """
    config = config or PipelineConfig()
    if rules is None:
        rules = sensor_rules(config.bounds)
    valid, invalid, flagged = split_valid_invalid(
        df, rules, file_col=FILE_COL, strict=config.strict
    )

    raw = cast_validated(valid).select(
        "sensor_id", "timestamp", *METRIC_COLUMNS, FILE_COL
    )

    aggregates = long_format_stats(
        raw,
        group_cols=[FILE_COL, "sensor_id"],
        metric_cols=list(METRIC_COLUMNS),
        time_col="timestamp",
    ).withColumnsRenamed({"timestamp": "aggregation_time"})

    quarantine_log = file_error_summary(invalid, FILE_COL)
    quarantined_rows = invalid.select(FILE_COL, ROW_COL, *_csv_cols(df), ERROR_COL)

    return SensorBatchResult(
        raw=raw,
        aggregates=aggregates,
        quarantined_rows=quarantined_rows,
        quarantine_log=quarantine_log,
        cached=flagged,
    )


def _csv_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in (FILE_COL, ROW_COL, ERROR_COL)]


def batch_metrics(result: SensorBatchResult) -> DataFrame:
    """K9 — one-row audit metrics frame for a pipeline run, the
    first-class equivalent of the reference's per-file audit logging
    (pipeline.py:311-324 logs quarantines and success moves; this emits
    the counts as data, writable through any Sink as a fourth output).

    Columns: files_processed / files_quarantined (distinct file
    counts), rows_valid / rows_quarantined. Each input is a 1-row
    aggregate, so the cross joins are trivially broadcast — one job,
    no driver-side counting.
    """
    valid = result.raw.agg(
        F.count_distinct(F.col(FILE_COL)).alias("files_processed"),
        F.count(F.lit(1)).alias("rows_valid"),
    )
    quarantined = result.quarantine_log.agg(
        F.count_distinct(F.col(FILE_COL)).alias("files_quarantined")
    )
    quarantined_rows = result.quarantined_rows.agg(
        F.count(F.lit(1)).alias("rows_quarantined")
    )
    return (
        valid.crossJoin(quarantined)
        .crossJoin(quarantined_rows)
        .select(
            "files_processed",
            "files_quarantined",
            "rows_valid",
            "rows_quarantined",
        )
    )
