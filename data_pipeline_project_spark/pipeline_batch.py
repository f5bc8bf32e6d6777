"""Batch sensor pipeline — the reference's ``process_file`` end-to-end
(pipeline.py:273-356), one declarative dataflow instead of per-file
control flow.

    read CSVs (all-string, NA tokens, lineage, scan id)
      → validate F1-F8 (columnar rules), one probe collects per-file verdicts
      → strict per-file gate (IN-filter on collected bad files) or lenient row split
      → CSV line numbers for the rows of flagged files only (F8)
      → cast valid rows (P4/P5)           → raw table      (K1)
      → long-format aggregates (A1-A8)    → agg table      (K2)
      → invalid rows + per-file reasons   → quarantine     (K5)

Every file in the input directory is processed in one Spark job; the
per-file all-or-nothing semantics live inside the dataflow, so the same
code runs unchanged in ``foreachBatch`` under Structured Streaming.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_project_spark.config import EXPECTED_COLUMNS, METRIC_COLUMNS, PipelineConfig
from data_pipeline_project_spark.operators.aggregates import long_format_aggs, long_format_stats
from data_pipeline_project_spark.operators.validation import (
    ERROR_COL,
    ROW_COL,
    SensorChecks,
    file_error_summary,
    sensor_checks,
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
    files: dict[str, bool]  # the validated rows' files: {file_name: had a bad row}

    def release(self) -> None:
        """Drop the cached flagged frame once every output is written."""
        self.cached.unpersist()


@dataclass(frozen=True)
class SensorExprs:
    """The Column expressions ``process_sensor_frame`` applies, built
    once by ``sensor_exprs``: the validation checks (reasons, line
    numbers, casts, quarantine summary) and the aggregate list. The
    stream builds one per query, so a micro-batch only assembles its
    plan from them."""

    checks: SensorChecks
    aggs: list[Column]


def sensor_exprs(config: PipelineConfig) -> SensorExprs:
    return SensorExprs(
        checks=sensor_checks(sensor_rules(config.bounds), FILE_COL),
        aggs=long_format_aggs("timestamp"),
    )


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
    result.quarantine_log = result.quarantine_log.unionByName(bad_log)
    return result


def process_sensor_frame(
    df: DataFrame,
    config: PipelineConfig | None = None,
    exprs: SensorExprs | None = None,
) -> SensorBatchResult:
    """Validate/split/cast/aggregate one already-read sensor frame
    (``read_sensor_csv``'s columns, or a stream batch with
    ``sensor_scan_columns`` applied).

    Shared verbatim between the batch entry point and the streaming
    ``foreachBatch`` (SURVEY.md §7 M3 — the cleanest Spark idiom for
    the reference's whole-file micro-batching). ``exprs`` defaults to
    ``sensor_exprs(config)``; the stream builds it once and passes it
    to every micro-batch. The call runs one job (the per-file verdict
    probe, ``result.files``) and leaves the flagged frame cached until
    ``release()``.
    """
    config = config or PipelineConfig()
    if exprs is None:
        exprs = sensor_exprs(config)
    checks = exprs.checks
    valid, invalid, flagged, files = split_valid_invalid(df, checks, config.strict)
    # F8: the "Row {n}: " prefix, on the numbered rows of flagged files
    invalid = invalid.withColumn(ERROR_COL, checks.prefixed)

    raw = valid.withColumns(checks.casts).select(
        "sensor_id", "timestamp", *METRIC_COLUMNS, FILE_COL
    )

    aggregates = long_format_stats(
        raw,
        group_cols=[FILE_COL, "sensor_id"],
        metric_cols=list(METRIC_COLUMNS),
        time_col="timestamp",
        aggs=exprs.aggs,
    ).withColumnsRenamed({"timestamp": "aggregation_time"})

    return SensorBatchResult(
        raw=raw,
        aggregates=aggregates,
        quarantined_rows=invalid.select(FILE_COL, ROW_COL, *EXPECTED_COLUMNS, ERROR_COL),
        quarantine_log=file_error_summary(invalid, checks),
        cached=flagged,
        files=files,
    )


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
