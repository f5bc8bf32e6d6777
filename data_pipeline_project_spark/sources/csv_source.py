"""CSV sensor-file source — the reference's read path, Spark-native.

Reference: ``process_file`` reads each CSV with all columns as strings
and a 17-token NA list (pipeline.py:286), detects empty/malformed files
(pipeline.py:287-301), and validates against a fixed 5-column schema
(pipeline.py:97-105).

Design:
- fixed all-StringType schema (types asserted by validation, cast after
  — exactly the reference's two-pass typing, which is also the robust
  choice at scale: a bad cell never kills a 100 TB scan);
- ``_metadata.file_name`` for lineage (P9) — no ``input_file_name()``,
  which is undefined under joins;
- per-file CSV line numbers for error messages (F8), for the rows of
  flagged files only: the scan stamps every row with
  ``monotonically_increasing_id`` (``SCAN_ID_COL``, stored in the
  cached flagged frame), and after the split a row_number over a
  per-file window ordered by it numbers just the files that hold a bad
  row (``operators/validation.sensor_checks``). Valid rows are never
  shuffled for a number only quarantine messages print.
  Correctness argument: Spark assigns split partition indices in file
  offset order and ``monotonically_increasing_id`` is
  ``(partition_id << 33) + row_in_partition``, so ordering by it within
  one file reproduces physical line order even when a big file is split
  across tasks. The id is taken in the scan's own projection, below any
  filter or shuffle, and numbering a file needs only its own rows, so
  numbering a subset of files gives each row the number it had when
  every file was numbered. +1 because the header is line 1
  (pipeline.py:117).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_project_spark.config import EXPECTED_COLUMNS
from data_pipeline_project_spark.operators.validation import SCAN_ID_COL, na_token_columns

FILE_COL = "file_name"

SENSOR_CSV_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in EXPECTED_COLUMNS]
)


def sensor_scan_columns() -> dict[str, Column]:
    """The ``withColumns`` map every sensor scan gets: NA tokens to
    nulls, and ``SCAN_ID_COL`` for line order. A stream builds it once
    and applies it to each micro-batch (the streaming source itself
    cannot carry ``monotonically_increasing_id``)."""
    return {
        **na_token_columns(EXPECTED_COLUMNS),
        SCAN_ID_COL: F.monotonically_increasing_id(),
    }


def read_sensor_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5 — all-string CSV scan with NA-token normalization, lineage
    file name, and the scan id line numbers are later taken from.

    Corrupt lines survive as partially-null rows (PERMISSIVE mode) and
    are then rejected by the validation predicates — same verdict as the
    reference's malformed-file quarantine (S7), decided row-wise in the
    dataflow instead of by exception control flow.
    """
    return (
        spark.read.schema(SENSOR_CSV_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("enforceSchema", True)
        .csv(path)
        .select(F.col("_metadata.file_name").alias(FILE_COL), "*")
        .withColumns(sensor_scan_columns())
    )


_HEAD_BYTES = 65536
# Size gate for the driver-side head-read fast path: at or below this
# many files the header probe is driver work of the same bounded class
# as the directory listing itself (N x one 64 KiB read), and skipping
# the Spark job + Python-worker round trip saves a fixed ~0.5-3 s per
# micro-batch — the common streaming case. Above it, heads read on
# executors in parallel (the backfill case).
_DRIVER_HEAD_FILES = 64


def _first_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per non-empty file under ``path``: (file_name, header =
    first text line). The driver only LISTS the directory (metadata,
    like ``empty_files``); the head reads happen on executors, each
    bounded to the first 64 KiB of its file via pyarrow's filesystem
    layer — never a scan proportional to dataset bytes. Small batches
    (<= _DRIVER_HEAD_FILES files) read the heads directly on the
    driver: the work is bounded by file COUNT x 64 KiB — the same
    driver-memory class as the listing — and a whole Spark job with a
    Python-worker round trip disappears from every micro-batch (the
    size-gated pattern connected_components uses for tiny edge
    lists)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = [
        (st.getPath().getName(), st.getPath().toString())
        for st in fs.listStatus(jpath)
        if st.isFile() and st.getLen() > 0
    ]
    schema = f"{FILE_COL} string, header string"
    if not files:
        return spark.createDataFrame([], schema)

    if len(files) <= _DRIVER_HEAD_FILES:
        import pyarrow.fs as pafs

        rows = []
        for name, uri in files:
            try:
                pa_fs, rel = pafs.FileSystem.from_uri(uri)
            except Exception:  # noqa: BLE001 — bare local path (tests)
                pa_fs, rel = pafs.LocalFileSystem(), uri
            with pa_fs.open_input_stream(rel) as f:
                head = f.read(_HEAD_BYTES)
            line = head.split(b"\n", 1)[0]
            rows.append((name, line.decode("utf-8", "replace").rstrip("\r")))
        return spark.createDataFrame(rows, schema)

    def read_heads(batches):
        import pandas as pd
        import pyarrow.fs as pafs

        for pdf in batches:
            heads = []
            for uri in pdf["_uri"]:
                try:
                    pa_fs, rel = pafs.FileSystem.from_uri(uri)
                except Exception:
                    # bare local path (no scheme) — common in tests
                    pa_fs, rel = pafs.LocalFileSystem(), uri
                with pa_fs.open_input_stream(rel) as f:
                    head = f.read(_HEAD_BYTES)
                line = head.split(b"\n", 1)[0]
                heads.append(line.decode("utf-8", "replace").rstrip("\r"))
            yield pd.DataFrame({FILE_COL: pdf[FILE_COL], "header": heads})

    paths_df = spark.createDataFrame(files, [FILE_COL, "_uri"])
    # spread the file list across tasks so heads read in parallel
    n_part = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    return paths_df.repartition(n_part).mapInPandas(read_heads, schema)


def header_mismatch_files(spark: SparkSession, path: str) -> DataFrame:
    """F1 — files whose header lacks any expected column, with the
    reference's message (pipeline.py:100-105: "File '{name}': Missing
    critical columns: {cols}. Quarantining."). ``enforceSchema``
    positional-maps a short or reordered header, so this per-file probe
    is the only thing standing between a malformed header and silently
    mislabeled columns.

    Cost is bounded by file COUNT, not dataset bytes: the file list is
    distributed to executors and each task reads only the first 64 KiB
    of its files through pyarrow's filesystem layer (local/HDFS/S3) —
    never a full scan of data that row validation will read anyway.
    Header cells are split on ',' and trimmed — same fidelity as the
    reference's parsed-column check for the unquoted headers both
    pipelines emit."""
    first_lines = _first_lines(spark, path)
    cols = F.transform(F.split(F.col("header"), ","), lambda c: F.trim(c))
    expected = F.array(*[F.lit(c) for c in EXPECTED_COLUMNS])
    missing = F.array_except(expected, cols)
    return (
        first_lines.withColumn("_missing", missing)
        .where(F.size("_missing") > 0)
        .select(
            FILE_COL,
            F.concat(
                F.lit("File '"),
                F.col(FILE_COL),
                F.lit("': Missing critical columns: "),
                F.concat_ws(", ", F.col("_missing")),
                F.lit(". Quarantining."),
            ).alias("quarantine_reason"),
        )
    )


def empty_files(spark: SparkSession, path: str) -> DataFrame:
    """S6 — files with zero data rows (header-only or fully empty):
    quarantine candidates that never appear in the data frame at all.
    One cheap text scan counting lines per file."""
    lines = (
        spark.read.text(path)
        .select(F.col("_metadata.file_name").alias(FILE_COL))
        .groupBy(FILE_COL)
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    # Hadoop FS listing (works on local/HDFS/S3): binaryFile and text
    # sources both skip zero-byte files, so a listing is the only way to
    # see fully-empty ones. Metadata-only — no data read.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    names = [st.getPath().getName() for st in fs.listStatus(jpath) if st.isFile()]
    all_files = spark.createDataFrame([(n,) for n in names], [FILE_COL])
    counted = all_files.join(lines, FILE_COL, "left").na.fill({"n_lines": 0})
    return counted.where(F.col("n_lines") <= 1).select(
        FILE_COL,
        F.when(F.col("n_lines") == 0, "File is completely empty.")
        .otherwise("File contains only a header.")
        .alias("quarantine_reason"),
    )
