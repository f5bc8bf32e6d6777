"""Validation core — the reference's largest function, rebuilt columnar.

Reference: ``validate_and_transform_data_strict`` (pipeline.py:85-183):
a per-row ``iterrows`` loop applying predicates F1-F6, building
"Row {n}: 'col' ('val') is ..." error strings (F8), failing the whole
file on the first bad row (F7), then bulk-casting types (P4/P5).

Spark-first re-expression: every predicate is a columnar expression
evaluated in whole-stage codegen; error messages are conditionally-null
string expressions combined with ``concat_ws``; the file-level
all-or-nothing gate is a literal IN-filter on the (tiny) collected set
of bad files. ~150k rows/s pandas becomes JVM-vectorized
and embarrassingly parallel over files/partitions — no Python in the
hot path at all.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_project_spark.config import (
    METRIC_COLUMNS,
    NA_TOKENS,
    TIMESTAMP_FORMATS,
    ValidationBounds,
)

ERROR_COL = "error_reason"
ROW_COL = "_csv_row"  # CSV line number: header = 1, first data row = 2
SCAN_ID_COL = "_scan_id"  # the scan's monotonically_increasing_id: line order


def na_token_columns(cols: Sequence[str]) -> dict[str, Column]:
    """P3/S5 — the ``withColumns`` map that turns the reference's NA
    token list ('', '#N/A', 'NULL', 'NaN', ...; pipeline.py:286) into
    real nulls. Spark's CSV reader only honors a single nullValue, so
    extra tokens are normalized post-read with a columnar isin(). A
    stream builds the map once and applies it to every micro-batch."""
    tokens = [t for t in NA_TOKENS if t]  # '' handled separately (trim first)
    return {
        c: F.when(
            F.trim(F.col(c)) == "", F.lit(None).cast("string")
        ).when(F.col(c).isin(tokens), F.lit(None).cast("string")).otherwise(F.col(c))
        for c in cols
    }


def parse_timestamp_lenient(col: Column) -> Column:
    """P4 — pandas ``pd.to_datetime`` format-sniffing parity
    (pipeline.py:124,171): ordered coalesce of try_to_timestamp over the
    formats observed in the reference's data, ending with Spark's
    default parser. Never raises — unparseable → NULL (probe F3)."""
    probes = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in TIMESTAMP_FORMATS]
    probes.append(F.try_to_timestamp(col))
    return F.coalesce(*probes)


def _quoted(col: Column) -> Column:
    """Render a raw cell for an error message: 'val' or the word null."""
    return F.coalesce(F.concat(F.lit("'"), col, F.lit("'")), F.lit("null"))


@dataclass(frozen=True)
class Rule:
    """One validation rule: a per-row failure predicate + message."""

    name: str
    fails: Column  # true ⇒ row is invalid
    message: Column  # error text (evaluated only when fails)


def sensor_rules(bounds: ValidationBounds) -> list[Rule]:
    """F2-F6 as config-driven columnar rules over the all-string frame.

    Message text mirrors the reference's golden strings
    (quarantine/quarantine_log.txt:1-5, pipeline.py:117-159):
      - "'sensor_id' is null."
      - "'timestamp' ('X') is unparsable."  (or "is null.")
      - "'temperature' ('abc') is not a valid number."
      - "'temperature' ('99.0') is out of range [-50.0, 50.0]."
    """
    rules: list[Rule] = []

    sid = F.col("sensor_id")
    rules.append(Rule("null_sensor_id", sid.isNull(), F.lit("'sensor_id' is null.")))

    ts = F.col("timestamp")
    ts_parsed = parse_timestamp_lenient(ts)
    rules.append(
        Rule(
            "bad_timestamp",
            ts.isNull() | ts_parsed.isNull(),
            F.when(ts.isNull(), F.lit("'timestamp' is null.")).otherwise(
                F.concat(F.lit("'timestamp' ("), _quoted(ts), F.lit(") is unparsable."))
            ),
        )
    )

    for metric in METRIC_COLUMNS:
        c = F.col(metric)
        lo, hi = bounds.range_for(metric)
        # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW
        # on 'abc'; the validation probe needs null-on-malformed.
        num = c.try_cast("double")
        rules.append(
            Rule(
                f"null_{metric}",
                c.isNull(),
                F.concat(F.lit("'"), F.lit(metric), F.lit("' is null.")),
            )
        )
        rules.append(
            Rule(
                f"nonnumeric_{metric}",
                c.isNotNull() & num.isNull(),
                F.concat(
                    F.lit(f"'{metric}' ("), _quoted(c), F.lit(") is not a valid number.")
                ),
            )
        )
        rules.append(
            Rule(
                f"range_{metric}",
                num.isNotNull() & ~num.between(lo, hi),
                F.concat(
                    F.lit(f"'{metric}' ("),
                    _quoted(c),
                    F.lit(f") is out of range [{lo}, {hi}]."),
                ),
            )
        )
    return rules


def with_error_reason(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """F8 — attach ``error_reason``: all failing rules' messages joined
    with '; ' (pipeline.py:162-164); empty string ⇒ row valid. The
    "Row {n}: " line prefix is added after the split, to rows of
    flagged files only (``SensorChecks.prefixed``)."""
    return df.withColumn(ERROR_COL, _joined_reason(rules))


def _joined_reason(rules: Sequence[Rule]) -> Column:
    return F.concat_ws("; ", *[F.when(r.fails, r.message) for r in rules])


@dataclass(frozen=True)
class SensorChecks:
    """Every Column the validation of one sensor frame uses, built once
    by ``sensor_checks``. A stream builds one per query and applies it
    to each micro-batch: a Column belongs to the session that built
    it, so this is per stream, never a module global."""

    file_col: str
    reason: Column  # F8 joined messages, '' ⇒ valid
    file_bad: Column  # per-file verdict: does any row fail?
    line: Column  # F8 CSV line number within the file
    prefixed: Column  # error_reason with the "Row {n}: " prefix
    # P4/P5 post-validation bulk casts (pipeline.py:170-173): timestamp
    # via the lenient parser, metrics to double
    casts: dict[str, Column]
    first_bad: list[Column]  # K5 per-file first failing row
    summary: Column  # K5 quarantine reason line


def sensor_checks(rules: Sequence[Rule], file_col: str) -> SensorChecks:
    """Build the ``SensorChecks`` for ``rules`` over frames whose files
    are named by ``file_col``.

    The line number is a row_number over a per-file window ordered by
    ``SCAN_ID_COL``, the scan's ``monotonically_increasing_id`` (see
    ``sources/csv_source.py`` for why that is physical line order);
    +1 because the header is line 1 (pipeline.py:117)."""
    row_bad = F.col(ERROR_COL) != ""
    row = F.col(ROW_COL)
    error = F.col(ERROR_COL)
    casts = {"timestamp": parse_timestamp_lenient(F.col("timestamp"))}
    casts.update({m: F.col(m).try_cast("double") for m in METRIC_COLUMNS})
    return SensorChecks(
        file_col=file_col,
        reason=_joined_reason(rules),
        file_bad=F.max(row_bad).alias("bad"),
        line=F.row_number().over(
            Window.partitionBy(file_col).orderBy(SCAN_ID_COL)
        ) + 1,
        prefixed=F.when(
            row_bad,
            F.concat(F.lit("Row "), row.cast("string"), F.lit(": "), error),
        ).otherwise(error),
        casts=casts,
        first_bad=[
            F.min_by(ERROR_COL, row).alias("first_error"),
            F.min(row).alias("first_row"),
        ],
        summary=F.concat(
            F.lit("Validation failed at row "),
            F.col("first_row").cast("string"),
            F.lit(": "),
            F.col("first_error"),
        ).alias("quarantine_reason"),
    )


def split_valid_invalid(
    df: DataFrame,
    checks: SensorChecks,
    strict: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """F7 — split into (valid, invalid, flagged, verdicts).

    The flagged frame (``df`` plus ``error_reason``) is persisted, so
    the probe, both splits and every downstream output (the raw,
    aggregate and quarantine sinks) read it once instead of each
    re-running the scan and the rules. It is returned so the caller can
    ``unpersist`` it once its outputs are written.

    One probe job, which also fills the cache, collects ``verdicts``:
    {file: True if any of its rows fails}, bounded by the frame's file
    COUNT, never its bytes (like the header probe of
    ``run_sensor_batch``). An empty dict means the frame held no rows.

    strict: ANY bad row poisons its whole file (pipeline.py:161-165) —
    valid rows of a poisoned file land in the invalid frame. The split
    is a null-safe literal IN-filter on the bad files: a row whose file
    is NULL never matches and stays valid, as it would under an
    anti-join on the file column.

    lenient (strict=False): row-level split only (the historical
    `MainPipeline` variant).

    Only the rows of bad files are numbered (``ROW_COL``, the CSV line),
    so valid rows are never shuffled for it; in lenient mode a bad
    file's rows are numbered before its good rows are dropped, so each
    bad row keeps its true line.
    """
    f = checks.file_col
    flagged = df.withColumn(ERROR_COL, checks.reason).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verdicts = dict(map(tuple, flagged.groupBy(f).agg(checks.file_bad).collect()))
    bad = [name for name, is_bad in verdicts.items() if is_bad]
    # lenient: where IN is NULL (a NULL file name, or a NULL among the bad
    # names) the rows are numbered too; the row filter keeps the bad ones
    hit = F.coalesce(F.col(f).isin(bad), F.lit(not strict)) if bad else F.lit(False)
    numbered = flagged.where(hit).withColumn(ROW_COL, checks.line)
    if strict:
        return flagged.where(~hit), numbered, flagged, verdicts
    row_bad = F.col(ERROR_COL) != ""
    return flagged.where(~row_bad), numbered.where(row_bad), flagged, verdicts


def file_error_summary(invalid: DataFrame, checks: SensorChecks) -> DataFrame:
    """K5 — quarantine reason log: one line per poisoned file,
    'Validation failed at row {N}: {first row's reasons}' where N is the
    first failing CSV row (pipeline.py:165, 264-271; golden examples
    quarantine/quarantine_log.txt:1-5). ``invalid`` carries ``ROW_COL``
    and the prefixed reasons."""
    return (
        invalid.where(F.col(ERROR_COL) != "")
        .groupBy(checks.file_col)
        .agg(*checks.first_bad)
        .select(checks.file_col, checks.summary)
    )
