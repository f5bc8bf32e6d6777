"""Long-format per-group aggregation — the reference's one true query.

Reference: ``calculate_aggregates`` (pipeline.py:186-208): per
(file, sensor) group, for each metric column, emit one long-format row
with min/max/avg/sample-stddev/non-null-count plus the group's
``aggregation_time`` = min(timestamp).

Spark-first design: unpivot the metric columns FIRST (wide→long,
pipeline.py:193-207's python loop becomes a single ``unpivot``), then
ONE hash aggregate over (group_keys..., metric_name). Catalyst gives
partial (map-side) aggregation before the shuffle automatically, so at
100 TB this is one shuffle keyed on the group, no driver-side loops.

Edge-case parity (SURVEY.md §7):
- sample stddev with n<=1 → 0.0, not NULL (pipeline.py:205):
  ``coalesce(stddev_samp, 0.0)``.
- groups whose metric is entirely null emit NO row (pipeline.py:196):
  free here because unpivoted null values are filtered pre-aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def long_format_aggs(time_col: str | None = None) -> list[Column]:
    """The aggregate Columns of ``long_format_stats`` over its unpivoted
    ``value`` column; a caller that aggregates many frames (one per
    micro-batch) builds them once and passes them in."""
    aggs = [
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.avg("value").alias("avg_value"),
        # A4: pandas series.std() with ddof=1 returns 0.0 for n==1 in the
        # reference (pipeline.py:205); Spark's stddev_samp returns NULL.
        F.coalesce(F.stddev_samp("value"), F.lit(0.0)).alias("std_dev_value"),
        F.count("value").alias("record_count"),
    ]
    if time_col:
        # A6: aggregation_time = min(timestamp) over ALL rows of the group
        # (pipeline.py:192), including rows where this metric is null —
        # so nulls are NOT filtered before the aggregate (Spark's
        # min/max/avg/stddev skip them natively anyway).
        aggs.append(F.min(time_col).alias("aggregation_time"))
    return aggs


def long_format_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    metric_cols: Sequence[str],
    time_col: str | None = None,
    round_decimals: int | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Per-group, per-metric stats in long format (reference A1-A8).

    Returns columns: *group_cols, metric_name, min_value, max_value,
    avg_value, std_dev_value, record_count [, aggregation_time].
    ``aggs`` is ``long_format_aggs(time_col)``, prebuilt by the caller
    or built here.
    """
    ids = list(group_cols) + ([time_col] if time_col else [])
    long_df = df.unpivot(
        ids=ids,
        values=list(metric_cols),
        variableColumnName="metric_name",
        valueColumnName="value",
    )
    if aggs is None:
        aggs = long_format_aggs(time_col)
    out = long_df.groupBy(*group_cols, "metric_name").agg(*aggs)
    # A8: a group whose metric is entirely null emits no row
    # (pipeline.py:196); count("value") counted non-nulls only.
    out = out.where(F.col("record_count") > 0)
    if round_decimals is not None:
        # Oracle-compare hygiene: avg/stddev are float-summation-order
        # dependent across engines (~1e-16 rel); a fixed rounding makes
        # the comparison deterministic. min/max are exact selections.
        out = out.withColumns(
            {
                c: F.round(F.col(c), round_decimals)
                for c in ("avg_value", "std_dev_value")
            }
        )
    return out
