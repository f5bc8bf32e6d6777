"""Partition evolution (r11): metadata-only granularity change
(day -> hour), mixed-era reads and pruning, lazy per-partition
migration, and the maintenance advice that drives it.

Design: the derived column's string formats nest by PREFIX
("2024-01" < "2024-01-01" < "2024-01-01-07"), so ONE lexicographic
range on dt — [coarsest(t1), finest(t2)] — prunes every era's
directories at once; the residual timestamp predicate trims the
slight over-match at the bounds, making read_time_range EQUAL to the
unpruned read + where() by construction.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import (
    maintenance_plan,
    table_health,
    write_time_partitioned,
)
from data_pipeline_project_spark.sinks.manifest import (
    append_time_partitioned,
    prune_snapshot_files,
    read_manifest,
    read_time_range,
    read_version,
    rewrite_partition,
    set_partition_granularity,
    table_partition_spec,
    write_versioned_manifest,
)


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def _events(spark, n0, n1, base="2024-03-01 00:00:00"):
    """one event per 10 minutes from base."""
    return spark.range(n0, n1).select(
        F.col("id").alias("k"),
        (
            F.to_timestamp(F.lit(base))
            + F.make_interval(mins=(F.col("id") * 10).cast("int"))
        ).alias("ts"),
        (F.col("id") % 7).alias("v"),
    )


def _mixed_table(spark, tmp_path):
    """3 day-era days, evolve to hourly, then 1 day of hourly ingest."""
    path = str(tmp_path / "t")
    write_time_partitioned(_events(spark, 0, 432), path, "ts", "day")
    write_versioned_manifest(path)
    set_partition_granularity(spark, path, "ts", "day")
    set_partition_granularity(spark, path, "ts", "hour")
    append_time_partitioned(
        spark, path, _events(spark, 432, 576)
    )  # day 4, hourly dirs
    return path


def test_spec_history_and_metadata_only_change(spark, tmp_path):
    path = str(tmp_path / "t")
    write_time_partitioned(_events(spark, 0, 288), path, "ts", "day")
    write_versioned_manifest(path)
    files_v1 = {f["path"] for f in _latest(path)["files"]}

    set_partition_granularity(spark, path, "ts", "day")
    with pytest.raises(ValueError, match="already partitions"):
        set_partition_granularity(spark, path, "ts", "day")
    set_partition_granularity(spark, path, "ts", "hour")

    spec = table_partition_spec(path)
    assert spec["granularity"] == "hour" and spec["source"] == "ts"
    assert [h["granularity"] for h in spec["history"]] == ["day"]
    # zero files moved by either evolution commit
    assert {f["path"] for f in _latest(path)["files"]} == files_v1


def test_new_writes_land_hourly_old_dirs_stay(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    dirs = {
        os.path.dirname(f["path"]) for f in _latest(path)["files"]
    }
    day_dirs = {d for d in dirs if len(d.split("=", 1)[1]) == 10}
    hour_dirs = {d for d in dirs if len(d.split("=", 1)[1]) == 13}
    assert day_dirs and hour_dirs
    assert day_dirs | hour_dirs == dirs
    # the full mixed table reads: every row, both eras
    assert read_version(spark, path).count() == 576


def test_mixed_era_time_range_prunes_and_matches(spark, tmp_path):
    path = _mixed_table(spark, tmp_path)
    lo = datetime.datetime(2024, 3, 2, 12, 0)
    hi = datetime.datetime(2024, 3, 4, 3, 59)

    got = read_time_range(spark, path, lo, hi)
    want = read_version(spark, path).where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect()
    )

    # pruning is REAL on both eras: the dt range must skip day-1's
    # day-era dir AND the late hour-era dirs of day 4
    spec = table_partition_spec(path)
    pruned, skipped = prune_snapshot_files(
        _latest(path), col=spec["derived"], lo="2024-03-02", hi="2024-03-04-03"
    )
    kept_dirs = {os.path.dirname(f["path"]) for f in pruned["files"]}
    assert skipped > 0
    assert not any(d.endswith("2024-03-01") for d in kept_dirs)
    assert not any(d.endswith("2024-03-04-10") for d in kept_dirs)
    assert any(len(d.split("=", 1)[1]) == 10 for d in kept_dirs)
    assert any(len(d.split("=", 1)[1]) == 13 for d in kept_dirs)


def test_maintenance_advises_migration_and_respec_migrates(
    spark, tmp_path
):
    path = _mixed_table(spark, tmp_path)
    health = table_health(path)
    assert health["partition_eras"]["day"] > 0
    assert health["partition_eras"]["hour"] > 0
    assert health["old_era_files"] == health["partition_eras"]["day"]
    plan = maintenance_plan(health)
    assert any(p["action"] == "migrate_partitions" for p in plan)

    # migrate ONE old-era partition: every REAL column identical, the
    # derived dt re-derives hourly (that IS the migration), dirs hourly
    def _rows(df):
        return sorted((r.k, r.ts, r.v) for r in df.collect())

    before = _rows(read_version(spark, path))
    res = rewrite_partition(
        spark, path, "k", {"dt": "2024-03-02"}, respec=True
    )
    assert res["files_rewritten"] >= 1
    m = _latest(path)
    assert not any("dt=2024-03-02/" in f["path"] for f in m["files"])
    migrated = {
        os.path.dirname(f["path"])
        for f in m["files"]
        if "dt=2024-03-02-" in f["path"]
    }
    assert len(migrated) == 24  # one dir per hour of the migrated day
    after_df = read_version(spark, path)
    assert _rows(after_df) == before
    # migrated rows' derived value matches the hourly transform
    bad = after_df.where(
        F.col("dt") != F.date_format(F.col("ts"), "yyyy-MM-dd-HH")
    ).where(F.col("dt").rlike("^\\d{4}-\\d{2}-\\d{2}-\\d{2}$"))
    assert bad.count() == 0

    # the backlog shrank by exactly the migrated partition's files
    health2 = table_health(path)
    assert health2["old_era_files"] < health["old_era_files"]

    # time-range reads keep matching across the three-era layout
    lo, hi = "2024-03-02 05:00:00", "2024-03-03 01:00:00"
    got = read_time_range(spark, path, lo, hi)
    want = read_version(spark, path).where(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") <= F.lit(hi).cast("timestamp"))
    )
    assert got.count() == want.count() > 0


def test_append_requires_spec(spark, tmp_path):
    path = str(tmp_path / "t")
    write_time_partitioned(_events(spark, 0, 144), path, "ts", "day")
    write_versioned_manifest(path)
    with pytest.raises(ValueError, match="no partition_spec"):
        append_time_partitioned(spark, path, _events(spark, 144, 150))
