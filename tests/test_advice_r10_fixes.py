"""Regression tests for the three round-10 ADVICE findings.

1. table_health's stats-in-the-log fast path crashed (TypeError on
   None) whenever a fully-stats-covered table held a file ALL-NULL in
   the key column — the [None, None, "null", n] entry decodes to
   (None, None) and zm.sort()/the overlap compare are not None-safe.
   The footer-probe path always filtered None bounds; the fast path
   now does too.

2. Float merge keys routed through zone-map candidate selection were
   NaN-blind: parquet footers exclude NaN from min/max, so a file
   holding NaN rows has finite bounds and is NEVER selected — Spark's
   join semantics match NaN = NaN, so merge_upsert inserted a
   duplicate instead of updating and targeted delete missed the row.
   _select_candidates now probes float batches for NaN and returns
   every file (no stats can prove a file NaN-free).

3. _entry_stats capped recorded stats at the first 32 columns in
   alphabetical order; on a wide table this silently excluded the
   merge/cluster key, permanently failing the coverage check with no
   signal. The cap now keeps priority (key) columns first and the
   entry carries a ``stats_truncated`` count when anything was cut.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import table_health
from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    delete_rows_targeted,
    merge_upsert,
    read_manifest,
    write_versioned_manifest,
)


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def test_table_health_survives_all_null_key_file(spark, tmp_path):
    """A file that is all-null in key_col must not crash the stats
    fast path — and the overlap audit must match what the footer
    probe (which always skipped None bounds) would report."""
    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    # an appended file whose key column is entirely NULL: its stats
    # entry is the [None, None, "null", n] kind
    append_snapshot(
        spark,
        path,
        spark.range(0, 50).select(
            F.lit(None).cast("bigint").alias("k"), F.lit(2).alias("v")
        ),
    )
    m = _latest(path)
    null_entries = [
        f
        for f in m["files"]
        if (f.get("stats") or {}).get("k", [0, 0, ""])[2] == "null"
    ]
    assert null_entries, "fixture must produce an all-null-key stats entry"
    # every entry carries k-stats → the fast path is taken; before the
    # fix this raised TypeError from zm.sort() on None
    health = table_health(path, key_col="k")
    assert 0.0 <= health["clustering_overlap"] <= 1.0


def test_merge_upsert_nan_float_key_updates_not_duplicates(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1.0, "a"), (2.5, "b"), (float("nan"), "c")], "k double, v string"
    )
    base.coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    # second file with finite keys only — its bounds exclude nothing
    # about NaN, and before the fix the NaN batch key selected NO files
    append_snapshot(
        spark,
        path,
        spark.createDataFrame([(7.0, "d"), (9.0, "e")], "k double, v string"),
    )

    updates = spark.createDataFrame(
        [(float("nan"), "C2"), (7.0, "D2")], "k double, v string"
    )
    merge_upsert(spark, path, "k", updates)

    rows = spark.read.parquet(path).collect()
    nan_rows = [r for r in rows if r.k is not None and math.isnan(r.k)]
    assert len(nan_rows) == 1, "NaN key must UPDATE, not duplicate"
    assert nan_rows[0].v == "C2"
    assert {r.v for r in rows} == {"a", "b", "C2", "D2", "e"}


def test_delete_targeted_nan_float_key_hits_the_row(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1.0, "a"), (float("nan"), "x"), (3.0, "b")], "k double, v string"
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    append_snapshot(
        spark,
        path,
        spark.createDataFrame([(5.0, "c")], "k double, v string"),
    )

    keys = spark.createDataFrame([(float("nan"),)], "k double")
    delete_rows_targeted(spark, path, "k", keys)

    rows = spark.read.parquet(path).collect()
    assert not any(r.k is not None and math.isnan(r.k) for r in rows)
    assert {r.v for r in rows} == {"a", "b", "c"}


def test_wide_table_stats_keep_priority_key_and_mark_truncation(
    spark, tmp_path
):
    """40 value columns alphabetically before the key column 'zz_key':
    the bare cap would have dropped the key's stats; with the merge
    path threading the key as a priority column, the key's stats
    survive and the entry self-reports the truncation."""
    path = str(tmp_path / "t")
    cols = [F.col("id").alias("zz_key")] + [
        (F.col("id") + i).alias(f"c{i:02d}") for i in range(40)
    ]
    spark.range(0, 200).select(*cols).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)

    # bootstrap manifest (no priority threading) records alphabetical
    # stats: zz_key loses the cap and the entry is marked truncated
    m0 = _latest(path)
    f0 = m0["files"][0]
    assert "zz_key" not in (f0.get("stats") or {})
    assert f0.get("stats_truncated", 0) >= 1

    # a merge on zz_key rewrites the touched file; its commit threads
    # the key as a priority column → the new entry keeps zz_key stats
    updates = spark.range(10, 12).select(*cols)
    merge_upsert(spark, path, "zz_key", updates)
    m1 = _latest(path)
    new_entries = [
        f for f in m1["files"] if f["path"] not in {f0["path"]}
    ]
    assert new_entries
    for f in new_entries:
        st = f.get("stats") or {}
        assert "zz_key" in st, f["path"]
        assert f.get("stats_truncated", 0) >= 1
        assert st["zz_key"][2] == "int"
