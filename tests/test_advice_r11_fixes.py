"""Regression suite for the r11 ADVICE findings.

1. ``commit_optimistic``'s added_entries copy dropped the ``bloom``
   key, so ANALYZE TABLE and RESTORE — both of which re-pin entries
   through that path — silently stripped the per-file Bloom index.
   run_maintenance auto-triggers analyze whenever ndv_coverage < 1.0,
   so the point-lookup pruning self-erased under routine maintenance
   (fail-open kept results correct but pruning degraded to ranges).
2. ``join_plan_advice`` picked the build side by min DISK bytes and
   only tested that side's inflated in-memory estimate against the
   broadcast threshold: when the smaller-on-disk side inflates past
   the threshold while the OTHER side's in-memory estimate fits, the
   advice said shuffle even though broadcasting the other side works.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import (
    join_plan_advice,
    write_range_clustered,
)
from data_pipeline_project_spark.sinks.manifest import (
    analyze_table,
    append_snapshot,
    delete_rows_targeted,
    read_manifest,
    restore_table,
    snapshot_versions,
    write_versioned_manifest,
)


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def _bloom_files(path):
    return [
        f["path"]
        for f in _latest(path)["files"]
        if (f.get("bloom") or {}).get("sk")
    ]


def _keyed_table(spark, tmp_path):
    """Bootstrap (no bloom) + 4 keyed appends, each with an sk bloom."""
    path = str(tmp_path / "t")
    spark.range(0, 200).select(
        F.col("id").alias("k"), F.lit(-1).alias("sk")
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    for i in range(4):
        df = spark.range(1_000 * (i + 1), 1_000 * (i + 1) + 300).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, F.lit(i))
            .otherwise(F.lit(100 - i))
            .alias("sk"),
        )
        append_snapshot(spark, path, df.coalesce(1), key_col="sk")
    return path


def test_blooms_survive_analyze_table(spark, tmp_path):
    path = _keyed_table(spark, tmp_path)
    before = set(_bloom_files(path))
    assert len(before) == 4
    res = analyze_table(path)
    assert res["files_analyzed"] >= 1  # the bootstrap file
    assert set(_bloom_files(path)) == before, (
        "ANALYZE TABLE must carry the bloom index through its re-pin"
    )
    # and the pruning still works end-to-end after the re-pin
    out = delete_rows_targeted(
        spark, path, "sk",
        spark.createDataFrame([(97,)], "sk long"), commit=True,
    )
    assert out["files_rewritten"] == 1, out


def test_blooms_survive_restore_table(spark, tmp_path):
    path = _keyed_table(spark, tmp_path)
    target = snapshot_versions(path)[-1]
    before = set(_bloom_files(path))
    # advance the table, then restore back to the bloom-carrying head
    append_snapshot(
        spark, path,
        spark.createDataFrame([(1, 500)], "k long, sk long").coalesce(1),
        key_col="sk",
    )
    restore_table(path, version=target)
    assert set(_bloom_files(path)) == before, (
        "RESTORE must carry the bloom index through its re-pin"
    )


def test_build_side_chosen_by_inmem_estimate(spark, tmp_path):
    """Side A: tiny on disk, massively redundant (inflates past the
    threshold). Side B: bigger on disk, all-distinct (in-memory ~=
    disk, fits). The r11 picker chose A by disk bytes, tested only A,
    and said shuffle; the fix broadcasts B."""
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    # A: 120k rows of a single repeated key + 3-value column -> RLE
    # crushes it on disk; rows/ndv pushes the in-memory estimate up
    write_range_clustered(
        spark.range(0, 120_000).select(
            (F.col("id") % 4).alias("k"), (F.col("id") % 3).alias("x")
        ),
        pa, "k", 2,
    )
    write_versioned_manifest(pa)
    analyze_table(pa)
    # B: all-distinct columns -> no dictionary win, est ~= disk
    write_range_clustered(
        spark.range(0, 3_000).select(
            F.col("id").alias("k"), F.col("id").alias("x")
        ),
        pb, "k", 2,
    )
    write_versioned_manifest(pb)
    analyze_table(pb)

    probe = join_plan_advice(pa, pb, "k", broadcast_bytes=1 << 40)
    est_a, est_b = probe["est_inmem_a"], probe["est_inmem_b"]
    disk_a, disk_b = probe["bytes_a"], probe["bytes_b"]
    # the fixture's required shape — fail loudly if parquet encoding
    # drift ever breaks it rather than silently passing
    assert disk_a < disk_b, (disk_a, disk_b)
    assert est_a > est_b, (est_a, est_b)

    threshold = (est_b + est_a) // 2
    assert est_b <= threshold < est_a
    adv = join_plan_advice(pa, pb, "k", broadcast_bytes=threshold)
    assert adv["strategy"] == "broadcast", adv["notes"]
    assert adv["build_side"] == "b"
