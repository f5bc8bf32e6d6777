"""Consumed advice inside the bulk rewrites (r13).

r12 shipped advised_join — advice executed for USER joins — while
merge_bulk / delete_bulk's own whole-table anti-join still shuffled a
skewed key onto one reducer. Now the log's heavy-hitter summary
(the same >= 20% mass threshold join_plan_advice flags) salts that
exchange: the table side takes a deterministic content salt, the key
side explodes to every salt, and the hot key spreads over
salt_buckets reducers. Result identity with the unsalted plan is
pinned here; the wall-clock win is measured at scale
(scripts/merge_skew_scale_check.py, SCALE_r13).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import data_pipeline_project_spark.sinks.manifest as M
from data_pipeline_project_spark.sinks.manifest import (
    _merge_skew_salts,
    analyze_table,
    bulk_merge_frame,
    delete_bulk,
    merge_bulk,
    merge_upsert,
    read_version,
    write_versioned_manifest,
)


def _skewed_table(spark, path, n=6_000):
    """Key 42 holds ~40% of rows; the rest spread over [0, n)."""
    spark.range(0, n).select(
        F.when(F.col("id") % 5 < 2, F.lit(42))
        .otherwise(F.col("id"))
        .alias("k"),
        (F.col("id") % 31).alias("v"),
    ).coalesce(4).write.parquet(path)
    write_versioned_manifest(path)
    analyze_table(path, spark=spark)
    return path


def _uniform_table(spark, path, n=6_000):
    spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("v")
    ).coalesce(4).write.parquet(path)
    write_versioned_manifest(path)
    analyze_table(path, spark=spark)
    return path


def _rows(spark, path):
    return sorted(map(tuple, read_version(spark, path).collect()))


def test_skew_salts_from_the_log(spark, tmp_path):
    skew = _skewed_table(spark, str(tmp_path / "s"))
    flat = _uniform_table(spark, str(tmp_path / "u"))
    assert _merge_skew_salts(skew, "k") >= 2
    assert _merge_skew_salts(flat, "k") == 0
    # partial/absent sketch coverage: stay unsalted (fail open)
    bare = str(tmp_path / "b")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(bare)
    write_versioned_manifest(bare)  # bootstrap: no sketches
    assert _merge_skew_salts(bare, "k") == 0
    assert _merge_skew_salts(str(tmp_path / "nope"), "k") == 0


def test_salted_frame_equals_unsalted(spark):
    target = spark.range(0, 5_000).select(
        F.when(F.col("id") % 3 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    updates = spark.createDataFrame(
        [(7, -1), (100, -2), (999_999, -3)], "k long, v long"
    )
    plain = bulk_merge_frame(target, updates, "k", ["k", "v"])
    salted = bulk_merge_frame(target, updates, "k", ["k", "v"], salt_buckets=8)
    assert "rand(" not in salted._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_merge_bulk_salted_final_state_equals_unsalted(
    spark, tmp_path, monkeypatch
):
    """The consumed-advice path (skewed table -> salted exchange) must
    land byte-for-byte the same table as a forced-unsalted run."""
    a = _skewed_table(spark, str(tmp_path / "a"))
    b = _skewed_table(spark, str(tmp_path / "b"))
    updates = spark.range(0, 400).select(
        (F.col("id") + 2_000).alias("k"), F.lit(-5).alias("v")
    )
    assert _merge_skew_salts(a, "k") >= 2  # advice fires on this fixture
    merge_bulk(spark, a, "k", updates)
    monkeypatch.setattr(M, "_merge_skew_salts", lambda *a_, **k_: 0)
    merge_bulk(spark, b, "k", updates)
    assert _rows(spark, a) == _rows(spark, b)


def test_delete_bulk_salted_final_state_equals_unsalted(
    spark, tmp_path, monkeypatch
):
    a = _skewed_table(spark, str(tmp_path / "a"))
    b = _skewed_table(spark, str(tmp_path / "b"))
    keys = spark.createDataFrame(
        [(42,), (100,), (101,)], "k long"
    )  # includes the hot key
    assert _merge_skew_salts(a, "k") >= 2
    ra = delete_bulk(spark, a, "k", keys)
    monkeypatch.setattr(M, "_merge_skew_salts", lambda *a_, **k_: 0)
    rb = delete_bulk(spark, b, "k", keys)
    assert ra["rows_deleted"] == rb["rows_deleted"] > 2_000  # hot key gone
    assert _rows(spark, a) == _rows(spark, b)


# -- r13: insert-only fast path (skip the candidate scan) ----------------


def test_insert_only_merge_skips_candidate_machinery(
    spark, tmp_path, monkeypatch
):
    """A batch whose key range provably exceeds the table's logged
    global range (the streaming-CDC append wave) must commit WITHOUT
    touching zone-map assembly or candidate selection — poisoned here
    — while an overlapping batch still goes through them."""
    path = _uniform_table(spark, str(tmp_path / "t"), n=2_000)

    def _boom(*a, **k):
        raise AssertionError("candidate machinery touched")

    monkeypatch.setattr(M, "_snapshot_zone_maps", _boom)
    monkeypatch.setattr(M, "_select_candidates", _boom)
    res = merge_upsert(
        spark, path, "k",
        spark.range(0, 300).select(
            (F.col("id") + 50_000).alias("k"), F.lit(-1).alias("v")
        ),
    )
    assert res["rows_inserted"] == 300 and res["rows_updated"] == 0
    assert res["files_rewritten"] == 0
    assert read_version(spark, path).count() == 2_300
    # overlapping keys: the poison fires, proving the normal path runs
    monkeypatch.undo()
    monkeypatch.setattr(M, "_select_candidates", _boom)
    with pytest.raises(AssertionError, match="candidate machinery"):
        merge_upsert(
            spark, path, "k",
            spark.createDataFrame([(5, -9)], "k long, v long"),
        )
    monkeypatch.undo()
    # and the real overlapping merge is still correct
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(5, -9)], "k long, v long"),
    )
    assert read_version(spark, path).where("k = 5").collect()[0].v == -9


def test_insert_only_fast_path_needs_full_stats_coverage(
    spark, tmp_path, monkeypatch
):
    """A bootstrap-era table (no per-file stats for the key) cannot
    prove disjointness — the fast path must NOT fire."""
    path = str(tmp_path / "b")
    spark.range(0, 500).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    ).coalesce(1).write.parquet(path)
    # listing bootstrap records footer stats; strip them to simulate a
    # legacy manifest without stats coverage
    import json as _json
    import os as _os

    from data_pipeline_project_spark.sinks.manifest import (
        read_manifest,
        write_versioned_manifest,
    )

    write_versioned_manifest(path)
    mpath = _os.path.join(path, "_manifests", "latest.json")
    m = read_manifest(mpath)
    for e in m["files"]:
        e.pop("stats", None)
    for p in (mpath, _os.path.join(path, "_manifests", "v1.json")):
        with open(p, "w") as fh:
            _json.dump(m, fh)
    calls = []
    orig = M._select_candidates
    monkeypatch.setattr(
        M, "_select_candidates",
        lambda *a, **k: calls.append(1) or orig(*a, **k),
    )
    merge_upsert(
        spark, path, "k",
        spark.range(0, 10).select(
            (F.col("id") + 90_000).alias("k"), F.lit(-1).alias("v")
        ),
    )
    assert calls, "without stats coverage the normal path must run"
    assert read_version(spark, path).count() == 510
