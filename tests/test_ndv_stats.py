"""NDV sketches in the manifest log (r11) and the sketch-driven join
advice.

Every commit records, per added file, a small HyperLogLog register
set plus a top-K heavy-hitter summary for the leading stats columns
(manifest._sketch_files — ONE executor-side Spark job over the
commit's added set, r12; the driver merges only bounded register/
top-K summaries and never reads data). Sketches merge
across files like min/max (register-wise max / count-sum), so
table-wide distinct counts and top-key mass are answerable from the
log with ZERO data I/O at plan time — the statistic min/max ranges
cannot provide, and the one join_plan_advice needed to stop
mispredicting:

- broadcast vs shuffle decided from ESTIMATED IN-MEMORY build size
  (disk bytes x measured column redundancy = dictionary/RLE
  compressibility), so a tiny-on-disk but dense-in-memory side flips
  broadcast -> shuffle where bytes alone said broadcast;
- skew flagged from the merged heavy hitters (salting / AQE hint);
- join output cardinality estimated via the containment assumption.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import (
    join_plan_advice,
    write_range_clustered,
)
from data_pipeline_project_spark.sinks.manifest import (
    analyze_table,
    append_snapshot,
    hll_estimate,
    merge_upsert,
    read_manifest,
    table_column_ndv,
    write_versioned_manifest,
)


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def test_sketches_recorded_and_merge_within_hll_error(spark, tmp_path):
    """Exact distinct counts vs the log's merged estimate across a
    bootstrap + append + merge history: every estimate within the
    m=128 HLL envelope (~3 standard errors = 28%), small cardinalities
    near-exact via linear counting."""
    path = str(tmp_path / "t")
    base = spark.range(0, 40_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 500).alias("v"),
        F.format_string("cat-%d", F.col("id") % 23).alias("s"),
    )
    write_range_clustered(base, path, "k", 4)
    write_versioned_manifest(path)
    # bootstrap is metadata-only by contract: ANALYZE backfills the
    # sketches for the bootstrap-era files; later commits sketch their
    # own added files inline
    analyze_table(path)
    append_snapshot(
        spark,
        path,
        spark.range(100_000, 103_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 500 + 500).alias("v"),
            F.lit("cat-new").alias("s"),
        ),
    )
    merge_upsert(
        spark, path, "k",
        spark.range(10, 30).select(
            F.col("id").alias("k"), F.lit(-1).alias("v"),
            F.lit("cat-m").alias("s"),
        ),
    )

    live = spark.read.parquet(path)
    for col in ("k", "v", "s"):
        exact = live.select(col).distinct().count()
        got = table_column_ndv(path, col)
        assert got is not None and got["coverage"] == 1.0, col
        if exact <= 300:
            assert abs(got["ndv"] - exact) <= max(3, 0.1 * exact), (
                col, exact, got["ndv"],
            )
        else:
            assert abs(got["ndv"] - exact) / exact <= 0.28, (
                col, exact, got["ndv"],
            )


def test_heavy_hitter_summary_captures_skew(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 50_000).select(
        F.when(F.rand(7) < 0.4, F.lit(42))
        .otherwise(F.col("id") % 2_000)
        .alias("k"),
        F.lit(1).alias("v"),
    )
    df.coalesce(3).write.parquet(path)
    write_versioned_manifest(path)
    analyze_table(path)
    got = table_column_ndv(path, "k")
    top_v, top_n = got["top"][0]
    assert top_v == 42
    # merged top counts are lower bounds but 42 leads in every file,
    # so its count is exact here
    exact = df.where(F.col("k") == 42).count()
    assert top_n == exact


def test_advice_ndv_flip_broadcast_to_shuffle(spark, tmp_path):
    """The r11 'done' fixture: a side small enough ON DISK to
    broadcast whose columns are massively redundant — dictionary/RLE
    hides a build table that will not fit. Bytes+ranges alone say
    broadcast; the sketch flips to shuffle. A control table of the
    same disk size with diverse columns stays broadcast at the same
    threshold."""
    fact = str(tmp_path / "fact")
    dense = str(tmp_path / "dense")
    control = str(tmp_path / "control")
    write_range_clustered(
        spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("x")
        ),
        fact, "k", 8,
    )
    write_versioned_manifest(fact)
    analyze_table(fact)
    # dense: every column low-NDV -> redundancy >> 1 (key included:
    # a 16-value join key repeated 30k times)
    spark.range(0, 30_000).select(
        (F.col("id") % 16).alias("k"),
        (F.col("id") % 4).alias("a"),
        (F.col("id") % 2).alias("b"),
    ).coalesce(1).write.parquet(dense)
    write_versioned_manifest(dense)
    analyze_table(dense)
    # control: same shape, all columns distinct
    spark.range(0, 30_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 3 + 1).alias("a"),
        (F.col("id") * 7 + 2).alias("b"),
    ).coalesce(1).write.parquet(control)
    write_versioned_manifest(control)
    analyze_table(control)

    # per-table thresholds set just above each side's DISK size: the
    # byte rule alone says broadcast in both cases — only the measured
    # redundancy separates them
    dense_thresh = _latest(dense)["files"][0]["bytes"] + 1
    control_thresh = _latest(control)["files"][0]["bytes"] + 1

    adv = join_plan_advice(fact, dense, "k", broadcast_bytes=dense_thresh)
    assert adv["bytes_b"] < dense_thresh  # bytes alone said broadcast
    assert adv["strategy"] == "shuffle"
    assert adv["est_inmem_b"] > dense_thresh
    assert any("would not fit" in n for n in adv["notes"])

    adv_c = join_plan_advice(
        fact, control, "k", broadcast_bytes=control_thresh
    )
    assert adv_c["strategy"] == "broadcast" and adv_c["build_side"] == "b"


def test_advice_flags_skew_and_estimates_cardinality(
    spark, tmp_path
):
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    # fact: 60k rows, 40% on key 5 — the AQE-skew case
    spark.range(0, 60_000).select(
        F.when(F.rand(3) < 0.4, F.lit(5))
        .otherwise(F.col("id") % 1_000)
        .alias("k"),
        F.col("id").alias("payload"),
    ).coalesce(4).write.parquet(fact)
    write_versioned_manifest(fact)
    analyze_table(fact)
    spark.range(0, 1_000).select(
        F.col("id").alias("k"), F.col("id").alias("z")
    ).coalesce(1).write.parquet(dim)
    write_versioned_manifest(dim)
    analyze_table(dim)

    adv = join_plan_advice(fact, dim, "k", broadcast_bytes=0)
    assert adv["strategy"] == "shuffle"
    assert adv["skew_side"] == "a" and adv["skew_key"] == 5
    assert adv["skew_mass"] >= 0.35
    # containment estimate: 60k x 1k / max(ndv) ~ 60k (each fact row
    # matches exactly one dim row) — allow the HLL envelope
    assert adv["est_join_rows"] == pytest.approx(60_000, rel=0.3)


def test_advice_is_metadata_only(spark, tmp_path, monkeypatch):
    """ZERO data I/O at plan time: with every data-reading entry
    point poisoned (DuckDB scans, pyarrow footer/data reads), the
    advice still answers entirely from the log."""
    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    write_range_clustered(
        spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("x")
        ),
        fact, "k", 4,
    )
    write_versioned_manifest(fact)
    analyze_table(fact)
    spark.range(0, 300).select(
        F.col("id").alias("k"), F.lit("d").alias("name")
    ).coalesce(1).write.parquet(dim)
    write_versioned_manifest(dim)
    analyze_table(dim)

    import duckdb
    import pyarrow.parquet as pq

    def _boom(*a, **k):
        raise AssertionError("advice touched data, not metadata")

    monkeypatch.setattr(duckdb, "sql", _boom)
    monkeypatch.setattr(duckdb, "execute", _boom, raising=False)
    monkeypatch.setattr(pq, "read_metadata", _boom)
    monkeypatch.setattr(pq, "read_table", _boom)

    adv = join_plan_advice(fact, dim, "k")
    assert adv["strategy"] == "broadcast"
    assert adv["ndv_a"] and adv["ndv_b"]
    assert adv["est_join_rows"] > 0


def test_commit_and_analyze_never_read_data_on_the_driver(
    spark, tmp_path, monkeypatch
):
    """The r12 'done' gate for the r11 weak mark: with every
    DRIVER-side data-reading entry point poisoned (DuckDB scans,
    pyarrow data reads — footer metadata stays allowed), a sketching
    commit AND a full ANALYZE still work: the scan runs on executors,
    the driver only merges bounded summaries."""
    import duckdb
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("v")
    ).coalesce(2).write.parquet(path)
    write_versioned_manifest(path)

    def _boom(*a, **k):
        raise AssertionError("driver touched data, not metadata")

    monkeypatch.setattr(duckdb, "sql", _boom)
    monkeypatch.setattr(duckdb, "execute", _boom, raising=False)
    monkeypatch.setattr(pq, "read_table", _boom)
    monkeypatch.setattr(pq, "ParquetFile", _boom)

    res = analyze_table(path)  # executor-side backfill
    assert res["files_analyzed"] == 2
    append_snapshot(  # executor-side inline sketch on the commit path
        spark, path,
        spark.range(10_000, 12_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).coalesce(1),
        key_col="k",
    )
    m = _latest(path)
    assert all(f.get("ndv") for f in m["files"])
    assert any((f.get("bloom") or {}).get("k") for f in m["files"])
    got = table_column_ndv(path, "k")
    assert got["coverage"] == 1.0
    assert abs(got["ndv"] - 7_000) / 7_000 <= 0.28


def test_collect_ndv_gate_and_bootstrap_is_metadata_only(spark, tmp_path):
    """Bootstrap NEVER sketches (the listing path stays metadata-only
    — sketching there would data-scan the whole table); appends sketch
    their added file unless collect_ndv=False; analyze_table
    backfills the bootstrap era explicitly."""
    path = str(tmp_path / "t")
    spark.range(0, 1_000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    assert "ndv" not in _latest(path)["files"][0]

    append_snapshot(
        spark, path,
        spark.createDataFrame([(5000, 2)], "k long, v long"),
        collect_ndv=False,
    )
    assert not any(f.get("ndv") for f in _latest(path)["files"])
    assert table_column_ndv(path, "k") is None

    append_snapshot(
        spark, path,
        spark.createDataFrame([(6000, 3)], "k long, v long"),
    )
    got = table_column_ndv(path, "k")
    assert got is not None and got["coverage"] < 1.0  # bootstrap gap
    res = analyze_table(path)
    assert res["files_analyzed"] == 2  # bootstrap + gated-off append
    got = table_column_ndv(path, "k")
    assert got["coverage"] == 1.0
    assert abs(got["ndv"] - 1002) / 1002 < 0.28
    # idempotent: nothing left to analyze
    assert analyze_table(path)["files_analyzed"] == 0


def test_hll_estimator_exactness_small_range():
    # linear counting regime: distinct register hits ~= distinct values
    regs = [0] * 128
    for i in (3, 17, 40, 99):
        regs[i] = 5
    assert abs(hll_estimate(regs) - 4) <= 1
