"""Streaming lakehouse ingest (streaming/lakehouse_ingest.py):
micro-batches commit as intent-stamped optimistic appends, exactly
once across replays and restarts, coexisting with concurrent writers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    read_manifest,
    read_version,
    snapshot_versions,
    write_versioned_manifest,
)
from data_pipeline_project_spark.streaming.lakehouse_ingest import (
    ManifestTableSink,
    start_lakehouse_append_stream,
)

SCHEMA = "k long, v long"


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(1)


def _ndv_coverage(table):
    from data_pipeline_project_spark.sinks.manifest import _ndv_is_current

    files = read_manifest(
        os.path.join(table, "_manifests", "latest.json")
    )["files"]
    return sum(1 for f in files if _ndv_is_current(f)) / len(files)


def _write_source_file(spark, src_dir, lo, hi):
    _batch(spark, lo, hi).write.mode("append").parquet(src_dir)


def test_stream_appends_exactly_once_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _write_source_file(spark, src, 0, 100)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_lakehouse_append_stream(spark, stream, table, ckpt)
    q.awaitTermination(120)
    assert read_version(spark, table).count() == 100
    v1 = snapshot_versions(table)[-1]

    # new source data; restart on the SAME checkpoint: only the new
    # file is consumed, committed as an optimistic append with a txn
    # intent and a stream_append stamp
    _write_source_file(spark, src, 100, 150)
    stream2 = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = start_lakehouse_append_stream(spark, stream2, table, ckpt)
    q2.awaitTermination(120)
    live = read_version(spark, table)
    assert live.count() == 150
    assert live.select("k").distinct().count() == 150  # no double-append

    head = read_manifest(os.path.join(table, "_manifests", "latest.json"))
    assert head["txn"]["op"] == "append" and head["txn"]["inserts_only"]
    assert head["app"]["stream_append"]["batch_id"] >= 1
    assert snapshot_versions(table)[-1] > v1

    # a third restart with NO new data: no commit at all
    v_before = snapshot_versions(table)[-1]
    stream3 = spark.readStream.schema(SCHEMA).parquet(src)
    q3 = start_lakehouse_append_stream(spark, stream3, table, ckpt)
    q3.awaitTermination(120)
    assert snapshot_versions(table)[-1] == v_before


def test_batch_replay_is_a_noop(spark, tmp_path):
    """foreachBatch may replay a batch after a checkpoint rollback:
    the committed batch_id high-water mark makes the replay a no-op —
    including on a COLD sink that must recover the mark from the
    manifest history."""
    table = str(tmp_path / "table")
    spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).write.parquet(table)
    write_versioned_manifest(table)

    fn = ManifestTableSink(spark, table, "sinkA")
    b0 = spark.range(100, 120).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    fn(b0, 0)
    fn(b0, 1)  # a different batch id appends again
    assert read_version(spark, table).count() == 90
    assert [r["replayed"] for r in fn.results] == [False, False]

    # replay of batch 1 on the SAME sink: no-op
    fn(b0, 1)
    assert fn.results[-1]["replayed"] is True
    assert read_version(spark, table).count() == 90

    # cold sink (fresh instance, e.g. after a driver crash): recovers
    # the high-water mark from the manifests and still skips
    fn_cold = ManifestTableSink(spark, table, "sinkA")
    fn_cold(b0, 1)
    assert fn_cold.results[-1]["replayed"] is True
    assert read_version(spark, table).count() == 90

    # a DIFFERENT sink id is a different logical stream: it appends
    fn_b = ManifestTableSink(spark, table, "sinkB")
    fn_b(
        spark.range(200, 210).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        0,
    )
    assert read_version(spark, table).count() == 100
    # and sinkA's high-water mark survives sinkB's interleaved commit
    fn_a2 = ManifestTableSink(spark, table, "sinkA")
    fn_a2(b0, 1)
    assert fn_a2.results[-1]["replayed"] is True


def test_ingest_coexists_with_concurrent_merge(spark, tmp_path):
    """An ingest batch racing a targeted merge: both commit (the
    append's inserts_only intent commutes), nothing lost."""
    from data_pipeline_project_spark.sinks import manifest as M
    from data_pipeline_project_spark.sinks.layout import (
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import merge_upsert

    table = str(tmp_path / "table")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, table, "k", 3)
    write_versioned_manifest(table)

    fn = ManifestTableSink(spark, table, "sinkC")

    class _InterposeOnce:
        def __init__(self, run):
            self.run, self.fired, self.inside = run, False, False

        def __call__(self, version, mdir):
            if self.fired or self.inside:
                return
            self.fired = self.inside = True
            try:
                self.run()
            finally:
                self.inside = False

    def run_merge():
        merge_upsert(
            spark, table, "k",
            spark.createDataFrame([(5, -1)], SCHEMA),
        )

    M._test_claim_interposer = _InterposeOnce(run_merge)
    try:
        fn(
            spark.range(9000, 9010).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            ),
            0,
        )
    finally:
        M._test_claim_interposer = None
    live = read_version(spark, table)
    assert live.count() == 510
    assert {r.v for r in live.where("k = 5").collect()} == {-1}
    assert live.where("k >= 9000").count() == 10


def test_micro_batch_commit_runs_no_sketch_job(spark, tmp_path, monkeypatch):
    """A stream's micro-batch commit is its staged write, footer stats
    and the manifest write: no sketch job reads the new files back.
    A direct append_snapshot on the same table still sketches."""
    from data_pipeline_project_spark.sinks import manifest as M

    calls = []
    real = M._sketch_files

    def _counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(M, "_sketch_files", _counting)
    table = str(tmp_path / "table")
    fn = ManifestTableSink(spark, table, "sinkN", key_col="k")
    fn(_batch(spark, 0, 50), 0)  # bootstrap: listing-based, metadata-only
    fn(_batch(spark, 50, 100), 1)
    fn(_batch(spark, 100, 150), 2)
    assert calls == []
    head = read_manifest(os.path.join(table, "_manifests", "latest.json"))
    assert head["app"]["stream_append"]["batch_id"] == 2
    assert len(head["files"]) == 3
    assert not any("ndv" in f or "bloom" in f for f in head["files"])

    M.append_snapshot(spark, table, _batch(spark, 150, 200), key_col="k")
    assert calls == [1]
    head = read_manifest(os.path.join(table, "_manifests", "latest.json"))
    assert [f for f in head["files"] if "ndv" in f and "bloom" in f]


def test_maintenance_cycle_restores_sketch_coverage(spark, tmp_path):
    """The sink's own maintenance cycle brings sketch coverage back:
    every third batch compacts the micro-batch files and analyzes what
    is left, so the head is fully sketched right after it."""
    table = str(tmp_path / "table")
    fn = ManifestTableSink(
        spark, table, "sinkM", maintenance_every=3
    )
    cov = []
    for i in range(6):
        fn(_batch(spark, i * 100, (i + 1) * 100), i)
        cov.append(_ndv_coverage(table))
    assert cov[0] == 0.0 and cov[1] == 0.0
    assert cov[2] == 1.0 and cov[5] == 1.0
    assert cov[3] < 1.0 and cov[4] < 1.0
    ran = [
        r["maintenance"]["executed"] for r in fn.results if "maintenance" in r
    ]
    assert len(ran) == 2
    assert all({"compact", "analyze"} <= set(x) for x in ran), ran
    assert read_version(spark, table).count() == 600


def test_maintenance_on_a_stats_less_timestamp_key(spark, tmp_path):
    """Spark writes timestamps as INT96 by default, which carries no
    footer stats, so the log records no range for such a key. The
    sink's health audit then reads the footers itself, finds no range
    and goes on: the stream keeps committing with maintenance on."""
    table = str(tmp_path / "table")
    fn = ManifestTableSink(spark, table, "s1", key_col="ts", maintenance_every=1)
    for i in range(3):
        fn(
            spark.range(i * 10, (i + 1) * 10)
            .select(F.col("id").alias("k"), F.timestamp_seconds("id").alias("ts"))
            .coalesce(1),
            i,
        )
    head = read_manifest(os.path.join(table, "_manifests", "latest.json"))
    assert not any("ts" in (f.get("stats") or {}) for f in head["files"])
    assert [r["batch_id"] for r in fn.results if "maintenance" in r] == [0, 1, 2]
    assert read_version(spark, table).count() == 30
