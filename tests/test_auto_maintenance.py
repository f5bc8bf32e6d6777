"""Auto-maintenance under continuous ingest (r11): the streaming
writers trigger a conflict-safe run_maintenance every N committed
batches, so a table under 1-batch-per-second ingest does not
accumulate 86,400 small files a day and an unbounded snapshot log.

Contracts:

- zero divergence: row content after an ingest+auto-optimize run is
  exactly the union of the batches (maintenance is row-preserving);
- the small-file count is BOUNDED over a long run (far below one
  file per batch) and the snapshot log stays delta-encoded;
- exactly-once survives: a replayed batch is still skipped with
  maintenance interleaved;
- a maintenance pass losing to a concurrent writer is swallowed
  (recorded, not raised) and the stream keeps committing;
- the CDC applier's hook converges to the same state as the same
  changes applied without maintenance.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.manifest import (
    read_manifest,
    read_version,
    snapshot_rowcount,
)
from data_pipeline_project_spark.streaming.lakehouse_ingest import (
    ManifestTableSink,
)

# aggressive thresholds so a short test run crosses them the way a
# day of production micro-batches would
_T = {"small_file_fraction": 0.3, "log_amplification": 3.0}


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def _batch(spark, i, n=200):
    return spark.range(i * n, (i + 1) * n).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )


def test_ingest_with_auto_maintenance_bounded_and_exact(spark, tmp_path):
    path = str(tmp_path / "t")
    fn = ManifestTableSink(
        spark, path, "sink-a",
        maintenance_every=5, maintenance_thresholds=_T,
    )
    n_batches = 20
    for i in range(n_batches):
        fn(_batch(spark, i).coalesce(1), i)

    # zero divergence: exact union of every batch
    assert snapshot_rowcount(path) == n_batches * 200
    got = sorted(r.k for r in read_version(spark, path).collect())
    assert got == list(range(n_batches * 200))

    # bounded files: without maintenance this is >= n_batches parts;
    # with it, compaction keeps the live set small
    n_files = _latest(path)["n_files"]
    assert n_files < n_batches / 2, n_files

    ran = [
        r["maintenance"] for r in fn.results if "maintenance" in r
    ]
    assert len(ran) == n_batches // 5
    assert any("compact" in (m.get("executed") or []) for m in ran)


def test_replay_skipped_with_maintenance_interleaved(spark, tmp_path):
    path = str(tmp_path / "t")
    fn = ManifestTableSink(
        spark, path, "sink-a",
        maintenance_every=2, maintenance_thresholds=_T,
    )
    for i in range(6):
        fn(_batch(spark, i).coalesce(1), i)
    fn(_batch(spark, 3).coalesce(1), 3)  # checkpoint-rollback replay
    assert snapshot_rowcount(path) == 6 * 200
    assert fn.results[-1]["replayed"] is True
    # a fresh sink instance (restart) recovers the high-water mark
    # through the maintenance commits' version churn
    fn2 = ManifestTableSink(spark, path, "sink-a")
    fn2(_batch(spark, 5).coalesce(1), 5)
    assert fn2.results[-1]["replayed"] is True
    assert snapshot_rowcount(path) == 6 * 200


def test_maintenance_conflict_swallowed(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    from data_pipeline_project_spark.sinks import layout as L

    def _lose(*a, **k):
        raise M.ConcurrentSnapshotError("injected loss")

    monkeypatch.setattr(L, "run_maintenance", _lose)
    fn = ManifestTableSink(
        spark, path, "sink-a", maintenance_every=2
    )
    for i in range(4):
        fn(_batch(spark, i).coalesce(1), i)
    skipped = [
        r["maintenance"] for r in fn.results if "maintenance" in r
    ]
    assert skipped and all("skipped" in m for m in skipped)
    assert snapshot_rowcount(path) == 4 * 200  # ingest never stalled


def test_cdc_apply_with_maintenance_converges(spark, tmp_path):
    from data_pipeline_project_spark.sinks.layout import (
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.streaming.cdc_apply import (
        apply_cdc_stream,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "tgt")
    ref = str(tmp_path / "ref")
    for t in (target, ref):
        write_range_clustered(
            spark.range(0, 500).select(
                F.col("id").alias("k"), F.lit(0).alias("v"),
                F.lit(0).alias("seq"),
            ).drop("seq"),
            t, "k", 3,
        )
        write_versioned_manifest(t)

    os.makedirs(src)
    import json

    for b in range(6):
        rows = [
            {"k": (b * 37 + j) % 600, "v": b * 100 + j, "seq": b * 10 + j}
            for j in range(8)
        ]
        with open(os.path.join(src, f"b{b}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))

    changes = (
        spark.readStream.schema("k long, v long, seq long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = apply_cdc_stream(
        spark, changes, target, "k", "seq",
        str(tmp_path / "ckpt"),
        maintenance_every=2, maintenance_thresholds=_T,
    )
    q.awaitTermination(180)

    # sequential reference: same collapsed changes, no maintenance
    from data_pipeline_project_spark.sinks.manifest import merge_upsert
    from data_pipeline_project_spark.streaming.cdc_apply import (
        collapse_last_write_wins,
    )

    for b in range(6):
        batch = spark.read.schema("k long, v long, seq long").json(
            os.path.join(src, f"b{b}.json")
        )
        merge_upsert(
            spark, ref, "k",
            collapse_last_write_wins(batch, "k", "seq").drop("seq"),
        )

    got = sorted(map(tuple, read_version(spark, target).collect()))
    want = sorted(map(tuple, read_version(spark, ref).collect()))
    assert got == want
    assert any("maintenance" in s for s in q.applied_stats)
