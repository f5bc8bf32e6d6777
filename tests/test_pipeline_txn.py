"""The transactional raw+agg streaming pipeline
(streaming/pipeline_txn.py) — the reference's pipeline.py:246-259
(one MySQL transaction: insert the validated batch into sensor_data
AND upsert sensor_aggregates; rollback both on error), end to end
over the lakehouse.

Contracts:

- per batch, raw rows and their aggregates publish ATOMICALLY;
- exactly-once across replays AND crashes: a batch whose transaction
  published is skipped on replay (both tables); one that aborted or
  crashed in-doubt left nothing visible and its replay redoes both —
  in particular, the stream_append stamp on an UNPUBLISHED staged
  slot must never advance the high-water mark (that was the r11
  crash-window hole: a crashed coordinator's staged raw slot carries
  the stamp, and trusting it would silently drop the batch);
- the full streaming run (real checkpointed query) converges to the
  same state as a sequential no-transaction reference.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.manifest import (
    read_version,
    snapshot_rowcount,
    write_versioned_manifest,
)
from data_pipeline_project_spark.streaming.pipeline_txn import (
    sensor_batch_aggregates,
    start_txn_pipeline_stream,
    txn_pipeline_batch_fn,
)


@pytest.fixture(autouse=True)
def _fast_grace():
    prev = M.TXN_INDOUBT_GRACE_SECS
    M.TXN_INDOUBT_GRACE_SECS = 0.05
    yield
    M.TXN_INDOUBT_GRACE_SECS = prev
    M._clear_active_txn()


def _pair(spark, tmp_path):
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    spark.createDataFrame(
        [(0, 1.0)], "sensor_id long, temperature double"
    ).write.parquet(raw)
    write_versioned_manifest(raw)
    spark.createDataFrame(
        [(0, 1, 1.0, 1.0, 1.0)],
        "sensor_id long, record_count long, min_temperature double, "
        "max_temperature double, avg_temperature double",
    ).write.parquet(agg)
    write_versioned_manifest(agg)
    return raw, agg


def _batch(spark, i, n=50):
    return spark.range(i * n, (i + 1) * n).select(
        (F.col("id") % 5).alias("sensor_id"),
        (F.col("id") % 40 + 10.0).alias("temperature"),
    )


def test_batches_publish_pair_atomically_and_replay_skips(
    spark, tmp_path
):
    raw, agg = _pair(spark, tmp_path)
    fn = txn_pipeline_batch_fn(spark, raw, agg, "sensor_id", "s1")
    for i in range(3):
        fn(_batch(spark, i), i)
    assert snapshot_rowcount(raw) == 1 + 3 * 50
    aggs = {r.sensor_id: r.record_count
            for r in read_version(spark, agg).collect()}
    assert aggs[1] == 10  # last batch's per-key count (merge replaces)
    # the raw appends commit sketch-free: no NDV read-back per batch
    head = M.read_manifest(os.path.join(raw, "_manifests", "latest.json"))
    assert len(head["files"]) > 1
    assert not any("ndv" in f for f in head["files"])

    fn(_batch(spark, 1), 1)  # replay
    assert fn.results[-1]["replayed"] is True
    assert snapshot_rowcount(raw) == 1 + 3 * 50

    # restart (fresh closure) recovers the mark through the txn stamps
    fn2 = txn_pipeline_batch_fn(spark, raw, agg, "sensor_id", "s1")
    fn2(_batch(spark, 2), 2)
    assert fn2.results[-1]["replayed"] is True


@pytest.mark.parametrize(
    "crash_after", ["raw_prepare", "agg_prepare", "publish"]
)
def test_crash_windows_converge_exactly_once(
    spark, tmp_path, crash_after
):
    """Kill the coordinator at each protocol point, run recovery, then
    REPLAY the batch (what the stream's checkpoint does). The pair
    must hold exactly one copy of the batch — published crashes skip
    the replay, unpublished ones redo it."""
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        merge_upsert,
    )
    from data_pipeline_project_spark.sinks.txn import transaction

    raw, agg = _pair(spark, tmp_path)
    batch = _batch(spark, 0)
    stamp = {"stream_append": {"sink_id": "s1", "batch_id": 0}}

    t = transaction([raw, agg]).__enter__()
    try:
        append_snapshot(spark, raw, batch, commit_extra=stamp)
        if crash_after != "raw_prepare":
            merge_upsert(
                spark, agg, "sensor_id",
                sensor_batch_aggregates(batch, "sensor_id"),
            )
        if crash_after == "publish":
            os.makedirs(os.path.dirname(t.marker), exist_ok=True)
            assert M.get_log_store().publish_once(
                t.marker,
                json.dumps({"outcome": "committed", "id": t.txn_id}),
            )
    finally:
        t.simulate_crash()  # coordinator dies here

    M.recover_to_last_manifest(raw)
    M.recover_to_last_manifest(agg)

    # the restarted sink replays batch 0
    fn = txn_pipeline_batch_fn(spark, raw, agg, "sensor_id", "s1")
    fn(batch, 0)
    published = crash_after == "publish"
    assert fn.results[-1]["replayed"] is published
    # exactly one copy either way
    assert snapshot_rowcount(raw) == 1 + 50
    aggs = {r.sensor_id: r.record_count
            for r in read_version(spark, agg).collect()}
    assert aggs[1] == 10


def test_streaming_query_end_to_end(spark, tmp_path):
    raw, agg = _pair(spark, tmp_path)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for b in range(4):
        rows = [
            {"sensor_id": (b + j) % 5, "temperature": 10.0 + b * 3 + j}
            for j in range(25)
        ]
        with open(os.path.join(src, f"b{b}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))
    source = (
        spark.readStream.schema("sensor_id long, temperature double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_txn_pipeline_stream(
        spark, source, raw, agg, "sensor_id",
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert snapshot_rowcount(raw) == 1 + 100
    assert not any(r.get("replayed") for r in q.batch_results)
    # every published batch's pair is auditable in both histories
    raw_hist = M.table_history(raw)
    assert sum(
        1 for e in raw_hist if e.get("atomic_txn", {}).get("outcome")
        == "committed"
    ) == len([e for e in raw_hist if e.get("app")])
