"""The reference's end-to-end transactional pipeline, streaming
edition: per micro-batch, the validated rows APPEND to the raw table
and the recomputed aggregates MERGE into the aggregate table — BOTH
inside one cross-table atomic transaction, exactly the reference's
``pipeline.py:246-259`` (one MySQL transaction inserts sensor_data
and upserts sensor_aggregates, rolling back both on any error),
re-expressed over the manifest lakehouse.

Guarantees, end to end:

- ATOMIC PAIR: a reader never observes the raw rows without their
  aggregates or vice versa — the transaction's single marker flips
  both heads (sinks/txn.py); a crash anywhere converges to
  both-or-neither through ordinary recovery.
- EXACTLY-ONCE: the raw commit's app metadata carries the
  ``{"stream_append": {sink_id, batch_id}}`` stamp (atomic with the
  file set AND with the pair — the stamp is only visible once the
  marker published). A replayed batch is detected from the raw
  table's committed history and skipped for BOTH tables; a batch
  whose transaction aborted left nothing visible, so its replay
  redoes both. The stamp-on-raw is sufficient: stamp visible <=>
  marker committed <=> aggregates landed too.
- CONCURRENCY: each per-batch transaction is an ordinary optimistic
  writer pair — other writers (maintenance, another sink) interleave
  under the intent rules; a presumed-abort by a concurrent writer
  surfaces as a retriable batch failure, and the stream's checkpoint
  replays it.

At 100 TB: per batch = one O(churn) append + one zone-map-targeted
merge + one marker write; nothing scales with table size. The raw
append commits sketch-free (``collect_ndv=False``, as in
streaming/lakehouse_ingest.py); ``analyze_table`` sketches its
files. The aggregate recompute is per-batch-group (incremental), not
a global rollup — the same incremental contract the reference's
per-file aggregate upsert has.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_project_spark.streaming.lakehouse_ingest import (
    _last_committed_batch,
)


def sensor_batch_aggregates(batch: DataFrame, key_col: str) -> DataFrame:
    """The reference's per-batch aggregate shape (pipeline.py:85-144):
    per key — count, min/max/mean of the metric columns present.
    Generic over numeric columns so the twin tables stay
    schema-agnostic; callers with custom rollups pass their own
    ``agg_builder``."""
    metrics = [
        f.name
        for f in batch.schema.fields
        if f.name != key_col and f.dataType.typeName() in (
            "double", "float", "long", "integer", "short",
        )
    ]
    aggs = [F.count(F.lit(1)).alias("record_count")]
    for m in metrics:
        aggs += [
            F.min(m).alias(f"min_{m}"),
            F.max(m).alias(f"max_{m}"),
            F.avg(m).alias(f"avg_{m}"),
        ]
    return batch.groupBy(key_col).agg(*aggs)


def txn_pipeline_batch_fn(
    spark,
    raw_path: str,
    agg_path: str,
    key_col: str,
    sink_id: str,
    agg_builder=None,
):
    """The foreachBatch closure (factored out so tests drive replays
    and crash injection directly). Each call runs ONE atomic
    raw-append + agg-merge transaction; outcomes ride
    ``closure.results``."""
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        merge_upsert,
    )
    from data_pipeline_project_spark.sinks.txn import transaction

    builder = agg_builder or sensor_batch_aggregates
    state = {"last": None}
    results: list[dict] = []

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if state["last"] is None:
            state["last"] = _last_committed_batch(raw_path, sink_id)
        if batch_id <= state["last"]:
            # the stamp is only readable once the pair PUBLISHED, so a
            # skip here means raw AND agg both committed — never half
            results.append({"batch_id": batch_id, "replayed": True})
            return
        stamp = {
            "stream_append": {"sink_id": sink_id, "batch_id": batch_id}
        }
        aggs = builder(batch, key_col)
        with transaction([raw_path, agg_path]) as t:
            res = append_snapshot(
                spark, raw_path, batch, commit_extra=stamp,
                collect_ndv=False,
            )
            mres = merge_upsert(spark, agg_path, key_col, aggs)
        state["last"] = batch_id
        results.append(
            {
                "batch_id": batch_id,
                "replayed": False,
                "txn": t.txn_id,
                "rows_appended": res["rows_appended"],
                "groups_merged": mres["rows_updated"] + mres["rows_inserted"],
            }
        )

    _apply.results = results  # type: ignore[attr-defined]
    return _apply


def start_txn_pipeline_stream(
    spark,
    source: DataFrame,
    raw_path: str,
    agg_path: str,
    key_col: str,
    checkpoint_dir: str,
    sink_id: str | None = None,
    agg_builder=None,
):
    """Start (and return) the streaming query running the reference's
    transactional raw+agg pipeline per micro-batch (availableNow).
    Both tables must exist (bootstrap them with
    write_versioned_manifest); per-batch outcomes ride
    ``q.batch_results``."""
    if sink_id is None:
        sink_id = hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:12]
    fn = txn_pipeline_batch_fn(
        spark, raw_path, agg_path, key_col, sink_id,
        agg_builder=agg_builder,
    )
    q = (
        source.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.batch_results = fn.results  # type: ignore[attr-defined]
    return q
