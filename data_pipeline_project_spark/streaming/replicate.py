"""Continuous cross-table replication: a manifest table follows another
through the change-data-feed stream.

Composes the two halves the lakehouse tier already has — the
``tablechanges`` streaming source (one micro-batch step per committed
source version, rows tagged insert/delete) and the idempotent
merge/delete writers — into the standing replica pattern: every source
commit becomes, in order, a delete-by-key pass and an upsert on the
replica, each pinning its own snapshot version. The replica is
therefore itself a first-class manifest table (time-travelable,
CDF-readable, cloneable), and chains: a replica can drive further
replicas off its OWN change feed.

Exactly-once without distributed transactions, the same argument as
``cdc_apply``: the stream checkpoint dedups batch DELIVERY, and a
REPLAYED batch re-deletes absent keys (no-op) and re-merges the same
rows (idempotent), converging to the same replica state.

At 100 TB: per source commit the replica does zone-map-pruned
copy-on-write proportional to that commit's churn — the feed step
reads O(churn), the delete/merge rewrite O(matched files). A backfill
commit whose keys blanket the table flips the merge onto the bulk
plan via ``rewrite="auto"``, same as cdc_apply.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def replicate_table_stream(
    spark,
    src_path: str,
    dst_path: str,
    key_col: str,
    checkpoint_dir: str,
    starting_version: int = 0,
):
    """Start (and return) the streaming query replicating ``src_path``'s
    committed changes into ``dst_path``. Uses availableNow via the
    returned query's trigger (set by the caller's awaitTermination
    pattern); ``q.applied_versions`` records the source versions
    applied this run. The replica bootstraps from the first consumed
    version's inserts if ``dst_path`` does not exist yet."""
    from data_pipeline_project_spark.sinks.manifest import (
        delete_rows_targeted,
        merge_upsert,
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    applied: list[int] = []

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # a micro-batch may span several source commits: apply them in
        # commit order, each as delete-pass-then-upsert (an update is
        # delete(old)+insert(new) sharing the key, so this order is the
        # one that converges)
        versions = sorted(
            r._commit_version
            for r in batch.select("_commit_version").distinct().collect()
        )
        for v in versions:
            step = batch.where(F.col("_commit_version") == v)
            dels = step.where(F.col("_change_type") == "delete").select(key_col)
            ins = step.where(F.col("_change_type") == "insert").drop(
                "_change_type", "_commit_version"
            )
            if not os.path.isdir(os.path.join(dst_path, "_manifests")):
                ins.write.mode("overwrite").parquet(dst_path)
                write_versioned_manifest(dst_path)
            else:
                if dels.limit(1).count():
                    delete_rows_targeted(
                        spark, dst_path, key_col, dels, commit=True
                    )
                if ins.limit(1).count():
                    # Schema evolution follows the feed: when the source
                    # evolved, a restarted stream reads the feed under
                    # the source's pinned schema and the replica evolves
                    # through the same merge (add-column/widen rules in
                    # merge_upsert; a RUNNING stream keeps its start-time
                    # schema — restart to pick up evolution, the Delta
                    # CDF contract).
                    from data_pipeline_project_spark.sinks.manifest import (
                        _TYPE_WIDENINGS,
                        table_schema,
                    )

                    rep_fields = {
                        f.name: f.dataType
                        for f in table_schema(spark, dst_path).fields
                    }
                    # evolution isn't only new COLUMNS: a source that
                    # widened a type (int -> bigint) ships no new names,
                    # and a non-evolving merge would cast feed values
                    # DOWN to the replica's narrow type — silently
                    # wrapping/nulling out-of-range values. Widened
                    # TYPES must trip evolution too.
                    widened = any(
                        f.name in rep_fields
                        and f.dataType != rep_fields[f.name]
                        and (
                            rep_fields[f.name].simpleString(),
                            f.dataType.simpleString(),
                        )
                        in _TYPE_WIDENINGS
                        for f in ins.schema.fields
                    )
                    merge_upsert(
                        spark, dst_path, key_col, ins, rewrite="auto",
                        schema_evolution=widened
                        or not set(ins.columns) <= set(rep_fields),
                    )
            applied.append(v)

    q = (
        spark.readStream.format("tablechanges")
        .option("path", src_path)
        .option("starting_version", starting_version)
        .load()
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.applied_versions = applied  # type: ignore[attr-defined]
    return q
