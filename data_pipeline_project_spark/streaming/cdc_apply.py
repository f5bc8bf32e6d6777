"""Streaming CDC apply: a change stream merged continuously into a
versioned lakehouse table.

The missing third leg of the streaming tier (ingest appends —
corpus_ingest; windowed analytics — event_windows; this: UPSERTS): a
Structured Streaming source of change rows is applied to the parquet
table with the copy-on-write MERGE (``sinks/manifest.merge_upsert``)
once per micro-batch via ``foreachBatch`` — each batch rewrites only
the zone-map-matched files, appends the rest, and pins a new snapshot
version, so the table is ALWAYS a consistent version and every batch
is an auditable version bump with a change feed
(``snapshot_changes``).

Exactly-once without a transaction log: the streaming checkpoint
dedups batch DELIVERY (a committed epoch never re-fires), and a batch
REPLAYED after a crash re-merges the same keys with the same values —
merge_upsert replaces what it already wrote, converging to the same
state (the K2/K3 replay-idempotency principle, applied to upserts).
Within a batch, duplicate keys are collapsed LAST-WRITE-WINS by a
deterministic tie-break column before the merge (ANSI MERGE would
reject them; a change stream legitimately carries several updates to
one key per batch, so the apply layer resolves them by event order —
the resolution every CDC applier must pick explicitly, never
silently).

At 100 TB: the per-batch cost is zone-map pruning (metadata) + the
matched files' rewrite + one append — proportional to batch churn,
not table size. Keep batches small relative to the clustered file
count or the rewrite set degenerates to the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    delete_rows_dv,
    delete_rows_targeted,
    merge_upsert,
)


def collapse_last_write_wins(
    batch: DataFrame, key_col: str, order_col: str
) -> DataFrame:
    """Collapse duplicate keys within a CDC batch to the row with the
    highest ``order_col`` (sequence number, LSN, event time + id);
    equal order values fall back to a deterministic full-row hash so
    replays pick the same winner. Pure window + filter: one shuffle on
    the key."""
    # secondary tie-break: a content hash of the full row, so two
    # changes sharing the same sequence number still collapse to the
    # SAME winner on every retry/replay (arbitrary-but-stable beats
    # arbitrary-and-flapping; a well-formed CDC feed never ties).
    w = Window.partitionBy(key_col).orderBy(
        F.col(order_col).desc(),
        F.xxhash64(F.struct(*[F.col(c) for c in batch.columns])).desc(),
    )
    return (
        batch.withColumn("_cdc_rn", F.row_number().over(w))
        .where(F.col("_cdc_rn") == 1)
        .drop("_cdc_rn")
    )


def apply_cdc_stream(
    spark,
    changes: DataFrame,
    target_path: str,
    key_col: str,
    order_col: str,
    checkpoint_dir: str,
    rewrite: str = "auto",
    delete_col: str | None = None,
    delete_mode: str = "dv",
    maintenance_every: int | None = None,
    maintenance_thresholds: dict | None = None,
):
    """Start (and return) the streaming query applying ``changes`` (a
    streaming DataFrame whose schema matches the target table plus
    ``order_col``) to ``target_path``. Uses availableNow semantics via
    the caller's trigger choice; call ``.awaitTermination()`` or use
    ``trigger(availableNow=True)`` for drain-and-stop tests.

    ``rewrite`` passes through to merge_upsert. The default here is
    ``auto`` (not merge_upsert's ``targeted``): a CDC stream has no
    human watching batch shape, and a backfill/replay batch whose keys
    blanket the table would otherwise degrade into rewriting every
    file one at a time — auto flips those batches onto the bulk
    shuffle plan (merge_bulk) while steady-state trickle batches keep
    the zone-map-targeted path.

    ``delete_col`` names an optional boolean column marking DELETE
    change rows (a full CDC feed carries deletes, not just upserts);
    per batch, after the last-write-wins collapse, delete-winners are
    removed from the table BEFORE the upsert-winners merge.
    ``delete_mode`` picks the physics: ``dv`` (default — merge-on-read
    deletion vector, O(matched positions), the right plan for the
    high-frequency small deletes a CDC stream produces; replay is a
    no-op by construction) or ``targeted`` (copy-on-write rewrite of
    the matched files).

    ``maintenance_every=N``: after every Nth applied batch, run a
    conflict-safe run_maintenance pass (per-partition compaction of
    the merge churn, log compaction, DV materialization past the
    dead-row threshold) so the table self-heals under continuous CDC —
    losses to concurrent writers are swallowed and retried next cycle
    (see streaming/lakehouse_ingest._maintain_best_effort)."""
    if delete_mode not in ("dv", "targeted"):
        raise ValueError(f"delete_mode must be dv|targeted, got {delete_mode!r}")
    applied: list[dict] = []

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        collapsed = collapse_last_write_wins(batch, key_col, order_col).drop(
            order_col
        )
        stats = {"batch_id": batch_id, "rows_deleted": 0}
        if delete_col is not None:
            # a feed that leaves the flag NULL on upsert rows means "not
            # a delete" — both branches must coalesce, or NULL-flag rows
            # fall out of BOTH (where(flag) and where(~flag) each drop
            # NULLs) and the changes are silently lost
            flag = F.coalesce(F.col(delete_col), F.lit(False))
            dels = collapsed.where(flag).select(key_col)
            collapsed = collapsed.where(~flag).drop(delete_col)
            if dels.limit(1).count():
                if delete_mode == "dv":
                    d = delete_rows_dv(spark, target_path, key_col, dels)
                else:
                    # commit=True: the post-delete snapshot pins through
                    # the optimistic path (intent-stamped, multi-writer
                    # safe) instead of a listing-based manifest
                    d = delete_rows_targeted(
                        spark, target_path, key_col, dels, commit=True
                    )
                stats["rows_deleted"] = d["rows_deleted"]
        if not collapsed.isEmpty():
            stats.update(
                merge_upsert(
                    spark, target_path, key_col, collapsed, rewrite=rewrite
                )
            )
        stats["batch_id"] = batch_id
        if maintenance_every and (len(applied) + 1) % maintenance_every == 0:
            from data_pipeline_project_spark.streaming.lakehouse_ingest import (
                _maintain_best_effort,
            )

            stats["maintenance"] = _maintain_best_effort(
                spark, target_path, key_col, maintenance_thresholds
            )
        applied.append(stats)

    q = (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.applied_stats = applied  # type: ignore[attr-defined]
    return q
