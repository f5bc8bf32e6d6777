"""Streaming ingest into a manifest table: micro-batches commit as
intent-stamped optimistic APPENDS, exactly once.

This closes the loop the r10 commit-path work opened: a streaming
source (files, Kafka-shaped, CDC) lands in a lakehouse table through
``append_snapshot`` — O(added) footer reads per commit, an
``inserts_only`` txn intent, and therefore full coexistence with
concurrent writers (a merge, DV delete, compaction, or ANOTHER ingest
stream on the same table all commit; losers rebase). The alternatives
are both wrong at scale: a raw ``mode("append")`` parquet sink leaves
readers racing half-written files with no snapshot isolation, and a
listing-based commit per micro-batch costs O(table) footer reads a
thousand times a day.

Exactly-once, the honest mechanics: Structured Streaming's
``foreachBatch`` guarantees batch CONTENT determinism per batch_id
but may REPLAY a batch after a checkpoint rollback. The sink makes
the append idempotent by stamping every commit's app metadata with
``{"stream_append": {"sink_id": ..., "batch_id": N}}`` — atomic with
the file set — and skipping any batch at or below the highest
batch_id already committed for this sink. On restart the high-water
mark is recovered by walking the manifest history newest-first (one
JSON read per version until the sink's newest stamp is found); within
a run it is cached. Two DIFFERENT sinks (distinct sink_ids) on one
table interleave freely — their appends commute.

Sketches: a micro-batch commit is its staged write, footer stats
(min/max/nulls) and the manifest write — it passes
``collect_ndv=False``, so no second Spark job reads the just-written
files back for NDV/bloom sketches. Those files are short-lived:
the sink's ``maintenance_every`` cycle compacts them and sketches the
output inline, or runs its ``analyze`` action while coverage is
below ``ndv_coverage_min``; ``analyze_table`` backfills on demand.
Cheap stats at write time, distinct-value stats on ANALYZE — Delta
Lake's split.

Reference scope: the reference's streaming sink is per-file MySQL
inserts with a processed/ move (`pipeline.py:211-324`); this is that
idea's lakehouse counterpart with snapshot isolation.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame

from data_pipeline_project_spark.sinks.sinks import Sink


def _last_committed_batch(table_path: str, sink_id: str) -> int:
    """Highest batch_id this sink ever committed to the table, -1 if
    none: walk the snapshot history newest-first and stop at the first
    stamp carrying our sink_id (a sink's batch_ids are monotonic, so
    the newest stamp IS the high-water mark; other writers' commits
    in between are skipped)."""
    from data_pipeline_project_spark.sinks.manifest import (
        _txn2_outcome,
        read_manifest,
        snapshot_versions,
    )

    mdir = os.path.join(table_path, "_manifests")
    for v in reversed(snapshot_versions(table_path)):
        m = read_manifest(os.path.join(mdir, f"v{v}.json"), resolve=False)
        stamp = m.get("app", {}).get("stream_append")
        if stamp and stamp.get("sink_id") == sink_id:
            # a stamp on a cross-table-transaction slot counts ONLY
            # once the pair PUBLISHED: an aborted or in-doubt staged
            # version pinned nothing visible, so skipping its batch_id
            # would silently drop the batch on replay (the txn
            # pipeline's crash window)
            if m.get("txn2") and _txn2_outcome(m) != "committed":
                continue
            return int(stamp["batch_id"])
    return -1


class ManifestTableSink(Sink):
    """The stream's manifest-table sink: each epoch is one intent-stamped
    append, skipped when this ``sink_id`` already committed it. A
    ``Sink`` for ``run_sensor_stream`` and, called as ``fn(batch,
    batch_id)``, a ``foreachBatch`` function; each epoch's outcome is
    appended to ``.results``.

    ``key_col`` only stamps the appended rows' key range into the
    commit intent, so a concurrent keyed merge or delete over that
    range is a detected conflict (see ``append_snapshot``); it does not
    turn the append into an upsert.

    ``maintenance_every=N`` makes the table SELF-HEALING under
    continuous ingest: after every Nth committed batch the sink runs
    ``run_maintenance`` (audit -> plan -> act: per-partition
    compaction of exactly the micro-batch small files this sink
    produces, log compaction past the amplification threshold,
    vacuum past retention) with conflict-safe semantics — every
    maintenance commit carries its own row-preserving intent, and a
    loss to a concurrent writer is swallowed and retried at the next
    cycle, never surfaced into the stream. Without it, a
    1-batch-per-second ingest produces 86,400 small files a day and
    an unbounded snapshot log. Appends commit sketch-free (module
    docstring), so a table ingested without ``maintenance_every``
    needs ``analyze_table`` before join advice can use its NDVs."""

    def __init__(
        self,
        spark,
        table_path: str,
        sink_id: str,
        key_col: str | None = None,
        maintenance_every: int | None = None,
        maintenance_thresholds: dict | None = None,
    ):  # noqa: D107
        self.spark = spark
        self.table_path = table_path
        self.sink_id = sink_id
        self.key_col = key_col
        self.maintenance_every = maintenance_every
        self.maintenance_thresholds = maintenance_thresholds
        self.results: list[dict] = []
        self._last: int | None = None
        self._committed = 0

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self.write(batch, batch_id)

    def write(self, df: DataFrame, epoch_id: int) -> None:
        from data_pipeline_project_spark.sinks.manifest import (
            append_snapshot,
            snapshot_versions,
            write_versioned_manifest,
        )

        if self._last is None:
            self._last = _last_committed_batch(self.table_path, self.sink_id)
        if epoch_id <= self._last:
            # checkpoint-rollback replay: this batch's rows are already
            # pinned by an earlier commit — skip, don't double-append
            self.results.append({"batch_id": epoch_id, "replayed": True})
            return
        stamp = {"stream_append": {"sink_id": self.sink_id, "batch_id": epoch_id}}
        if not snapshot_versions(self.table_path):
            # first-ever commit: listing-based bootstrap (the table may
            # not exist yet; there is no head to delta against)
            df.write.mode("append").parquet(self.table_path)
            m = write_versioned_manifest(self.table_path, extra=stamp)
            res = {
                "version": m["version"],
                "files_added": m["n_files"],
                "rows_appended": m["total_rows"],
            }
        else:
            res = append_snapshot(
                self.spark, self.table_path, df, key_col=self.key_col,
                commit_extra=stamp, collect_ndv=False,
            )
        self._last = epoch_id
        self._committed += 1
        if self.maintenance_every and self._committed % self.maintenance_every == 0:
            res["maintenance"] = _maintain_best_effort(
                self.spark, self.table_path, self.key_col,
                self.maintenance_thresholds,
            )
        self.results.append({"batch_id": epoch_id, "replayed": False, **res})


# the function-style name perfbench's sink imports
lakehouse_append_batch_fn = ManifestTableSink


def _maintain_best_effort(
    spark, table_path: str, key_col, thresholds
) -> dict:
    """One conflict-safe maintenance pass: whatever the health audit
    says the table needs right now (usually: merge this sink's own
    micro-batch files, compact the log). A concurrent writer winning
    a race is NOT an ingest error — maintenance is best-effort and
    the next cycle sees the same (or less) debt."""
    from data_pipeline_project_spark.sinks.layout import run_maintenance
    from data_pipeline_project_spark.sinks.manifest import (
        ConcurrentSnapshotError,
    )

    try:
        out = run_maintenance(
            spark, table_path, key_col=key_col, thresholds=thresholds
        )
        return {
            "executed": [e.get("action") for e in out["executed"]],
        }
    except ConcurrentSnapshotError as e:  # lost to a concurrent writer
        return {"skipped": f"conflict: {e}"}


def start_lakehouse_append_stream(
    spark,
    source: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    sink_id: str | None = None,
    key_col: str | None = None,
    maintenance_every: int | None = None,
    maintenance_thresholds: dict | None = None,
):
    """Start (and return) the streaming query appending ``source``
    (a streaming DataFrame) into the manifest table at ``table_path``
    with availableNow semantics. ``sink_id`` defaults to a stable hash
    of the checkpoint location — the same checkpoint IS the same
    logical sink, surviving restarts. ``key_col`` opts the appends
    into serializable key-range checking against concurrent keyed
    merges/deletes (see append_snapshot). The per-batch outcomes ride
    ``q.batch_results``. ``maintenance_every=N`` triggers a
    conflict-safe run_maintenance after every Nth committed batch —
    see ManifestTableSink."""
    if sink_id is None:
        sink_id = hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:12]
    fn = ManifestTableSink(
        spark, table_path, sink_id, key_col,
        maintenance_every=maintenance_every,
        maintenance_thresholds=maintenance_thresholds,
    )
    q = (
        source.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.batch_results = fn.results  # type: ignore[attr-defined]
    return q
