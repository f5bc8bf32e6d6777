"""Cross-table atomic transactions — the reference's raw+aggregate
single-transaction commit (pipeline.py:246-259: one MySQL transaction
inserts the raw batch AND upserts the aggregates, rolling back both on
any error), re-expressed for the manifest lakehouse.

Usage — the reference's exact flow::

    from data_pipeline_project_spark.sinks.txn import transaction

    with transaction([raw_path, agg_path]):
        append_snapshot(spark, raw_path, validated_batch)
        merge_upsert(spark, agg_path, "sensor_id", new_aggs)
    # exiting publishes BOTH atomically; an exception aborts BOTH

Protocol (presumed-abort two-phase, one atomic decision point — see
the companion overview in sinks/manifest.py):

- inside the ``with`` block every optimistic commit on a participant
  table PREPARES: its version slot lands with a ``txn2`` stamp naming
  the shared marker file, and latest.json does NOT advance — the
  staged version is invisible to every reader;
- on clean exit the coordinator PUBLISHES: one atomic
  create-with-content of the marker (LogStore.publish_once) flips
  every participant to committed simultaneously, then heals each
  participant's latest.json (a crash between those two steps is
  repaired by the next read/write/recovery on any participant —
  committed_versions heals lagging caches);
- on exception (or explicit ``abort()``) the marker is decided
  "aborted" and each staged table is restored through
  recover_to_last_manifest — tombstoned originals return, staged
  files quarantine: the copy-on-write protocol never destroyed the
  pre-transaction bytes.

Concurrency: a writer that meets an in-doubt staged version gives the
coordinator TXN_INDOUBT_GRACE_SECS, then force-aborts through the
same atomic marker create — the coordinator's publish and the
writer's abort race to ONE slot, so exactly one outcome ever exists
(the losing coordinator's commit() raises and rolls back its staging).

Scope rules: a table may stage MULTIPLE commits per transaction
(r12) — the coordinator's own thread reads and rebases through its
staged state (read-your-own-writes; every other thread and process
still sees the pre-transaction head), and publish flips the whole
chain atomically. Bootstrap (write_versioned_manifest) cannot
participate.
Single-table commits outside a transaction are unaffected — they pay
zero marker I/O.

100 TB posture: the marker create rides the same LogStore seam as
every version claim, so the atomic decision is a conditional PUT on
object stores; prepare cost is the participants' ordinary O(churn)
commits; publish cost is one marker write + one latest heal per
table. Nothing scales with table size or participant file counts.
"""

from __future__ import annotations

import json
import os
import uuid

from data_pipeline_project_spark.sinks import manifest as _m

__all__ = [
    "transaction",
    "MultiTableTransaction",
    "TransactionAborted",
    "vacuum_txn_markers",
    "recover_transaction",
]


class TransactionAborted(RuntimeError):
    """The transaction's marker was decided 'aborted' — by a
    concurrent writer's presumed-abort or an explicit abort() — so
    none of its staged versions will ever be visible."""


class MultiTableTransaction:
    """Coordinator for one atomic publish across ``tables``. Use via
    :func:`transaction`; the context manager installs this object as
    the module-level active transaction that commit_optimistic
    consults."""

    def __init__(
        self,
        tables: list[str],
        marker_dir: str | None = None,
        grace_secs: float | None = None,
    ):
        if len(tables) < 2:
            raise ValueError(
                "a cross-table transaction needs >= 2 tables; single-table "
                "commits are already atomic on their own"
            )
        self.tables = [os.path.abspath(t) for t in tables]
        if len(set(self.tables)) != len(self.tables):
            raise ValueError("duplicate table in transaction")
        self.txn_id = uuid.uuid4().hex
        # the marker lives under the FIRST table's _txns/ by default —
        # any single durable home works; every participant's txn2
        # stamp records the absolute path
        mdir = marker_dir or os.path.join(self.tables[0], "_txns")
        self.marker = os.path.join(mdir, f"t-{self.txn_id}.json")
        # in-doubt grace is per-TRANSACTION (rides the txn2 stamp, so
        # concurrent writers honor THIS transaction's window, r11
        # ADVICE); None inherits the module default at stamp time
        self.grace_secs = grace_secs
        self.staged: dict[str, dict] = {}
        self.outcome: str | None = None
        self._hb_stop: "threading.Event | None" = None
        self._hb_thread: "threading.Thread | None" = None

    # -- hooks commit_optimistic calls ---------------------------------

    def covers(self, path: str) -> bool:
        return os.path.abspath(path) in self.tables

    def check_can_stage(self, path: str) -> None:
        # multiple commits per table are allowed (r12): the
        # coordinator's thread reads and bases on its own staged
        # state (manifest.committed_versions' read-your-own-writes),
        # every staged slot carries the same marker, and publish
        # flips them all at once
        if self.outcome is not None:
            raise TransactionAborted(
                f"transaction {self.txn_id} already resolved "
                f"({self.outcome})"
            )

    def stamp(self) -> dict:
        out = {
            "id": self.txn_id,
            "marker": os.path.abspath(self.marker),
            "tables": len(self.tables),
            "grace": float(
                self.grace_secs
                if self.grace_secs is not None
                else _m.TXN_INDOUBT_GRACE_SECS
            ),
        }
        return out

    def register(self, path: str, manifest: dict) -> None:
        self.staged[os.path.abspath(path)] = manifest

    # -- coordinator decisions ------------------------------------------

    def commit(self) -> dict:
        """Publish: one atomic marker create flips every staged
        version visible; then heal each participant's latest.json.
        Raises TransactionAborted when a concurrent writer's
        presumed-abort beat the publish — staging is rolled back
        before raising."""
        if self.outcome is not None:
            raise RuntimeError(f"transaction already {self.outcome}")
        self._stop_heartbeat()
        os.makedirs(os.path.dirname(self.marker), exist_ok=True)
        won = _m.get_log_store().publish_once(
            self.marker,
            json.dumps(
                {
                    "outcome": "committed",
                    "id": self.txn_id,
                    "tables": self.tables,
                    "versions": {
                        t: m["version"] for t, m in self.staged.items()
                    },
                },
                sort_keys=True,
            ),
        )
        if not won:
            decided = _m._read_marker_settled(self.marker)
            self.outcome = decided or "aborted"
            self._rollback_staging()
            raise TransactionAborted(
                f"transaction {self.txn_id} was {self.outcome} by a "
                f"concurrent writer before publish; staged versions "
                f"rolled back — rerun the transaction"
            )
        self.outcome = "committed"
        for t, manifest in self.staged.items():
            _m._update_latest_monotonic(
                os.path.join(t, "_manifests"), manifest
            )
        return {
            "id": self.txn_id,
            "outcome": "committed",
            "versions": {t: m["version"] for t, m in self.staged.items()},
        }

    def abort(self) -> dict:
        """Decide 'aborted' (unless a racing publish already decided
        'committed' — then honor it and heal) and restore every staged
        table to its pre-transaction state."""
        if self.outcome is not None:
            return {"id": self.txn_id, "outcome": self.outcome}
        self._stop_heartbeat()
        os.makedirs(os.path.dirname(self.marker), exist_ok=True)
        _m.get_log_store().publish_once(
            self.marker,
            json.dumps(
                {"outcome": "aborted", "id": self.txn_id,
                 "decided_by": "coordinator-abort"},
                sort_keys=True,
            ),
        )
        self.outcome = _m._read_marker_settled(self.marker) or "aborted"
        if self.outcome == "committed":
            for t, manifest in self.staged.items():
                _m._update_latest_monotonic(
                    os.path.join(t, "_manifests"), manifest
                )
        else:
            self._rollback_staging()
        return {"id": self.txn_id, "outcome": self.outcome}

    def _rollback_staging(self) -> None:
        # recovery restores tombstoned originals and quarantines the
        # aborted versions' staged files — per participant, idempotent
        for t in self.staged:
            _m.recover_to_last_manifest(t)

    # -- coordinator heartbeat ------------------------------------------

    def _grace(self) -> float:
        return float(
            self.grace_secs
            if self.grace_secs is not None
            else _m.TXN_INDOUBT_GRACE_SECS
        )

    def _start_heartbeat(self) -> None:
        """Touch ``<marker>.hb`` every grace/3 while the transaction is
        open: a concurrent writer that meets our in-doubt staged
        version extends its patience while the heartbeat is fresh, so
        an arbitrarily long prepare phase (big Spark merges) is never
        presumed-aborted early — while a CRASHED coordinator stops
        beating and is detected within ~one grace window (r11
        ADVICE). Best-effort: a heartbeat failure only narrows the
        writer's patience back to the plain grace window."""
        import threading
        import time

        hb = self.marker + ".hb"
        stop = threading.Event()

        def _beat():
            while True:
                try:
                    os.makedirs(os.path.dirname(hb), exist_ok=True)
                    with open(hb, "w") as fh:
                        fh.write(str(time.time()))
                except OSError:
                    pass
                if stop.wait(max(0.02, self._grace() / 3.0)):
                    return

        t = threading.Thread(
            target=_beat, name=f"txn-hb-{self.txn_id[:8]}", daemon=True
        )
        self._hb_stop, self._hb_thread = stop, t
        t.start()

    def _stop_heartbeat(self) -> None:
        if self._hb_stop is not None:
            self._hb_stop.set()
            self._hb_thread.join(timeout=5)
            self._hb_stop = self._hb_thread = None
        try:
            os.unlink(self.marker + ".hb")
        except OSError:
            pass

    def simulate_crash(self) -> None:
        """TEST/SOAK hook: the coordinator process dies here — the
        heartbeat stops beating and the thread-local installation is
        dropped, exactly what a real crash leaves behind (a staged,
        in-doubt pair for recovery/writers to resolve)."""
        self._stop_heartbeat()
        if _m._current_txn() is self:
            _m._clear_active_txn()

    # -- context manager ---------------------------------------------

    def __enter__(self):
        if _m._current_txn() is not None:
            raise RuntimeError(
                "cross-table transactions do not nest (per thread)"
            )
        _m._install_active_txn(self)
        self._start_heartbeat()
        return self

    def __exit__(self, exc_type, exc, tb):
        try:
            if exc_type is None:
                self.commit()
            else:
                self.abort()
        finally:
            self._stop_heartbeat()
            if _m._current_txn() is self:
                _m._clear_active_txn()
        return False


def transaction(
    tables: list[str],
    marker_dir: str | None = None,
    grace_secs: float | None = None,
) -> MultiTableTransaction:
    """Begin a cross-table atomic transaction over ``tables`` —
    ``with transaction([raw, agg]): ...`` publishes every staged
    commit atomically on exit, or rolls all of them back on
    exception. ``grace_secs`` overrides the in-doubt grace window for
    THIS transaction (rides the txn2 stamp, honored by concurrent
    writers); the open transaction also heartbeats next to its
    marker, so writers wait on liveness, not a fixed clock. See the
    module docstring for the protocol."""
    return MultiTableTransaction(
        tables, marker_dir=marker_dir, grace_secs=grace_secs
    )


def vacuum_txn_markers(tables: list[str], dry_run: bool = False) -> dict:
    """GC transaction marker files no surviving manifest still needs.

    Markers are SHARED across a transaction's participant tables, so
    no single table's vacuum may delete one — its twin might still
    resolve through it. The protocol instead retires markers in two
    steps: each table's ``vacuum`` INLINES the resolved outcome into
    its kept manifests (making them marker-independent), and this
    utility — given the deployment's FULL participant table set —
    deletes every marker that no kept manifest, on any listed table,
    still references without an inlined outcome.

    Caller contract: ``tables`` must cover every table that ever
    participated in transactions whose markers live under these
    tables' ``_txns/`` directories (in practice: the pipeline's table
    set). An incomplete list can delete a marker an unlisted
    participant still needs. Markers are tiny JSON files; when in
    doubt, keep them — this GC exists for million-transaction
    hygiene, not correctness."""
    required: set[str] = set()
    for t in tables:
        mdir = os.path.join(t, "_manifests")
        if not os.path.isdir(mdir):
            continue
        for f in os.listdir(mdir):
            if (
                f.startswith("v")
                and f.endswith(".json")
                and f[1:-5].isdigit()
            ):
                m = _m.read_manifest(
                    os.path.join(mdir, f), resolve=False
                )
                t2 = m.get("txn2")
                if t2 and t2.get("outcome") not in (
                    "committed", "aborted",
                ):
                    required.add(os.path.abspath(t2["marker"]))
    deleted = kept = 0
    for t in tables:
        tdir = os.path.join(os.path.abspath(t), "_txns")
        if not os.path.isdir(tdir):
            continue
        for f in sorted(os.listdir(tdir)):
            if not f.endswith(".json"):
                continue
            p = os.path.join(tdir, f)
            if p in required:
                kept += 1
            else:
                if not dry_run:
                    os.unlink(p)
                deleted += 1
    return {
        "markers_deleted": deleted,
        "markers_kept": kept,
        "dry_run": dry_run,
    }


def recover_transaction(path: str) -> dict:
    """Operator entry point after a coordinator crash: resolve every
    transactional version on ``path`` (in-doubt → aborted after the
    grace window, published-but-unhealed → latest healed) and restore
    the directory to the resolved head. Equivalent to
    recover_to_last_manifest — named separately so runbooks can say
    what they mean."""
    return _m.recover_to_last_manifest(path)
