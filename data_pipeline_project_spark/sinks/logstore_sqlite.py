"""Cross-PROCESS external-CAS LogStore: SQLite-arbitrated claims.

The r11 seam shipped two stores: ``LocalFSLogStore`` (the filesystem
is the arbiter — atomic exclusive-create) and ``ExternalCASLogStore``
(an in-process registry modeling a DynamoDB/etcd/conditional-PUT
service, with chaos knobs). The external fake's registry is honest
about its scope: one process. Threads share a GIL and a page cache,
so process-level races — fsync visibility, partial JSON reads,
simultaneous INSERTs from independent interpreters — were genuinely
untested (r11 VERDICT missing-list #2).

``SQLiteCASLogStore`` closes that: the CAS is a PRIMARY-KEY insert
into a SQLite database next to the log. SQLite serializes writers
with real OS file locks (POSIX ``fcntl`` range locks), so the insert
is a true cross-process compare-and-swap — the same shape as the
Delta-on-S3 DynamoDB LogStore, with SQLite standing in for the lock
service. Slot/marker files are written by the winner only, AFTER the
CAS, exactly like an object-store PUT that follows the coordination
write (the filesystem is never the arbiter).

Scope and honesty notes:

- SQLite's locking is per-database-FILE, so the registry database
  lives next to each table's log (``<mdir>/.claims.sqlite`` for
  version slots, ``<dir>/.claims.sqlite`` for markers). Writers on
  different hosts need the database on a shared POSIX filesystem with
  working fcntl (NFSv4 qualifies; object stores do not — there the
  production twin is the real conditional-PUT/DynamoDB service this
  class models).
- A winner that crashes BETWEEN the CAS and the slot write leaves a
  claim with no file — the burned-slot hazard every external-CAS
  store has. ``release`` (called by recovery when it sweeps a torn or
  aborted slot) deletes the claim row, un-burning the version; this
  mirrors deleting the DynamoDB lock item when its log entry is
  cleaned.
- ``publish_once`` keeps content atomic-with-creation for READERS the
  same way the POSIX store does (write-tmp + hard-link), but the
  DECISION is the registry insert: a racing creator that loses the
  insert never writes the file at all.

Used by tests/test_logstore_sqlite.py (subprocess duplicate-claim
races) and scripts/concurrency_soak.py's process-level family, where
N writers are separate OS processes.
"""

from __future__ import annotations

import os
import sqlite3
import threading
import time

from data_pipeline_project_spark.sinks.logstore import (
    LogStore,
    _slot_path,
)

__all__ = ["SQLiteCASLogStore"]

_DB_NAME = ".claims.sqlite"


class SQLiteCASLogStore(LogStore):
    """Claims arbitrated by PRIMARY-KEY inserts into a SQLite db next
    to the log directory — a true cross-process CAS (fcntl-locked),
    usable from independent OS processes on one filesystem."""

    def __init__(self, busy_timeout_secs: float = 30.0):
        self.busy_timeout_secs = busy_timeout_secs
        # one connection per (thread, db): sqlite3 connections are not
        # thread-safe by default and MUST NOT cross threads
        self._tls = threading.local()

    # -- registry plumbing ------------------------------------------------

    def _conn(self, db_path: str) -> sqlite3.Connection:
        cache = getattr(self._tls, "conns", None)
        if cache is None:
            cache = self._tls.conns = {}
        conn = cache.get(db_path)
        if conn is None:
            conn = sqlite3.connect(
                db_path, timeout=self.busy_timeout_secs
            )
            conn.execute(
                "CREATE TABLE IF NOT EXISTS claims ("
                " key TEXT PRIMARY KEY,"
                " owner TEXT NOT NULL,"
                " claimed_at REAL NOT NULL)"
            )
            conn.commit()
            cache[db_path] = conn
        return conn

    @staticmethod
    def _owner() -> str:
        return f"{os.getpid()}:{threading.get_ident()}"

    def _cas_insert(self, db_path: str, key: str) -> bool:
        conn = self._conn(db_path)
        try:
            with conn:  # one fcntl-serialized transaction
                conn.execute(
                    "INSERT INTO claims(key, owner, claimed_at) "
                    "VALUES (?, ?, ?)",
                    (key, self._owner(), time.time()),
                )
            return True
        except sqlite3.IntegrityError:
            return False

    # -- LogStore interface ----------------------------------------------

    def claim(self, mdir: str, version: int) -> bool:
        os.makedirs(mdir, exist_ok=True)
        slot = _slot_path(mdir, version)
        # a slot file already on disk means a FOREIGN writer (one not
        # using this registry — e.g. the table's bootstrap committed
        # under LocalFS) owns the version; honoring it keeps
        # mixed-store histories safe (same rule as the chaos fake)
        if os.path.exists(slot):
            return False
        won = self._cas_insert(
            os.path.join(mdir, _DB_NAME), os.path.abspath(slot)
        )
        if won:
            # publication only — the registry already decided; plain
            # create (NOT O_EXCL), like an object-store PUT
            with open(slot, "a"):
                pass
        return won

    def publish_once(self, path: str, content: str) -> bool:
        d = os.path.dirname(os.path.abspath(path))
        os.makedirs(d, exist_ok=True)
        if os.path.exists(path):
            return False
        won = self._cas_insert(
            os.path.join(d, _DB_NAME), os.path.abspath(path)
        )
        if not won:
            # the winner links its file only after its CAS commits: wait
            # for it, so the caller reads the winner's marker (bounded: a
            # winner that crashed after its CAS never links it)
            deadline = time.monotonic() + self.busy_timeout_secs
            while not os.path.exists(path) and time.monotonic() < deadline:
                time.sleep(0.005)
            return False
        # content atomic-with-creation for readers: write-then-link
        tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        try:
            os.link(tmp, path)
        except FileExistsError:
            # registry said we won but the file exists: a FOREIGN
            # writer created it outside this registry — honor the
            # file (it is what readers settle on)
            return False
        finally:
            os.unlink(tmp)
        return True

    def release(self, mdir: str, version: int) -> None:
        db = os.path.join(mdir, _DB_NAME)
        if not os.path.exists(db):
            return
        conn = self._conn(db)
        with conn:
            conn.execute(
                "DELETE FROM claims WHERE key = ?",
                (os.path.abspath(_slot_path(mdir, version)),),
            )

    def describe(self) -> str:
        return "SQLiteCASLogStore"
