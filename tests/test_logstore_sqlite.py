"""Cross-PROCESS claim races on the SQLite-arbitrated LogStore.

The r11 concurrency suite raced THREADS (shared GIL, shared page
cache); these tests race independent OS PROCESSES — real fcntl
serialization, independent interpreters, no shared memory — which is
the axis the in-process ExternalCASLogStore explicitly does not
cover (its docstring: "Registry scope is this store instance").

All workers run as ``multiprocessing`` children (SPAWN — see the
ctx fixture: fork under a live Spark JVM severs the parent's Py4J
gateway) with a Barrier aligning their attempts into a true
simultaneous race.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import threading
import time

import pytest

from data_pipeline_project_spark.sinks.logstore_sqlite import (
    SQLiteCASLogStore,
)

N_PROCS = 8


def _claim_worker(mdir, version, barrier, q):
    store = SQLiteCASLogStore()
    barrier.wait()
    try:
        q.put(("ok", os.getpid(), store.claim(mdir, version)))
    except Exception as e:  # noqa: BLE001
        q.put(("err", os.getpid(), repr(e)))


def _publish_worker(path, barrier, q):
    store = SQLiteCASLogStore()
    barrier.wait()
    try:
        won = store.publish_once(
            path, json.dumps({"outcome": "committed", "by": os.getpid()})
        )
        # every process — winner or loser — must read back a SETTLED,
        # untorn marker immediately after its attempt
        with open(path) as fh:
            seen = json.load(fh)
        q.put(("ok", os.getpid(), won, seen["by"]))
    except Exception as e:  # noqa: BLE001
        q.put(("err", os.getpid(), repr(e), None))


@pytest.fixture()
def ctx():
    # SPAWN, not fork: in the full suite a Spark JVM is live, and a
    # forked child inherits the parent's Py4J socket FDs — closing
    # them at child exit severs the PARENT's gateway (observed: the
    # two tests after this file failed/hung in the r12 full-suite run
    # while every standalone run was green). Fresh interpreters cost
    # ~1s per child and share nothing.
    return mp.get_context("spawn")


def test_exactly_one_winner_across_processes(tmp_path, ctx):
    mdir = str(tmp_path / "_manifests")
    os.makedirs(mdir)
    barrier = ctx.Barrier(N_PROCS)
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_claim_worker, args=(mdir, 7, barrier, q))
        for _ in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    assert all(r[0] == "ok" for r in results), results
    wins = [r for r in results if r[2]]
    assert len(wins) == 1, results
    assert os.path.exists(os.path.join(mdir, "v7.json"))


def test_publish_once_exactly_one_winner_and_untorn_reads(tmp_path, ctx):
    marker = str(tmp_path / "_txns" / "t-abc.json")
    barrier = ctx.Barrier(N_PROCS)
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_publish_worker, args=(marker, barrier, q))
        for _ in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    assert all(r[0] == "ok" for r in results), results
    wins = [r for r in results if r[2]]
    assert len(wins) == 1, results
    winner_pid = wins[0][1]
    # every process read the WINNER's content — atomic with creation
    assert all(r[3] == winner_pid for r in results), results


def test_publish_once_loser_waits_for_the_winners_marker(tmp_path, monkeypatch):
    """The winner links its marker only after its CAS commits. A loser
    whose CAS fails in that gap must not return until the marker
    exists: its caller reads the outcome from the file next."""
    marker = str(tmp_path / "_txns" / "t-gap.json")
    cas_won = threading.Event()
    real_link = os.link

    def slow_link(src, dst):
        cas_won.set()
        time.sleep(0.3)
        real_link(src, dst)

    monkeypatch.setattr(os, "link", slow_link)
    store = SQLiteCASLogStore()
    won = []
    winner = threading.Thread(
        target=lambda: won.append(
            store.publish_once(marker, json.dumps({"by": "winner"}))
        )
    )
    winner.start()
    try:
        assert cas_won.wait(timeout=30)
        assert not store.publish_once(marker, json.dumps({"by": "loser"}))
        with open(marker) as fh:
            assert json.load(fh) == {"by": "winner"}
    finally:
        winner.join(timeout=30)
    assert won == [True]


def test_release_unburns_a_swept_version(tmp_path):
    mdir = str(tmp_path / "_manifests")
    os.makedirs(mdir)
    store = SQLiteCASLogStore()
    assert store.claim(mdir, 3)
    # recovery sweeps the torn slot file, then releases the claim
    os.unlink(os.path.join(mdir, "v3.json"))
    assert not store.claim(mdir, 3)  # still burned before release
    store.release(mdir, 3)
    assert store.claim(mdir, 3)  # rerun can reclaim the version


def test_foreign_slot_file_is_honored(tmp_path):
    """A slot written OUTSIDE this registry (e.g. the bootstrap's
    LocalFS commit) must never be claimed over — mixed-store
    histories stay safe."""
    mdir = str(tmp_path / "_manifests")
    os.makedirs(mdir)
    with open(os.path.join(mdir, "v1.json"), "w") as fh:
        fh.write("{}")
    store = SQLiteCASLogStore()
    assert not store.claim(mdir, 1)


def _commit_worker(table, writer_id, n_commits, barrier, q):
    """A REAL optimistic-commit writer in its own process: pre-stated
    entries (no Spark needed), full rebase-and-retry through the
    SQLite store."""
    from data_pipeline_project_spark.sinks import manifest as M
    from data_pipeline_project_spark.sinks.manifest import (
        commit_optimistic,
        committed_versions,
    )

    prev = M.set_log_store(SQLiteCASLogStore())
    try:
        barrier.wait()
        done = []
        for i in range(n_commits):
            base = committed_versions(table, resolve_in_doubt=True)[-1]
            m = commit_optimistic(
                table,
                added=[],
                removed=[],
                added_entries=[
                    {
                        "path": f"w{writer_id}-c{i}.parquet",
                        "bytes": 10,
                        "rows": 1,
                    }
                ],
                intent={
                    "op": "append",
                    "removed": [],
                    "dv_targets": [],
                    "schema_change": False,
                    "inserts_only": True,
                },
                base_version=base,
                max_retries=50,
            )
            done.append(m["version"])
        q.put(("ok", writer_id, done))
    except Exception as e:  # noqa: BLE001
        q.put(("err", writer_id, repr(e)))
    finally:
        M.set_log_store(prev)


def test_interleaved_commits_from_independent_processes(tmp_path, ctx):
    """Three real writers, three commits each, racing through the
    cross-process CAS: every commit lands exactly once, versions are
    gapless, and the final manifest pins all nine entries."""
    from data_pipeline_project_spark.sinks import manifest as M

    table = str(tmp_path / "t")
    mdir = os.path.join(table, "_manifests")
    os.makedirs(mdir)
    prev = M.set_log_store(SQLiteCASLogStore())
    try:
        M.commit_optimistic(
            table,
            added=[],
            removed=[],
            added_entries=[{"path": "seed.parquet", "bytes": 1, "rows": 1}],
            intent={
                "op": "append",
                "removed": [],
                "dv_targets": [],
                "schema_change": False,
                "inserts_only": True,
            },
            base_version=0,
            allow_bootstrap=True,
        )
    finally:
        M.set_log_store(prev)

    barrier = ctx.Barrier(3)
    q = ctx.Queue()
    procs = [
        ctx.Process(
            target=_commit_worker, args=(table, w, 3, barrier, q)
        )
        for w in range(3)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=120)
    assert all(r[0] == "ok" for r in results), results
    versions = sorted(v for r in results for v in r[2])
    assert versions == list(range(2, 11)), versions  # gapless, no dupes
    final = M.read_manifest(os.path.join(mdir, "latest.json"))
    names = {f["path"] for f in final["files"]}
    assert names == {"seed.parquet"} | {
        f"w{w}-c{i}.parquet" for w in range(3) for i in range(3)
    }
