"""The pluggable commit-claim seam (sinks/logstore.py).

At 100 TB the snapshot log lives on an object store where
``open(O_CREAT|O_EXCL)`` does not exist — the claim must come from a
conditional PUT or an external lock service (the Delta-on-S3
problem). Round 11 extracted the claim into a LogStore interface so
the commit PROTOCOL (delta bodies, intent checks, rebase) never
changes across stores; these tests pin the seam's contract:

- every commit path routes through the installed store (counted);
- exactly-one-winner under FORCED duplicate claims — N threads park
  on a barrier inside the claim window and all fire at once;
- the full optimistic flow (disjoint merges rebasing to the union,
  true conflicts failing loudly) is store-agnostic: the same
  scenarios pass under LocalFS and under the external-CAS fake;
- a lost claim with NO published body (a phantom winner / stolen
  slot) exhausts retries LOUDLY instead of corrupting;
- deferred placeholder visibility (object-store lag) never lets two
  writers commit the same version;
- claim-service faults (ClaimUnavailableError) propagate — an
  errored claim is neither a win nor a loss.

Reference parity: the reference serializes all writers through one
MySQL connection/transaction (pipeline.py:246-259); the lakehouse
tier reaches exactly-one-winner at any writer count through this
seam.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.logstore import (
    ClaimUnavailableError,
    ExternalCASLogStore,
    LocalFSLogStore,
)
from data_pipeline_project_spark.sinks.manifest import (
    ConcurrentSnapshotError,
    append_snapshot,
    merge_upsert,
    read_version,
    snapshot_versions,
    write_versioned_manifest,
)


@pytest.fixture(autouse=True)
def _restore_store():
    prev = M.get_log_store()
    yield
    M.set_log_store(prev)
    M._test_claim_interposer = None


def _table(spark, path, n=400, files=2):
    df = spark.range(0, n).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 101).alias("v")
    )
    write_range_clustered(df, path, "k", files)
    write_versioned_manifest(path)


def _updates(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v long")


# ---------------------------------------------------------------- seam


class _CountingStore(LocalFSLogStore):
    def __init__(self):
        self.calls = []

    def claim(self, mdir, version):
        self.calls.append((mdir, version))
        return super().claim(mdir, version)


def test_all_commit_paths_route_through_the_store(spark, tmp_path):
    """Bootstrap (write_versioned_manifest), append, and merge
    (commit_optimistic) must each claim through the installed store —
    no commit path may keep a private O_EXCL."""
    store = _CountingStore()
    M.set_log_store(store)
    path = str(tmp_path / "t")
    _table(spark, path)  # v1 via write_versioned_manifest
    assert len(store.calls) == 1 and store.calls[0][1] == 1

    append_snapshot(
        spark, path, spark.createDataFrame([(9000, 1)], "k long, v long")
    )  # v2 via commit_optimistic
    assert [v for _, v in store.calls] == [1, 2]

    merge_upsert(
        spark, path, "k", _updates(spark, [(5, -1)])
    )  # v3 via commit_optimistic
    assert [v for _, v in store.calls] == [1, 2, 3]
    assert snapshot_versions(path) == [1, 2, 3]


def test_forced_duplicate_claims_exactly_one_winner(tmp_path):
    """16 threads all claim the SAME version slot simultaneously —
    a barrier inside the claim window guarantees every thread is in
    the race before any CAS resolves. Exactly one wins. Run against
    BOTH implementations."""
    for make in (LocalFSLogStore, ExternalCASLogStore):
        store = make()
        mdir = str(tmp_path / f"{make.__name__}_manifests")
        os.makedirs(mdir, exist_ok=True)
        n = 16
        barrier = threading.Barrier(n)
        if isinstance(store, ExternalCASLogStore):
            store.before_claim = lambda m, v: barrier.wait()
        results = [None] * n

        def attempt(i):
            if isinstance(store, LocalFSLogStore) and not isinstance(
                store, ExternalCASLogStore
            ):
                barrier.wait()
            results[i] = store.claim(mdir, 1)

        threads = [
            threading.Thread(target=attempt, args=(i,)) for i in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sum(results) == 1, f"{make.__name__}: {results}"


@pytest.mark.parametrize("store_kind", ["local", "external"])
def test_disjoint_merges_union_under_both_stores(
    spark, tmp_path, store_kind
):
    """The r10 rebase scenario is store-agnostic: writer A commits
    inside B's claim window; B loses the CAS, rebases, and the head
    is the union of both merges — identical under either store."""
    if store_kind == "external":
        M.set_log_store(ExternalCASLogStore())
    path = str(tmp_path / "t")
    _table(spark, path)

    a_updates = _updates(spark, [(5, -1), (-5, -3)])
    b_updates = _updates(spark, [(390, -4), (3000, -6)])

    def run_a():
        merge_upsert(spark, path, "k", a_updates)

    fired = {"done": False}

    def interpose(version, mdir):
        if fired["done"]:
            return
        fired["done"] = True
        run_a()

    M._test_claim_interposer = interpose
    merge_upsert(spark, path, "k", b_updates)
    M._test_claim_interposer = None

    head = read_version(spark, path)
    got = {r.k: r.v for r in head.collect()}
    assert got[5] == -1 and got[-5] == -3
    assert got[390] == -4 and got[3000] == -6
    assert len(snapshot_versions(path)) == 3


def test_phantom_winner_exhausts_retries_loudly(spark, tmp_path):
    """A stolen slot whose 'winner' never publishes a body: the
    optimistic loop keeps recomputing the same next version, keeps
    losing, and after max_retries surfaces ConcurrentSnapshotError —
    never a torn or duplicate commit."""
    store = ExternalCASLogStore(defer_placeholder=True)
    M.set_log_store(store)
    path = str(tmp_path / "t")
    _table(spark, path)
    store.steal(os.path.join(path, "_manifests"), 2)

    with pytest.raises(ConcurrentSnapshotError, match="lost the commit race"):
        append_snapshot(
            spark,
            path,
            spark.createDataFrame([(9000, 1)], "k long, v long"),
            max_retries=3,
        )
    assert snapshot_versions(path) == [1]


def test_deferred_placeholder_never_double_commits(spark, tmp_path):
    """Object-store visibility lag: the winner's slot file is not yet
    listable when a racer claims. The racer must LOSE at the registry
    (not win a second v2) — after the winner flushes, history is
    linear."""
    store = ExternalCASLogStore(defer_placeholder=True)
    M.set_log_store(store)
    path = str(tmp_path / "t")
    _table(spark, path)

    mdir = os.path.join(path, "_manifests")
    # winner claims v2 but its slot is not yet visible
    assert store.claim(mdir, 2) is True
    assert not os.path.exists(os.path.join(mdir, "v2.json"))
    # racer lists head=v1, computes v2, and must lose
    assert store.claim(mdir, 2) is False
    store.flush_placeholders()
    assert os.path.exists(os.path.join(mdir, "v2.json"))


def test_claim_fault_propagates(spark, tmp_path):
    """A claim-service outage is an ERROR, not a silent loss: the
    commit raises ClaimUnavailableError and the log is untouched."""
    store = ExternalCASLogStore()
    M.set_log_store(store)
    path = str(tmp_path / "t")
    _table(spark, path)
    store.fail_next_claims = 1

    with pytest.raises(ClaimUnavailableError):
        append_snapshot(
            spark, path, spark.createDataFrame([(1, 1)], "k long, v long")
        )
    assert snapshot_versions(path) == [1]
    # the service recovers; the SAME logical commit then lands
    append_snapshot(
        spark, path, spark.createDataFrame([(9000, 1)], "k long, v long")
    )
    assert snapshot_versions(path) == [1, 2]


def test_swept_claims_release_under_external_store(
    spark, tmp_path
):
    """The r11 soak finding: recovery's torn-claim sweep deletes slot
    files, and an external-CAS registry that never forgets the claim
    burns the version number forever — the next writer recomputes the
    same version, loses every retry, and exhausts the optimistic
    loop. The sweep now releases the claim through the store, so an
    aborted transaction's reclaimed slot is immediately re-claimable."""
    from data_pipeline_project_spark.sinks.txn import transaction

    M.set_log_store(ExternalCASLogStore())
    prev_grace = M.TXN_INDOUBT_GRACE_SECS
    M.TXN_INDOUBT_GRACE_SECS = 0.05
    try:
        raw = str(tmp_path / "raw")
        agg = str(tmp_path / "agg")
        for p in (raw, agg):
            _table(spark, p)
        t = transaction([raw, agg]).__enter__()
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(9000, 1)], "k long, v long"),
        )
        merge_upsert(
            spark, agg, "k", _updates(spark, [(5, -1)])
        )
        # a concurrent writer presumed-aborts the in-doubt pair
        M._clear_active_txn()
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(9500, 2)], "k long, v long"),
        )
        from data_pipeline_project_spark.sinks.txn import (
            TransactionAborted,
        )

        with pytest.raises(TransactionAborted):
            t.commit()
        # the rollback swept the staged slots; under the external
        # store this re-commit previously lost the race forever
        merge_upsert(spark, agg, "k", _updates(spark, [(5, -1)]))
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(9000, 1)], "k long, v long"),
        )
        got = {r.k: r.v for r in read_version(spark, agg).collect()}
        assert got[5] == -1
    finally:
        M.TXN_INDOUBT_GRACE_SECS = prev_grace


def test_external_store_honors_foreign_slot_files(tmp_path):
    """Mixed-store history: a version slot created by a LocalFS
    writer (on disk, not in the registry) must still lose the
    external store's claim — the registry defers to the durable
    log."""
    mdir = str(tmp_path / "_manifests")
    os.makedirs(mdir)
    assert LocalFSLogStore().claim(mdir, 1) is True
    store = ExternalCASLogStore()
    assert store.claim(mdir, 1) is False
    assert store.claim(mdir, 2) is True
