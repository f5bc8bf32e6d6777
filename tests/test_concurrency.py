"""Optimistic multi-writer concurrency on the manifest layer
(sinks/manifest.py::commit_optimistic): intent-stamped delta commits
with Delta/Iceberg-style rebase-and-retry.

Contracts under test:

- two interleaved merges on DISJOINT key ranges both commit — the
  loser of the version CAS rebases onto the winner's head and the
  final state is the UNION of both merges (every intermediate version
  stays readable: copy-on-write means a loser never destroyed bytes);
- a TRUE conflict (overlapping key ranges / same file rewritten / a
  deletion vector racing a rewrite of its target file / any schema
  change / a commit with no intent) still fails loudly with
  ConcurrentSnapshotError, and recover + rerun converges;
- a racing DV delete's vector is never dropped by a rebase (dv_add
  appends to the head's list at commit time);
- a real two-thread race (no interposer) converges to the union.

The deterministic interleavings ride the ``_test_claim_interposer``
seam — the real race window is microseconds, so tests interpose
between the version listing and the O_EXCL claim to lose it on
purpose instead of shipping a flaky thread race.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    ConcurrentSnapshotError,
    delete_rows_dv,
    merge_upsert,
    read_version,
    recover_to_last_manifest,
    snapshot_versions,
    write_versioned_manifest,
)


def _table(spark, path, n=1000, files=4):
    df = spark.range(0, n).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 101).alias("v")
    )
    write_range_clustered(df, path, "k", files)
    write_versioned_manifest(path)


def _updates(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v long")


class _InterposeOnce:
    """On writer B's FIRST claim attempt, run writer A's entire
    operation inline (A claims and commits first), then let B proceed
    to lose the CAS and exercise the rebase. Reentrancy-guarded: A's
    own commit passes through untouched."""

    def __init__(self, run_a):
        self.run_a = run_a
        self.fired = False
        self.inside = False

    def __call__(self, version, mdir):
        if self.fired or self.inside:
            return
        self.fired = True
        self.inside = True
        try:
            self.run_a()
        finally:
            self.inside = False


@pytest.fixture(autouse=True)
def _clean_interposer():
    yield
    M._test_claim_interposer = None


def test_disjoint_merges_rebase_to_union(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)

    # A: low key range (updates 5,6 + insert -5 — inserts must stay
    # INSIDE the writer's window or the declared ranges overlap)
    # B: high key range (updates 900,901 + insert 3000) — disjoint
    # files on a range-clustered layout AND disjoint key ranges.
    a_updates = _updates(spark, [(5, -1), (6, -2), (-5, -3)])
    b_updates = _updates(spark, [(900, -4), (901, -5), (3000, -6)])
    a_result = {}

    def run_a():
        a_result.update(merge_upsert(spark, path, "k", a_updates))

    M._test_claim_interposer = _InterposeOnce(run_a)
    b_result = merge_upsert(spark, path, "k", b_updates)
    M._test_claim_interposer = None

    # A won the race at v2; B rebased and committed v3
    assert a_result["version"] == 2
    assert b_result["version"] == 3
    assert snapshot_versions(path) == [1, 2, 3]

    # head = the union of both merges
    live = read_version(spark, path)
    assert live.count() == 1002
    got = {r.k: r.v for r in live.where(
        "k in (5, 6, 900, 901, -5, 3000)").collect()}
    assert got == {5: -1, 6: -2, 900: -4, 901: -5, -5: -3, 3000: -6}

    # every intermediate version stays readable: v2 shows A only
    v2 = read_version(spark, path, 2)
    assert v2.count() == 1001
    got2 = {r.k: r.v for r in v2.where("k in (5, 900, -5)").collect()}
    assert got2 == {5: -1, 900: (900 * 7) % 101, -5: -3}
    # and v1 is the pre-merge table
    assert read_version(spark, path, 1).count() == 1000

    # intent stamps landed on both commits
    m2 = M.read_manifest(os.path.join(path, "_manifests", "v2.json"))
    m3 = M.read_manifest(os.path.join(path, "_manifests", "v3.json"))
    assert m2["txn"]["op"] == "merge_upsert" and m2["txn"]["key_min"] == -5
    assert m3["txn"]["key_min"] == 900


def test_overlapping_merges_fail_loudly_and_recover(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)

    a_updates = _updates(spark, [(5, -1), (700, -2)])   # wide range
    b_updates = _updates(spark, [(600, -4), (610, -5)])  # inside A's range

    def run_a():
        merge_upsert(spark, path, "k", a_updates)

    M._test_claim_interposer = _InterposeOnce(run_a)
    with pytest.raises(ConcurrentSnapshotError, match="overlapping"):
        merge_upsert(spark, path, "k", b_updates)
    M._test_claim_interposer = None

    # loser's data-phase output is uncommitted: recovery quarantines it
    # and restores any tombstones, then a rerun converges
    rec = recover_to_last_manifest(path)
    assert rec["version"] == 2
    merge_upsert(spark, path, "k", b_updates)
    live = read_version(spark, path)
    got = {r.k: r.v for r in live.where("k in (5, 600, 610, 700)").collect()}
    assert got == {5: -1, 600: -4, 610: -5, 700: -2}
    assert live.count() == 1000


def test_same_file_rewrite_conflict_detected(spark, tmp_path):
    """Even with key-range disjointness unprovable the FILE rule fires:
    two writers rewriting the same file is a lost update."""
    path = str(tmp_path / "t")
    _table(spark, path, n=100, files=1)  # one file: all merges collide

    def run_a():
        merge_upsert(spark, path, "k", _updates(spark, [(1, -1)]))

    M._test_claim_interposer = _InterposeOnce(run_a)
    with pytest.raises(ConcurrentSnapshotError):
        merge_upsert(spark, path, "k", _updates(spark, [(99, -2)]))


def test_dv_delete_rebases_and_rewrite_vs_dv_conflicts(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)

    # disjoint: A merges low keys (rewrites file 1), B DV-deletes high
    # keys (targets file 4) — both commit, and the rebase keeps BOTH
    # A's rewrite and B's vector
    def run_a():
        merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))

    M._test_claim_interposer = _InterposeOnce(run_a)
    res = delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(990,)], "k long")
    )
    M._test_claim_interposer = None
    assert res["version"] == 3 and res["rows_deleted"] == 1
    live = read_version(spark, path)
    assert live.count() == 999
    assert live.where("k = 990").count() == 0
    assert {r.k: r.v for r in live.where("k = 5").collect()} == {5: -1}

    # true conflict: a merge racing a DV delete WHOSE TARGET FILE the
    # merge rewrote — the later committer must refuse (the rewrite may
    # have read pre-DV rows and would resurrect the deleted ones)
    def run_dv():
        delete_rows_dv(
            spark, path, "k", spark.createDataFrame([(7,)], "k long")
        )

    M._test_claim_interposer = _InterposeOnce(run_dv)
    with pytest.raises(ConcurrentSnapshotError, match="deletion vector"):
        merge_upsert(spark, path, "k", _updates(spark, [(8, -8)]))


def test_commit_without_intent_blocks_rebase(spark, tmp_path):
    """A concurrent commit from an unknown writer (plain
    write_versioned_manifest, no txn stamp) can't be checked —
    the loser must fail, exactly as before the optimistic tier."""
    path = str(tmp_path / "t")
    _table(spark, path)

    def run_a():
        write_versioned_manifest(path)  # e.g. an append-style committer

    M._test_claim_interposer = _InterposeOnce(run_a)
    with pytest.raises(ConcurrentSnapshotError, match="no intent"):
        merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))


def test_real_thread_race_converges_to_union(spark, tmp_path):
    """Two genuine threads, disjoint key ranges, no interposer: both
    merges must succeed (whichever order the CAS resolves) and the head
    must be the union. Spark's scheduler is thread-safe; the barrier
    maximizes overlap."""
    path = str(tmp_path / "t")
    _table(spark, path)
    barrier = threading.Barrier(2)
    results, errors = {}, []

    def worker(name, pairs):
        try:
            upd = _updates(spark, pairs)
            barrier.wait(timeout=60)
            results[name] = merge_upsert(spark, path, "k", upd)
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append((name, e))

    ta = threading.Thread(
        target=worker, args=("a", [(int(k), -1) for k in range(0, 30)])
    )
    tb = threading.Thread(
        target=worker, args=("b", [(int(k), -2) for k in range(950, 980)])
    )
    ta.start(), tb.start()
    ta.join(300), tb.join(300)
    assert not errors, errors
    assert {results["a"]["version"], results["b"]["version"]} == {2, 3}

    live = read_version(spark, path)
    assert live.count() == 1000
    assert live.where("k < 30 and v != -1").count() == 0
    assert live.where("k >= 950 and k < 980 and v != -2").count() == 0


def test_randomized_disjoint_writer_pairs(spark, tmp_path):
    """Model-checker style: random disjoint (merge|dv) op pairs, always
    interleaved via the interposer, every outcome compared against the
    sequential reference (ops applied one after the other)."""
    import random

    for seed in (11, 12, 13):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        _table(spark, path, n=600, files=4)
        # two disjoint key windows, random ops in each
        lo_keys = rng.sample(range(0, 150), 4)
        hi_keys = rng.sample(range(450, 600), 4)

        def op(keys):
            kind = rng.choice(["merge", "dv"])
            if kind == "merge":
                upd = _updates(spark, [(int(k), -rng.randint(1, 9)) for k in keys])
                return kind, upd, None
            return kind, spark.createDataFrame(
                [(int(k),) for k in keys], "k long"
            ), None

        kind_a, df_a, _ = op(lo_keys)
        kind_b, df_b, _ = op(hi_keys)

        def run(kind, df):
            if kind == "merge":
                return merge_upsert(spark, path, "k", df)
            return delete_rows_dv(spark, path, "k", df)

        M._test_claim_interposer = _InterposeOnce(lambda: run(kind_a, df_a))
        run(kind_b, df_b)
        M._test_claim_interposer = None

        live = sorted(map(tuple, read_version(spark, path).collect()))

        # sequential reference on a twin table
        ref = str(tmp_path / f"ref{seed}")
        _table(spark, ref, n=600, files=4)

        def run_ref(kind, df):
            if kind == "merge":
                return merge_upsert(spark, ref, "k", df)
            return delete_rows_dv(spark, ref, "k", df)

        run_ref(kind_a, df_a)
        run_ref(kind_b, df_b)
        want = sorted(map(tuple, read_version(spark, ref).collect()))
        assert live == want, f"seed {seed}: interleaved != sequential"


def test_compaction_interleaves_with_disjoint_merge(spark, tmp_path):
    """Compaction is row_preserving: a merge on files the compaction
    didn't touch and the compaction itself BOTH commit (the loser
    rebases); a merge that rewrote a compacted file is a detected
    conflict."""
    from data_pipeline_project_spark.sinks.manifest import compact_snapshot

    path = str(tmp_path / "t")
    # 4 clustered files + 2 tiny appended files (the compaction bait)
    _table(spark, path, n=1000, files=4)
    spark.createDataFrame([(5000, -1)], "k long, v long").coalesce(1) \
        .write.mode("append").parquet(path)
    spark.createDataFrame([(5001, -2)], "k long, v long").coalesce(1) \
        .write.mode("append").parquet(path)
    write_versioned_manifest(path)

    # sizes: the 2 appended singleton files are tiny; the 4 clustered
    # files are big — pick a threshold between them
    import os as _os

    sizes = sorted(
        _os.path.getsize(_os.path.join(path, f))
        for f in _os.listdir(path) if f.endswith(".parquet")
    )
    thresh = sizes[2] - 1 if sizes[2] > sizes[1] else sizes[1] + 1

    merged = {}

    def run_merge():
        merged.update(
            merge_upsert(
                spark, path, "k", _updates(spark, [(10, -9), (11, -8)])
            )
        )

    M._test_claim_interposer = _InterposeOnce(run_merge)
    res = compact_snapshot(spark, path, small_bytes=thresh)
    M._test_claim_interposer = None
    assert res["files_compacted"] == 2 and res["rows_compacted"] == 2
    assert merged["version"] == 3 and res["version"] == 4

    live = read_version(spark, path)
    assert live.count() == 1002
    got = {r.k: r.v for r in live.where(
        "k in (10, 11, 5000, 5001)").collect()}
    assert got == {10: -9, 11: -8, 5000: -1, 5001: -2}

    # true conflict: a merge that rewrites one of the small files the
    # compaction is consuming (key 6000 lives in an appended tiny file)
    spark.createDataFrame([(6000, -3)], "k long, v long").coalesce(1) \
        .write.mode("append").parquet(path)
    spark.createDataFrame([(6001, -4)], "k long, v long").coalesce(1) \
        .write.mode("append").parquet(path)
    write_versioned_manifest(path)

    def run_conflicting_merge():
        merge_upsert(spark, path, "k", _updates(spark, [(6000, -99)]))

    M._test_claim_interposer = _InterposeOnce(run_conflicting_merge)
    with pytest.raises(ConcurrentSnapshotError, match="rewrote"):
        compact_snapshot(spark, path, small_bytes=thresh)
    M._test_claim_interposer = None
    recover_to_last_manifest(path)
    # rerun converges
    compact_snapshot(spark, path, small_bytes=thresh)
    live2 = read_version(spark, path)
    assert {r.v for r in live2.where("k = 6000").collect()} == {-99}


def test_committed_targeted_delete_rebases_and_conflicts(spark, tmp_path):
    """delete_rows_targeted(commit=True) rides the optimistic path: a
    delete and a disjoint merge both commit; a delete racing a merge
    that rewrote the same file fails loudly."""
    from data_pipeline_project_spark.sinks.manifest import (
        delete_rows_targeted,
    )

    path = str(tmp_path / "t")
    _table(spark, path)

    def run_a():
        merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))

    M._test_claim_interposer = _InterposeOnce(run_a)
    res = delete_rows_targeted(
        spark, path, "k",
        spark.createDataFrame([(990,)], "k long"), commit=True,
    )
    M._test_claim_interposer = None
    assert res["rows_deleted"] == 1 and res["version"] == 3
    live = read_version(spark, path)
    assert live.count() == 999
    assert live.where("k = 990").count() == 0
    assert {r.v for r in live.where("k = 5").collect()} == {-1}
    # v2 (the merge alone) still time-travels
    assert read_version(spark, path, 2).where("k = 990").count() == 1

    # same-file race: both touch the low-key file
    def run_b():
        merge_upsert(spark, path, "k", _updates(spark, [(6, -6)]))

    M._test_claim_interposer = _InterposeOnce(run_b)
    with pytest.raises(ConcurrentSnapshotError):
        delete_rows_targeted(
            spark, path, "k",
            spark.createDataFrame([(7,)], "k long"), commit=True,
        )
    M._test_claim_interposer = None
    recover_to_last_manifest(path)
    res2 = delete_rows_targeted(
        spark, path, "k",
        spark.createDataFrame([(7,)], "k long"), commit=True,
    )
    assert res2["rows_deleted"] == 1
    live2 = read_version(spark, path)
    assert live2.count() == 998
    assert {r.v for r in live2.where("k = 6").collect()} == {-6}


# ---------------------------------------------------------------------------
# r10: every writer carries an intent — appends, bulk rewrites, schema
# evolution, metadata stamps. Appends are the most common concurrent op
# a lakehouse sees: blind appends commute with everything but a schema
# change / whole-table rewrite (WriteSerializable); keyed appends opt
# into serializable range checking.
# ---------------------------------------------------------------------------


def test_append_rebases_with_merge_dv_compaction_and_append(
    spark, tmp_path
):
    """A blind append interleaved with a merge, a DV delete, a
    compaction, and ANOTHER append: all five commits land (losers
    rebase), the final state equals the sequential reference, and every
    intermediate version time-travels."""
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        compact_snapshot,
    )

    path = str(tmp_path / "t")
    _table(spark, path)

    # append ∥ merge
    def run_merge():
        merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))

    M._test_claim_interposer = _InterposeOnce(run_merge)
    r1 = append_snapshot(spark, path, _updates(spark, [(7000, -70)]))
    M._test_claim_interposer = None
    assert r1["version"] == 3 and r1["rows_appended"] == 1

    # append ∥ DV delete
    def run_dv():
        delete_rows_dv(
            spark, path, "k", spark.createDataFrame([(990,)], "k long")
        )

    M._test_claim_interposer = _InterposeOnce(run_dv)
    r2 = append_snapshot(spark, path, _updates(spark, [(7001, -71)]))
    M._test_claim_interposer = None
    assert r2["version"] == 5

    # append ∥ append (two tiny files also become compaction bait)
    def run_other_append():
        append_snapshot(spark, path, _updates(spark, [(7002, -72)]))

    M._test_claim_interposer = _InterposeOnce(run_other_append)
    r3 = append_snapshot(spark, path, _updates(spark, [(7003, -73)]))
    M._test_claim_interposer = None
    assert r3["version"] == 7

    # compaction ∥ append — compaction consumes the small appended
    # files; the racing append's NEW file is not in its removed set
    import os as _os

    sizes = sorted(
        _os.path.getsize(_os.path.join(path, f))
        for f in _os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    appended = {}

    def run_append():
        appended.update(
            append_snapshot(spark, path, _updates(spark, [(7004, -74)]))
        )

    M._test_claim_interposer = _InterposeOnce(run_append)
    res = compact_snapshot(spark, path, small_bytes=sizes[-4] - 1)
    M._test_claim_interposer = None
    assert res["files_compacted"] >= 2
    assert appended["version"] == 8 and res["version"] == 9

    live = read_version(spark, path)
    assert live.count() == 1000 - 1 + 5
    got = {r.k: r.v for r in live.where("k >= 7000").collect()}
    assert got == {7000: -70, 7001: -71, 7002: -72, 7003: -73, 7004: -74}
    assert live.where("k = 990").count() == 0
    assert {r.v for r in live.where("k = 5").collect()} == {-1}
    for v in snapshot_versions(path):
        read_version(spark, path, v).count()


def test_keyed_append_vs_overlapping_merge_conflicts(spark, tmp_path):
    """An append that declares its key range is SERIALIZABLE w.r.t.
    that key: racing a merge whose range overlaps is a detected
    conflict (order matters: merge-then-append keeps the appended row,
    append-then-merge replaces it); a disjoint keyed merge commutes."""
    from data_pipeline_project_spark.sinks.manifest import append_snapshot

    path = str(tmp_path / "t")
    _table(spark, path)

    def run_merge():
        merge_upsert(
            spark, path, "k", _updates(spark, [(500, -5), (520, -6)])
        )

    M._test_claim_interposer = _InterposeOnce(run_merge)
    with pytest.raises(ConcurrentSnapshotError, match="overlap"):
        append_snapshot(
            spark, path, _updates(spark, [(510, -99)]), key_col="k"
        )
    M._test_claim_interposer = None
    recover_to_last_manifest(path)

    # disjoint keyed append both-commit
    def run_merge2():
        merge_upsert(spark, path, "k", _updates(spark, [(10, -7)]))

    M._test_claim_interposer = _InterposeOnce(run_merge2)
    r = append_snapshot(
        spark, path, _updates(spark, [(8000, -80)]), key_col="k"
    )
    M._test_claim_interposer = None
    live = read_version(spark, path)
    assert {r2.v for r2 in live.where("k = 8000").collect()} == {-80}
    assert {r2.v for r2 in live.where("k = 10").collect()} == {-7}
    m = M.read_manifest(
        os.path.join(path, "_manifests", f"v{r['version']}.json")
    )
    assert m["txn"]["inserts_only"] and m["txn"]["key_min"] == 8000


def test_append_vs_schema_change_conflicts(spark, tmp_path):
    """An append staged under the old schema pin must not land after a
    concurrent rename/drop commits — and the schema change itself
    refuses to rebase across a concurrent append."""
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        rename_column,
    )

    path = str(tmp_path / "t")
    _table(spark, path)

    def run_rename():
        rename_column(spark, path, "v", "val")

    M._test_claim_interposer = _InterposeOnce(run_rename)
    with pytest.raises(ConcurrentSnapshotError, match="schema change"):
        append_snapshot(spark, path, _updates(spark, [(9000, -90)]))
    M._test_claim_interposer = None
    recover_to_last_manifest(path)

    # the other direction: rename loses the CAS to an append
    def run_append():
        df = spark.createDataFrame([(9001, -91)], "k long, val long")
        append_snapshot(spark, path, df)

    M._test_claim_interposer = _InterposeOnce(run_append)
    with pytest.raises(ConcurrentSnapshotError, match="schema change"):
        rename_column(spark, path, "val", "value")
    M._test_claim_interposer = None
    # the append itself committed; the table stays consistent
    assert {r.val for r in read_version(spark, path).where(
        "k = 9001").collect()} == {-91}


def test_bulk_rewrite_whole_table_intent_conflicts_everything(
    spark, tmp_path
):
    """merge_bulk / delete_bulk / rewrite_table stamp whole_table: a
    racing optimistic writer that loses the CAS to one sees an explicit
    whole-table reason (not 'no intent'), and the bulk rewrite itself
    refuses to rebase across ANY commit since its base — even a blind
    append it would silently drop."""
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        merge_bulk,
    )

    path = str(tmp_path / "t")
    _table(spark, path)

    # bulk wins, optimistic merge loses -> explicit whole-table reason
    def run_bulk():
        merge_bulk(spark, path, "k", _updates(spark, [(1, -1)]))

    M._test_claim_interposer = _InterposeOnce(run_bulk)
    with pytest.raises(ConcurrentSnapshotError, match="whole-table"):
        merge_upsert(spark, path, "k", _updates(spark, [(900, -9)]))
    M._test_claim_interposer = None
    recover_to_last_manifest(path)
    assert {r.v for r in read_version(spark, path).where(
        "k = 1").collect()} == {-1}

    # append wins, bulk loses -> bulk aborts (its output lacks the
    # appended rows; committing would silently drop them)
    def run_append():
        append_snapshot(spark, path, _updates(spark, [(9100, -91)]))

    M._test_claim_interposer = _InterposeOnce(run_append)
    with pytest.raises(ConcurrentSnapshotError, match="whole-table"):
        merge_bulk(spark, path, "k", _updates(spark, [(2, -2)]))
    M._test_claim_interposer = None
    recover_to_last_manifest(path)
    live = read_version(spark, path)
    assert {r.v for r in live.where("k = 9100").collect()} == {-91}
    # rerun converges and pins the appended row in the bulk output
    merge_bulk(spark, path, "k", _updates(spark, [(2, -2)]))
    live2 = read_version(spark, path)
    assert {r.v for r in live2.where("k = 9100").collect()} == {-91}
    assert {r.v for r in live2.where("k = 2").collect()} == {-2}
    m = M.read_manifest(os.path.join(path, "_manifests", "latest.json"))
    assert m["txn"]["whole_table"] is True


def test_append_commit_cost_is_o_added_not_o_table(spark, tmp_path):
    """The append path's parquet-footer reads touch ONLY the appended
    files (plus the staging sweep of those same parts) — never the
    table's existing files. At 10⁶ files this is the difference between
    milliseconds and minutes per commit."""
    import pyarrow.parquet as _pq

    from data_pipeline_project_spark.sinks import manifest as _m
    from data_pipeline_project_spark.sinks.manifest import append_snapshot

    path = str(tmp_path / "t")
    _table(spark, path, n=1000, files=8)  # 8 pre-existing data files

    seen = []
    real = _pq.read_metadata

    def counting(f, *a, **kw):
        seen.append(str(f))
        return real(f, *a, **kw)

    _pq.read_metadata = counting
    try:
        r = append_snapshot(
            spark, path, _updates(spark, [(5000, -1)]).coalesce(1)
        )
    finally:
        _pq.read_metadata = real
    assert r["files_added"] == 1
    # every footer read is the appended part (staged or moved-in) —
    # none of the 8 pre-existing files is ever opened
    offenders = [
        f for f in seen
        if "append-v" not in f and ".staging" not in f
    ]
    assert offenders == [], offenders


def test_checked_write_append_carries_intent(spark, tmp_path):
    """checked_write onto a snapshotted table commits through the
    intent-stamped append path (O(added) delta), not the listing."""
    from data_pipeline_project_spark.operators.expectations import (
        expect_not_null,
    )
    from data_pipeline_project_spark.sinks.manifest import checked_write

    path = str(tmp_path / "t")
    _table(spark, path)
    rules = [expect_not_null("k")]
    res = checked_write(
        _updates(spark, [(6000, -60)]).coalesce(1), path, rules
    )
    assert res["passed"] and res["version"] == 2
    m = M.read_manifest(os.path.join(path, "_manifests", "v2.json"))
    assert m["txn"]["op"] == "append" and m["txn"]["inserts_only"]
    assert read_version(spark, path).count() == 1001


def test_metadata_commit_coexists_with_writers(spark, tmp_path):
    """A watermark-only metadata stamp (matview's no-change refresh) is
    row_preserving: racing a merge, BOTH commit."""
    from data_pipeline_project_spark.sinks.manifest import commit_metadata

    path = str(tmp_path / "t")
    _table(spark, path)

    def run_merge():
        merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))

    M._test_claim_interposer = _InterposeOnce(run_merge)
    m = commit_metadata(path, extra={"watermark": 42})
    M._test_claim_interposer = None
    assert m["version"] == 3 and m["app"] == {"watermark": 42}
    live = read_version(spark, path)
    assert live.count() == 1000
    assert {r.v for r in live.where("k = 5").collect()} == {-1}


def test_overtaken_listing_commit_never_rolls_latest_back(tmp_path, monkeypatch):
    """write_versioned_manifest publishes latest.json monotonically: a
    listing commit (v2) overtaken by another (v3) between claiming its
    slot and publishing must leave latest.json at v3. A plain
    unconditional replace rolled the head back to v2, so table_renames
    and table_schema read a stale head until a later committed_versions
    healed it. No Spark: the table is one pyarrow-written file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    os.makedirs(path)
    pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(path, "p0.parquet"))
    write_versioned_manifest(path)

    real = M.write_manifest
    overtaker = []

    def racing_listing(p, manifest_path=None):
        out = real(p, manifest_path)
        monkeypatch.setattr(M, "write_manifest", real)  # overtake once
        overtaker.append(write_versioned_manifest(p, renames={"k0": "k"}))
        return out

    monkeypatch.setattr(M, "write_manifest", racing_listing)
    assert write_versioned_manifest(path)["version"] == 2
    assert overtaker[0]["version"] == 3
    latest = M.read_manifest(os.path.join(path, "_manifests", "latest.json"))
    assert latest["version"] == 3
    assert M.table_renames(path) == {"k0": "k"}


def test_retry_exhaustion_fails_loudly_and_recovers(spark, tmp_path):
    """Contention beyond MAX_COMMIT_RETRIES: a writer that loses the
    CAS on every attempt (a commuting append lands in each of its
    claim windows) exhausts its retries and raises the race-loss
    ConcurrentSnapshotError — loudly, never a silent partial commit —
    and recover + rerun converges with every append intact."""
    from data_pipeline_project_spark.sinks.manifest import (
        MAX_COMMIT_RETRIES,
        append_snapshot,
    )

    path = str(tmp_path / "t")
    _table(spark, path)

    class _AlwaysLose:
        """Commit a commuting (inserts-only) append inside EVERY claim
        window of the writer under test, so it can rebase but never
        win the CAS."""

        def __init__(self):
            self.inside = False
            self.count = 0

        def __call__(self, version, mdir):
            if self.inside:
                return
            self.inside = True
            try:
                append_snapshot(
                    spark, path,
                    _updates(
                        spark, [(10_000 + self.count, -1)]
                    ).coalesce(1),
                )
                self.count += 1
            finally:
                self.inside = False

    loser = _AlwaysLose()
    M._test_claim_interposer = loser
    with pytest.raises(ConcurrentSnapshotError, match="lost the commit race"):
        merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))
    M._test_claim_interposer = None
    assert loser.count == MAX_COMMIT_RETRIES

    # the loser's staged output is uncommitted; recovery quarantines it
    # and the rerun lands on top of every append
    recover_to_last_manifest(path)
    res = merge_upsert(spark, path, "k", _updates(spark, [(5, -1)]))
    assert res["version"] == 1 + MAX_COMMIT_RETRIES + 1
    live = read_version(spark, path)
    assert live.count() == 1000 + MAX_COMMIT_RETRIES
    assert {r.v for r in live.where("k = 5").collect()} == {-1}
    assert live.where("k >= 10000").count() == MAX_COMMIT_RETRIES


def test_real_three_thread_race_converges(spark, tmp_path):
    """Three genuine threads — a merge, a DV delete, and a keyed
    append on disjoint key spaces — no interposer: all three commit
    (in whatever CAS order), and the head shows all three effects."""
    from data_pipeline_project_spark.sinks.manifest import append_snapshot

    path = str(tmp_path / "t")
    _table(spark, path)
    barrier = threading.Barrier(3)
    results, errors = {}, []

    def run(name, fn):
        try:
            barrier.wait(timeout=60)
            results[name] = fn()
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append((name, e))

    threads = [
        threading.Thread(target=run, args=("merge", lambda: merge_upsert(
            spark, path, "k",
            _updates(spark, [(int(k), -1) for k in range(0, 20)]),
        ))),
        threading.Thread(target=run, args=("dv", lambda: delete_rows_dv(
            spark, path, "k",
            spark.createDataFrame([(990,), (991,)], "k long"),
        ))),
        threading.Thread(target=run, args=("append", lambda: append_snapshot(
            spark, path,
            _updates(spark, [(12_000, -12)]).coalesce(1), key_col="k",
        ))),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors, errors
    assert {r["version"] for r in results.values()} == {2, 3, 4}

    live = read_version(spark, path)
    assert live.count() == 1000 - 2 + 1
    assert live.where("k < 20 and v != -1").count() == 0
    assert live.where("k in (990, 991)").count() == 0
    assert {r.v for r in live.where("k = 12000").collect()} == {-12}
