"""Crash recovery of the lakehouse layer (sinks/manifest.py).

The merge protocols' docstrings claim crash-rerunnability; these tests
make the claim mechanical. Each test constructs ONE intermediate
directory state a killed writer leaves behind — mid-rewrite, partial
append, bulk staging, bulk move-in before the tombstone sweep, bulk
tombstones before the manifest — then asserts recover_to_last_manifest
restores the live view to the last committed snapshot, and that the
merge subsequently reruns to the same final state as a never-crashed
run. The bulk move-in window is the one where a BLIND rerun would be
wrong (survivors double-counted), which is exactly why recovery exists.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    QUARANTINE_DIR,
    REMOVED_DIR,
    merge_bulk,
    merge_upsert,
    read_version,
    recover_to_last_manifest,
    verify_snapshot,
    write_versioned_manifest,
)

N = 1_000
FILES = 4


def _mk_table(spark, path):
    base = spark.range(0, N).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    write_range_clustered(base, path, "k", FILES)
    write_versioned_manifest(path)


def _rows(spark, path):
    return sorted((r.k, r.v) for r in spark.read.parquet(path).collect())


def _updates(spark):
    return spark.createDataFrame(
        [(int(k), -1) for k in range(0, N, 5)] + [(N + 7, -2), (N + 8, -2)],
        "k long, v long",
    )


def _data_parquets(path):
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _clean_run_state(spark, tmp_path, bulk):
    ref = str(tmp_path / "ref")
    _mk_table(spark, ref)
    if bulk:
        merge_bulk(spark, ref, "k", _updates(spark), n_files=FILES)
    else:
        merge_upsert(spark, ref, "k", _updates(spark))
    return _rows(spark, ref)


def _simulate_partial_rewrite(spark, path, victim_key=5):
    """Replicate rewrite_one's on-disk effect on ONE file, then 'crash'
    before the remaining candidates / append / manifest."""
    f = _data_parquets(path)[0]
    survivors = spark.read.parquet(f).where(F.col("k") != victim_key)
    tmp = f + ".rewrite"
    survivors.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
    new_name = f[: -len(".parquet")] + ".m2.parquet"
    os.replace(os.path.join(tmp, part), new_name)
    rel = os.path.relpath(f, path)
    tomb = os.path.join(path, REMOVED_DIR, rel)
    os.makedirs(os.path.dirname(tomb), exist_ok=True)
    os.replace(f, tomb)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.replace(
            crc, os.path.join(os.path.dirname(tomb), f".{os.path.basename(f)}.crc")
        )
    shutil.rmtree(tmp, ignore_errors=True)


def _assert_recovered_to_v1(spark, path, v1_rows):
    stats = recover_to_last_manifest(path)
    assert stats["version"] == 1
    assert _rows(spark, path) == v1_rows
    assert verify_snapshot(os.path.join(path, "_manifests", "latest.json")) == []
    assert read_version(spark, path, 1).count() == len(v1_rows)
    return stats


def test_recover_after_partial_targeted_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    v1 = _rows(spark, path)

    _simulate_partial_rewrite(spark, path)
    # crashed state: one original tombstoned, uncommitted .m2 live
    assert any(f.endswith(".m2.parquet") for f in _data_parquets(path))

    stats = _assert_recovered_to_v1(spark, path, v1)
    assert stats["restored"] == 1 and stats["quarantined"] == 1
    # uncommitted rewrite is inspectable, not gone
    assert any(
        f.endswith(".m2.parquet")
        for f, _, fs in [(r, d, fs) for r, d, fs in os.walk(os.path.join(path, QUARANTINE_DIR))]
        for f in fs
    )

    res = merge_upsert(spark, path, "k", _updates(spark))
    assert res["rows_inserted"] == 2
    assert _rows(spark, path) == _clean_run_state(spark, tmp_path, bulk=False)


def test_recover_after_partial_append(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    v1 = _rows(spark, path)

    # crash mid-append: some update rows already landed as a data file
    _updates(spark).limit(50).coalesce(1).write.mode("append").parquet(path)
    assert len(_rows(spark, path)) > len(v1)

    stats = _assert_recovered_to_v1(spark, path, v1)
    assert stats["quarantined"] == 1 and stats["restored"] == 0

    merge_upsert(spark, path, "k", _updates(spark))
    assert _rows(spark, path) == _clean_run_state(spark, tmp_path, bulk=False)


def test_recover_after_bulk_staging_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    v1 = _rows(spark, path)

    staging = os.path.join(path, ".bulk.v2.staging")
    spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ).write.parquet(staging)

    stats = _assert_recovered_to_v1(spark, path, v1)
    assert stats["staging_removed"] == 1 and stats["quarantined"] == 0
    assert not os.path.exists(staging)

    merge_bulk(spark, path, "k", _updates(spark), n_files=FILES)
    assert _rows(spark, path) == _clean_run_state(spark, tmp_path, bulk=True)


def _simulate_bulk_movein(spark, path, tombstone: bool):
    """The merged output is already moved in under bulk-v2-* names;
    optionally the originals are tombstoned too (the next protocol
    step); the manifest write never happened."""
    originals = _data_parquets(path)
    target = spark.read.parquet(path)
    updates = _updates(spark)
    merged = target.join(
        updates.select("k").distinct(), "k", "left_anti"
    ).unionByName(updates)
    staging = os.path.join(path, ".bulk.v2.staging")
    merged.repartition(FILES).write.parquet(staging)
    parts = [p for p in os.listdir(staging) if p.endswith(".parquet")]
    for i, p in enumerate(parts):
        os.replace(
            os.path.join(staging, p), os.path.join(path, f"bulk-v2-{i:05d}.parquet")
        )
    shutil.rmtree(staging, ignore_errors=True)
    if tombstone:
        for f in originals:
            rel = os.path.relpath(f, path)
            tomb = os.path.join(path, REMOVED_DIR, rel)
            os.makedirs(os.path.dirname(tomb), exist_ok=True)
            os.replace(f, tomb)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.replace(
                    crc,
                    os.path.join(
                        os.path.dirname(tomb), f".{os.path.basename(f)}.crc"
                    ),
                )


def test_recover_after_bulk_movein_before_tombstones(spark, tmp_path):
    """THE window where a blind rerun is wrong: old and new files are
    both live, so the raw view double-counts survivors and a rerun
    would merge duplicates into the output. Recovery quarantines the
    uncommitted bulk files; the rerun then matches the clean run."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    v1 = _rows(spark, path)

    _simulate_bulk_movein(spark, path, tombstone=False)
    assert len(_rows(spark, path)) > N  # double-counting, the hazard

    stats = _assert_recovered_to_v1(spark, path, v1)
    assert stats["quarantined"] == FILES and stats["restored"] == 0

    merge_bulk(spark, path, "k", _updates(spark), n_files=FILES)
    assert _rows(spark, path) == _clean_run_state(spark, tmp_path, bulk=True)


def test_recover_after_bulk_tombstones_before_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    v1 = _rows(spark, path)

    _simulate_bulk_movein(spark, path, tombstone=True)

    stats = _assert_recovered_to_v1(spark, path, v1)
    assert stats["restored"] == FILES and stats["quarantined"] == FILES

    merge_bulk(spark, path, "k", _updates(spark), n_files=FILES)
    assert _rows(spark, path) == _clean_run_state(spark, tmp_path, bulk=True)


def test_recovery_never_restores_committed_tombstones(spark, tmp_path):
    """Files tombstoned by a COMMITTED merge are referenced only by
    OLDER manifests; recovery must leave them in _removed (restoring
    them would resurrect replaced rows into the live view)."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    res = merge_upsert(spark, path, "k", _updates(spark))
    assert res["files_rewritten"] >= 1
    committed = _rows(spark, path)

    stats = recover_to_last_manifest(path)
    assert stats == {
        "version": res["version"], "restored": 0,
        "quarantined": 0, "staging_removed": 0, "claims_removed": 0,
    }
    assert _rows(spark, path) == committed
    # time travel through the tombstones still works after recovery
    assert read_version(spark, path, 1).count() == N


def test_recovery_requires_a_manifest(spark, tmp_path):
    import pytest

    path = str(tmp_path / "bare")
    spark.range(5).write.parquet(path)
    with pytest.raises(FileNotFoundError, match="no manifest"):
        recover_to_last_manifest(path)


def test_concurrent_snapshot_claim_loses_loudly_then_recovers(
    spark, tmp_path, monkeypatch
):
    """Two writers racing for the same snapshot version: the O_EXCL
    claim of v{N}.json is the CAS, and the loser must raise
    ConcurrentSnapshotError instead of silently overwriting the
    winner's snapshot. The race window (between listing versions and
    claiming) is microseconds wide, so the test loses it
    deterministically through the module's claim interposer. The
    loser's already-moved files are uncommitted orphans; recovery
    quarantines them, restores crashed tombstones, drops the stale
    claim, and the rerun converges to the clean-run state."""
    import json

    import pytest

    from data_pipeline_project_spark.sinks import manifest as m

    path = str(tmp_path / "t")
    _mk_table(spark, path)
    v1 = _rows(spark, path)

    def competing_writer(version, mdir):
        # the other writer wins the slot with a fully-committed copy of
        # v1's manifest (content is irrelevant to the CAS; valid JSON
        # keeps any concurrent reads sane)
        with open(os.path.join(mdir, "v1.json")) as fh:
            committed = json.load(fh)
        with open(os.path.join(mdir, f"v{version}.json"), "w") as fh:
            json.dump(committed, fh)

    monkeypatch.setattr(m, "_test_claim_interposer", competing_writer)
    with pytest.raises(m.ConcurrentSnapshotError, match="v2"):
        merge_upsert(spark, path, "k", _updates(spark))
    monkeypatch.setattr(m, "_test_claim_interposer", None)

    # the loser had already rewritten/tombstoned/appended before its
    # commit failed: recovery puts the table back to committed v1
    stats = _assert_recovered_to_v1(spark, path, v1)
    assert stats["claims_removed"] == 1  # the stale v2 claim
    assert stats["quarantined"] >= 1     # the loser's orphan output

    res = merge_upsert(spark, path, "k", _updates(spark))
    assert res["version"] == 2
    assert _rows(spark, path) == _clean_run_state(spark, tmp_path, bulk=False)


def test_vacuum_purges_quarantine_only_on_opt_in(spark, tmp_path):
    """Quarantine is for human inspection; only an explicit
    vacuum(purge_quarantine=True) — the retention decision point —
    discards it."""
    from data_pipeline_project_spark.sinks.manifest import vacuum

    path = str(tmp_path / "t")
    _mk_table(spark, path)
    _simulate_bulk_movein(spark, path, tombstone=False)
    stats = recover_to_last_manifest(path)
    assert stats["quarantined"] == FILES
    qroot = os.path.join(path, QUARANTINE_DIR)
    assert os.path.isdir(qroot)

    merge_upsert(spark, path, "k", _updates(spark))  # v2, so vacuum has work
    res = vacuum(path, keep_versions=1)
    assert res["quarantine_purged"] == 0 and os.path.isdir(qroot)

    res2 = vacuum(path, keep_versions=1, purge_quarantine=True)
    assert res2["quarantine_purged"] == FILES
    assert not os.path.exists(qroot)
