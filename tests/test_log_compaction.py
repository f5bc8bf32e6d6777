"""Snapshot-log compaction (manifest.compact_log): delta-encode
historical version manifests with periodic full keyframes.

Every commit writes a full file list — O(1) head reads, but log
storage O(versions x files). compact_log rewrites eligible history as
{base, removed, added} deltas; read_manifest resolves chains
transparently; vacuum materializes kept deltas whose bases it drops.
These tests pin the whole contract: every snapshot byte-identical
through compaction, history/diff/clone/time-travel unchanged,
idempotency, the churn>=table keyframe rule, the vacuum interplay, and
the maintenance-plan integration.

Reference parity note: the reference keeps no snapshot log at all
(pipeline.py overwrites in place); this is extension-tier lakehouse
machinery patterned on Delta's checkpointed log, re-expressed for a
full-snapshot manifest chain.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    clone_snapshot,
    commit_optimistic,
    compact_log,
    delete_rows_dv,
    merge_upsert,
    read_manifest,
    read_version,
    rename_column,
    rewrite_table,
    snapshot_diff,
    snapshot_versions,
    table_history,
    vacuum,
    verify_snapshot,
    write_versioned_manifest,
)


def _mdir(path):
    return os.path.join(path, "_manifests")


def _raw(path, v):
    with open(os.path.join(_mdir(path), f"v{v}.json")) as fh:
        return json.load(fh)


def _build_history(spark, path):
    """A realistic mixed history: bootstrap, appends, targeted merge,
    DV delete, rename — 7 versions of genuine churn."""
    base = spark.range(0, 2_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "user_id", 4)
    write_versioned_manifest(path)  # v1 bootstrap
    append_snapshot(
        spark,
        path,
        spark.range(2_000, 2_300).select(
            F.col("id").alias("user_id"), F.lit(-1).alias("v")
        ),
    )  # v2
    merge_upsert(
        spark, path, "user_id",
        spark.range(100, 160).select(
            F.col("id").alias("user_id"), F.lit(-2).alias("v")
        ),
    )  # v3
    delete_rows_dv(
        spark, path, "user_id",
        spark.createDataFrame([(5,), (6,), (7,)], "user_id long"),
    )  # v4
    append_snapshot(
        spark,
        path,
        spark.range(2_300, 2_400).select(
            F.col("id").alias("user_id"), F.lit(-3).alias("v")
        ),
    )  # v5
    rename_column(spark, path, "v", "val")  # v6
    merge_upsert(
        spark, path, "user_id",
        spark.range(0, 40).select(
            F.col("id").alias("user_id"), F.lit(-4).alias("val")
        ),
    )  # v7


def _snapshot_rows(spark, path, v):
    df = read_version(spark, path, v)
    return sorted(tuple(r) for r in df.collect())


def test_compact_log_preserves_every_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    _build_history(spark, path)
    versions = snapshot_versions(path)
    assert len(versions) == 7

    before_rows = {v: _snapshot_rows(spark, path, v) for v in versions}
    before_history = table_history(path)
    before_diff = snapshot_diff(spark, path, 1, 7)

    res = compact_log(path, keep_full_every=3, keep_recent=2)
    assert res["versions"] == 7
    assert res["compacted"] >= 3
    assert res["log_bytes_after"] < res["log_bytes_before"]

    # structure: v1 full (bootstrap/first), newest 2 full, keyframes
    # bound every chain below keep_full_every
    raws = {v: _raw(path, v) for v in versions}
    assert "files" in raws[1]
    assert "files" in raws[6] and "files" in raws[7]  # keep_recent=2
    assert any("files_delta" in raws[v] for v in versions)
    chain = 0
    for v in versions:
        if "files_delta" in raws[v]:
            chain += 1
            assert chain < 3  # keep_full_every bounds the chain
            # delta bases point at the immediate predecessor
            assert raws[v]["files_delta"]["base"] == v - 1
        else:
            chain = 0

    # every snapshot reads byte-identically through the resolver
    for v in versions:
        assert _snapshot_rows(spark, path, v) == before_rows[v], v
        assert verify_snapshot(os.path.join(_mdir(path), f"v{v}.json")) == []
    # history (resolve=False walk) and diff (resolved files) unchanged
    assert table_history(path) == before_history
    assert snapshot_diff(spark, path, 1, 7) == before_diff

    # resolved manifests carry identical totals to what they recorded
    for v in versions:
        m = read_manifest(os.path.join(_mdir(path), f"v{v}.json"))
        assert m["n_files"] == len(m["files"])
        assert m["total_rows"] == sum(f["rows"] for f in m["files"])


def test_compact_log_idempotent_then_writers_continue(spark, tmp_path):
    path = str(tmp_path / "t")
    _build_history(spark, path)
    compact_log(path, keep_full_every=3, keep_recent=2)
    sizes = {
        f: os.path.getsize(os.path.join(_mdir(path), f))
        for f in os.listdir(_mdir(path))
        if f.endswith(".json")
    }

    # idempotent: second run converts nothing, bytes identical
    res2 = compact_log(path, keep_full_every=3, keep_recent=2)
    assert res2["compacted"] == 0
    assert res2["log_bytes_after"] == res2["log_bytes_before"]
    assert sizes == {
        f: os.path.getsize(os.path.join(_mdir(path), f))
        for f in os.listdir(_mdir(path))
        if f.endswith(".json")
    }

    # new commits land normally on the compacted log
    append_snapshot(
        spark,
        path,
        spark.range(9_000, 9_050).select(
            F.col("id").alias("user_id"), F.lit(-9).alias("val")
        ),
    )
    assert read_version(spark, path).where("user_id >= 9000").count() == 50

    # intent checks that walk ACROSS the compacted region read txn
    # stamps from delta manifests without resolving them. Two probes:
    # (a) a commuting walk over delta-encoded appends/merges commits;
    # (b) a schema change that compaction delta-encoded still
    #     conflicts loudly (the txn stamp survives delta encoding).
    from data_pipeline_project_spark.sinks.manifest import (
        ConcurrentSnapshotError,
    )

    probe = str(tmp_path / "probe")
    write_range_clustered(
        spark.range(0, 300).select(
            F.col("id").alias("user_id"), F.lit(0).alias("v")
        ),
        probe, "user_id", 2,
    )
    write_versioned_manifest(probe)
    for i in range(4):
        append_snapshot(
            spark,
            probe,
            spark.range(500 + i * 10, 510 + i * 10).select(
                F.col("id").alias("user_id"), F.lit(-1).alias("v")
            ),
        )
    compact_log(probe, keep_full_every=8, keep_recent=1)
    assert all("files_delta" in _raw(probe, v) for v in (2, 3, 4))
    m = commit_optimistic(
        probe,
        added=[],
        removed=[],
        intent={
            "op": "metadata",
            "removed": [],
            "dv_targets": [],
            "schema_change": False,
            "row_preserving": True,
        },
        base_version=1,  # forces intent checks over v2..head incl. deltas
        extra={"probe": True},
    )
    assert m["version"] == snapshot_versions(probe)[-1]

    # (b) on the main table: re-compact with keep_recent=1 so the v6
    # rename itself delta-encodes, then rebase across it
    compact_log(path, keep_full_every=3, keep_recent=1)
    assert "files_delta" in _raw(path, 6)
    with pytest.raises(ConcurrentSnapshotError, match="schema"):
        commit_optimistic(
            path,
            added=[],
            removed=[],
            intent={
                "op": "append",
                "removed": [],
                "dv_targets": [],
                "schema_change": False,
                "inserts_only": True,
            },
            base_version=5,  # v6 is the rename — delta-encoded, conflicts
        )


def test_compact_log_bulk_rewrite_is_natural_keyframe(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("v")
    )
    write_range_clustered(base, path, "user_id", 3)
    write_versioned_manifest(path)  # v1
    append_snapshot(
        spark,
        path,
        spark.range(1_000, 1_050).select(
            F.col("id").alias("user_id"), F.lit(-1).alias("v")
        ),
    )  # v2 (small churn)
    rewrite_table(spark, path, "user_id", n_files=3)  # v3: whole table
    for i in range(3):  # v4..v6 small appends
        append_snapshot(
            spark,
            path,
            spark.range(2_000 + i * 10, 2_010 + i * 10).select(
                F.col("id").alias("user_id"), F.lit(-2).alias("v")
            ),
        )
    compact_log(path, keep_full_every=10, keep_recent=2)
    # v2 delta (small churn); v3 FULL (bulk rewrite: delta >= table);
    # v4 delta against v3
    assert "files_delta" in _raw(path, 2)
    assert "files" in _raw(path, 3)
    assert "files_delta" in _raw(path, 4)
    assert _raw(path, 4)["files_delta"]["base"] == 3
    for v in snapshot_versions(path):
        assert verify_snapshot(os.path.join(_mdir(path), f"v{v}.json")) == []


def test_vacuum_materializes_stranded_chains(spark, tmp_path):
    path = str(tmp_path / "t")
    _build_history(spark, path)
    compact_log(path, keep_full_every=10, keep_recent=1)  # long chain
    rows_v5 = _snapshot_rows(spark, path, 5)
    rows_v7 = _snapshot_rows(spark, path, 7)
    assert "files_delta" in _raw(path, 5)

    # dry run first: reports, but mutates NO manifest bytes
    sizes_before = {
        f: os.path.getsize(os.path.join(_mdir(path), f))
        for f in os.listdir(_mdir(path))
        if f.endswith(".json")
    }
    dry = vacuum(path, keep_versions=3, dry_run=True)
    assert dry["dry_run"] and dry["versions_dropped"] == 4
    assert sizes_before == {
        f: os.path.getsize(os.path.join(_mdir(path), f))
        for f in os.listdir(_mdir(path))
        if f.endswith(".json")
    }

    # real vacuum drops v1..v4 — v5 (kept, delta base v4) must have
    # been materialized to full or its chain is stranded
    res = vacuum(path, keep_versions=3)
    assert res["versions_dropped"] == 4
    assert snapshot_versions(path) == [5, 6, 7]
    assert "files" in _raw(path, 5)
    assert _snapshot_rows(spark, path, 5) == rows_v5
    assert _snapshot_rows(spark, path, 7) == rows_v7
    with pytest.raises(FileNotFoundError):
        read_version(spark, path, 2)


def test_clone_from_compacted_version(spark, tmp_path):
    path = str(tmp_path / "t")
    _build_history(spark, path)
    compact_log(path, keep_full_every=4, keep_recent=2)
    assert "files_delta" in _raw(path, 4)
    rows_v4 = _snapshot_rows(spark, path, 4)

    shallow = str(tmp_path / "shallow")
    clone_snapshot(path, shallow, version=4)
    assert sorted(
        tuple(r) for r in read_version(spark, shallow, 1).collect()
    ) == rows_v4

    deep = str(tmp_path / "deep")
    info = clone_snapshot(path, deep, version=4, deep=True)
    assert info["deep"] and info["source_version"] == 4
    assert sorted(
        tuple(r) for r in read_version(spark, deep, 1).collect()
    ) == rows_v4


def test_maintenance_plan_and_run_execute_compact_log(spark, tmp_path):
    from data_pipeline_project_spark.sinks.layout import (
        maintenance_plan,
        run_maintenance,
        table_health,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 500).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("v")
    )
    write_range_clustered(base, path, "user_id", 4)
    write_versioned_manifest(path)
    for i in range(16):  # 17 versions of full manifests
        append_snapshot(
            spark,
            path,
            spark.range(1_000 + i * 10, 1_010 + i * 10).select(
                F.col("id").alias("user_id"), F.lit(-1).alias("v")
            ),
        )
    health = table_health(path)
    assert health["log_bytes"] > 8 * health["latest_manifest_bytes"]
    # suppress the (also-true) small-file compact advice so the run
    # isolates the log action and the head manifest's size is stable
    th = {"small_file_fraction": 1.1, "ndv_coverage_min": 0.0}
    plan = maintenance_plan(health, th)
    assert [a["action"] for a in plan] == ["compact_log"]

    res = run_maintenance(spark, path, thresholds=th)
    done = {e["action"]: e for e in res["executed"]}
    assert done["compact_log"]["compacted"] > 0
    assert (
        done["compact_log"]["log_bytes_after"]
        < done["compact_log"]["log_bytes_before"]
    )
    # healthy afterwards: the advice clears
    health2 = table_health(path)
    assert not any(
        a["action"] == "compact_log" for a in maintenance_plan(health2, th)
    )
    assert health2["log_bytes"] < health["log_bytes"] / 2
    # and every snapshot still reads
    for v in snapshot_versions(path):
        assert read_version(spark, path, v).count() > 0


def test_vacuum_time_based_retention(spark, tmp_path):
    """older_than: wall-clock retention (Delta's RETAIN) — versions
    committed at/after the cutoff survive beyond the structural floor;
    the floor (keep_versions) always holds."""
    path = str(tmp_path / "t")
    _build_history(spark, path)  # 7 versions
    mdir = _mdir(path)
    ca = {
        v: read_manifest(
            os.path.join(mdir, f"v{v}.json"), resolve=False
        )["committed_at"]
        for v in snapshot_versions(path)
    }
    # cutoff at v4's commit instant: v4..v7 are young, v1..v3 drop
    res = vacuum(path, keep_versions=1, older_than=ca[4] / 1000.0)
    assert res["versions_dropped"] == 3
    assert snapshot_versions(path) == [4, 5, 6, 7]
    # cutoff in the future: only the structural floor survives
    res2 = vacuum(path, keep_versions=2, older_than=(ca[7] + 10_000) / 1000.0)
    assert snapshot_versions(path) == [6, 7]
    # epoch-0 cutoff: everything is young — nothing drops
    res3 = vacuum(path, keep_versions=1, older_than=0)
    assert res3["versions_dropped"] == 0
    assert snapshot_versions(path) == [6, 7]


def test_cdc_feed_across_compacted_log(spark, tmp_path):
    """snapshot_changes spanning delta-encoded versions equals the
    pre-compaction feed row for row (the resolver is transparent to
    the change-feed reader)."""
    from data_pipeline_project_spark.sinks.manifest import snapshot_changes

    path = str(tmp_path / "t")
    _build_history(spark, path)

    def feed(v_from, v_to):
        return sorted(
            tuple(r) for r in snapshot_changes(spark, path, v_from, v_to).collect()
        )

    pairs = [(1, 7), (2, 5), (3, 4)]
    before = {p: feed(*p) for p in pairs}
    compact_log(path, keep_full_every=3, keep_recent=1)
    raws = {v: _raw(path, v) for v in snapshot_versions(path)}
    assert sum("files_delta" in r for r in raws.values()) >= 4
    for p in pairs:
        assert feed(*p) == before[p], p


def test_cdc_feed_by_timestamp(spark, tmp_path):
    """snapshot_changes with wall-clock endpoints resolves through
    version_as_of and equals the version-addressed feed; selector
    misuse is loud."""
    from data_pipeline_project_spark.sinks.manifest import snapshot_changes

    path = str(tmp_path / "t")
    _build_history(spark, path)
    mdir = _mdir(path)
    ca = {
        v: read_manifest(
            os.path.join(mdir, f"v{v}.json"), resolve=False
        )["committed_at"]
        for v in snapshot_versions(path)
    }
    want = sorted(
        tuple(r) for r in snapshot_changes(spark, path, 2, 5).collect()
    )
    got = sorted(
        tuple(r)
        for r in snapshot_changes(
            spark, path, from_ts=ca[2] / 1000.0, to_ts=ca[5] / 1000.0
        ).collect()
    )
    assert got == want and want

    with pytest.raises(ValueError, match="exactly one of v_from"):
        snapshot_changes(spark, path, 2, 5, from_ts=ca[2] / 1000.0)
    with pytest.raises(ValueError, match="exactly one of v_to"):
        snapshot_changes(spark, path, v_from=2)
