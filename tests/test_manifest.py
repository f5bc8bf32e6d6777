"""Snapshot manifests (sinks/manifest.py): reads pinned to a file set,
immune to concurrent appends, loud on deletion, auditable offline."""

import os

from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    read_snapshot,
    verify_snapshot,
    write_manifest,
)


def test_snapshot_read_ignores_later_appends(spark, tmp_path):
    path = str(tmp_path / "corpus")
    spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("v1").alias("tag")
    ).repartition(4).write.parquet(path)

    manifest = write_manifest(path)
    assert manifest["total_rows"] == 100 and manifest["n_files"] == 4

    # concurrent ingest appends more rows AFTER the snapshot
    spark.range(100, 150).select(
        F.col("id").alias("doc_id"), F.lit("v2").alias("tag")
    ).repartition(2).write.mode("append").parquet(path)

    assert spark.read.parquet(path).count() == 150       # live view grew
    snap = read_snapshot(spark, manifest)
    assert snap.count() == 100                            # snapshot didn't
    assert {r.tag for r in snap.select("tag").distinct().collect()} == {"v1"}

    # the manifest file itself round-trips
    snap2 = read_snapshot(spark, os.path.join(path, "_manifest.json"))
    assert snap2.count() == 100


def test_snapshot_fails_loudly_on_deleted_file_and_audits(spark, tmp_path):
    import pytest

    path = str(tmp_path / "corpus")
    spark.range(0, 40).toDF("doc_id").repartition(4).write.parquet(path)
    manifest = write_manifest(path)
    assert verify_snapshot(manifest) == []

    victim = os.path.join(path, manifest["files"][0]["path"])
    os.remove(victim)
    problems = verify_snapshot(manifest)
    assert len(problems) == 1 and problems[0].startswith("missing:")
    with pytest.raises(FileNotFoundError, match="unreproducible"):
        read_snapshot(spark, manifest)


def test_targeted_delete_rewrites_only_touched_files(spark, tmp_path):
    """GDPR-shape delete on a range-clustered layout: rows gone, every
    file whose zone map excludes the keys stays BYTE-IDENTICAL, and a
    rerun of the same delete is a no-op (idempotent)."""
    import hashlib

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import delete_rows_targeted

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    write_range_clustered(df, path, "user_id", 10)

    def snap():
        return {
            e["path"]: hashlib.md5(
                open(os.path.join(path, e["path"]), "rb").read()
            ).hexdigest()
            for e in write_manifest(path)["files"]
        }

    before = snap()
    # keys clustered in one file's range (plus one far key -> 2 files)
    keys = spark.createDataFrame(
        [(5,), (17,), (42,), (9_500,)], ["user_id"]
    )
    stats = delete_rows_targeted(spark, path, "user_id", keys)
    assert stats["rows_deleted"] == 4
    assert 1 <= stats["files_rewritten"] <= 2

    after = snap()
    unchanged = [f for f in before if before[f] == after.get(f)]
    assert len(unchanged) >= len(before) - 2   # untouched files byte-identical
    assert spark.read.parquet(path).count() == 9_996
    assert (
        spark.read.parquet(path)
        .where(F.col("user_id").isin([5, 17, 42, 9_500]))
        .count()
        == 0
    )

    # idempotent rerun: nothing to delete, nothing rewritten
    stats2 = delete_rows_targeted(spark, path, "user_id", keys)
    assert stats2["rows_deleted"] == 0 and stats2["files_rewritten"] == 0
    assert snap() == after


def test_versioned_snapshots_time_travel(spark, tmp_path):
    """v1 written, data appended, v2 written: reading v1 returns the
    old corpus, v2/latest the new one; versions enumerate in order."""
    from data_pipeline_project_spark.sinks.manifest import (
        read_version,
        snapshot_versions,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(0, 60).toDF("doc_id").repartition(2).write.parquet(path)
    m1 = write_versioned_manifest(path)
    spark.range(60, 100).toDF("doc_id").repartition(2).write.mode(
        "append"
    ).parquet(path)
    m2 = write_versioned_manifest(path)

    assert (m1["version"], m2["version"]) == (1, 2)
    assert snapshot_versions(path) == [1, 2]
    assert read_version(spark, path, 1).count() == 60
    assert read_version(spark, path, 2).count() == 100
    assert read_version(spark, path).count() == 100  # latest


def test_snapshot_keeps_partition_columns(spark, tmp_path):
    """Explicit-file-list reads must keep hive partition columns
    (basePath) — a snapshot of a partitioned corpus that silently
    drops `shard` would corrupt downstream writes."""
    from data_pipeline_project_spark.sinks.manifest import (
        read_snapshot,
        write_manifest,
    )

    path = str(tmp_path / "p")
    spark.range(0, 100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("shard")
    ).write.partitionBy("shard").parquet(path)
    snap = read_snapshot(spark, write_manifest(path))
    assert "shard" in snap.columns
    assert snap.select("shard").distinct().count() == 4


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    """Copy-on-write MERGE: matched keys get their rows REPLACED, new
    keys are appended, files outside the matched key ranges stay
    byte-identical, and the post-merge state equals a full-rewrite
    reference merge."""
    import hashlib

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import merge_upsert

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    write_range_clustered(df, path, "user_id", 10)

    def snap():
        return {
            e["path"]: hashlib.md5(
                open(os.path.join(path, e["path"]), "rb").read()
            ).hexdigest()
            for e in write_manifest(path)["files"]
        }

    before = snap()
    # two clustered update keys + one insert key beyond the table range
    updates = spark.createDataFrame(
        [(5, -1), (17, -2), (20_000, -3)], ["user_id", "v"]
    )
    stats = merge_upsert(spark, path, "user_id", updates)
    assert stats["rows_updated"] == 2
    assert stats["rows_inserted"] == 1
    assert 1 <= stats["files_rewritten"] <= 2
    assert stats["version"] >= 1

    after = snap()
    unchanged = [f for f in before if before[f] == after.get(f)]
    assert len(unchanged) >= len(before) - 2

    got = spark.read.parquet(path)
    assert got.count() == 10_001
    m = {r.user_id: r.v for r in got.where(F.col("user_id").isin([5, 17, 20_000, 42])).collect()}
    assert m == {5: -1, 17: -2, 20_000: -3, 42: 42 % 97}

    # MERGE is idempotent for the same update set: replaced rows are
    # replaced again, final state unchanged.
    stats2 = merge_upsert(spark, path, "user_id", updates)
    assert stats2["rows_updated"] == 3 and stats2["rows_inserted"] == 0
    got2 = spark.read.parquet(path)
    assert got2.count() == 10_001
    assert {r.user_id: r.v for r in got2.where(F.col("user_id").isin([5, 17, 20_000])).collect()} == {
        5: -1, 17: -2, 20_000: -3
    }


def test_merge_upsert_rejects_duplicate_source_keys_and_schema_drift(spark, tmp_path):
    import pytest

    from data_pipeline_project_spark.sinks.manifest import merge_upsert

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    ).write.parquet(path)

    dup = spark.createDataFrame([(1, 10), (1, 11)], ["user_id", "v"])
    with pytest.raises(ValueError, match="cardinality"):
        merge_upsert(spark, path, "user_id", dup)

    drift = spark.createDataFrame([(1, 10, "x")], ["user_id", "v", "extra"])
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, path, "user_id", drift)


def test_merge_upsert_time_travel_until_vacuum(spark, tmp_path):
    """Replaced files are TOMBSTONED (moved to the hidden _removed/
    area), so the pre-merge snapshot stays readable with its OLD values
    — time travel across a merge — while directory reads see only the
    post-merge state. vacuum() then reclaims the tombstones and the
    dropped version fails loudly, never silently serving merged bytes
    as the old version."""
    import pytest

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        read_version,
        vacuum,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, path, "user_id", 4)
    v1 = write_versioned_manifest(path)["version"]

    updates = spark.createDataFrame([(5, -1)], ["user_id", "v"])
    stats = merge_upsert(spark, path, "user_id", updates)
    assert stats["files_rewritten"] == 1

    # post-merge latest sees the update; time travel to v1 sees the old
    # value; the directory read sees exactly one row for the key.
    assert read_version(spark, path).where("user_id = 5").first().v == -1
    assert read_version(spark, path, v1).where("user_id = 5").first().v == 5 % 7
    assert spark.read.parquet(path).where("user_id = 5").count() == 1

    # vacuum keeps only the newest version: v1 is gone and says so.
    res = vacuum(path, keep_versions=1)
    assert res["versions_dropped"] >= 1 and res["tombstones_deleted"] >= 1
    with pytest.raises(FileNotFoundError, match="unreproducible"):
        read_version(spark, path, v1).count()
    # the surviving (latest) version still reads fine post-vacuum.
    assert read_version(spark, path).where("user_id = 5").first().v == -1


def test_snapshot_diff_counts_churn_only(spark, tmp_path):
    """Version diff after a merge: the row delta equals the merge's
    updates+inserts, and shared (untouched) files are excluded from the
    data read entirely."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        snapshot_diff,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    write_range_clustered(df, path, "user_id", 10)
    v1 = write_versioned_manifest(path)["version"]

    updates = spark.createDataFrame(
        [(5, -1), (17, -2), (20_000, -3)], ["user_id", "v"]
    )
    stats = merge_upsert(spark, path, "user_id", updates)
    d = snapshot_diff(spark, path, v1, stats["version"])

    # added: 3 update rows + survivors rewritten into new files;
    # removed: the old versions of the same rewritten files. Net = +1.
    assert d["rows_added"] - d["rows_removed"] == 1
    # updated keys churn both sides: the 2 old rows removed, 2 new + 1
    # inserted added (plus nothing else — survivors dedupe via exceptAll)
    assert d["rows_removed"] == 2 and d["rows_added"] == 3
    assert d["files_shared"] >= 8  # untouched clustered files
    assert d["files_added"] >= 2 and d["files_removed"] >= 1


def test_checked_write_gates_on_expectations(spark, tmp_path):
    from data_pipeline_project_spark.operators.expectations import (
        expect_between,
        expect_not_null,
    )
    from data_pipeline_project_spark.sinks.manifest import checked_write

    path = str(tmp_path / "t")
    good = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("double").alias("v")
    )
    rules = [expect_not_null("v"), expect_between("v", 0, 4)]
    res = checked_write(good, path, rules)
    assert res["passed"] and res["version"] == 1
    assert spark.read.parquet(path).count() == 100

    bad = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(99.0).alias("v")
    )
    res2 = checked_write(bad, path, rules)
    assert not res2["passed"]
    failed = [name for name, _, ok in res2["report"] if not ok]
    assert failed == ["between(v)"] or any("between" in f for f in failed)
    # nothing written, no version bump
    assert spark.read.parquet(path).count() == 100
    from data_pipeline_project_spark.sinks.manifest import snapshot_versions

    assert snapshot_versions(path) == [1]


def test_read_with_schema_evolution_add_and_rename(spark, tmp_path):
    from data_pipeline_project_spark.sinks.manifest import (
        read_with_schema_evolution,
    )

    path = str(tmp_path / "t")
    # era 1: (user_id, temp)  — old physical name
    spark.createDataFrame([(1, 20.0), (2, 21.0)], ["user_id", "temp"]).write.mode(
        "append"
    ).parquet(path)
    # era 2: renamed temp -> temperature, added humidity
    spark.createDataFrame(
        [(3, 22.5, 0.4)], ["user_id", "temperature", "humidity"]
    ).write.mode("append").parquet(path)

    got = read_with_schema_evolution(spark, path, renames={"temp": "temperature"})
    rows = {r.user_id: (r.temperature, r.humidity) for r in got.collect()}
    assert rows[1] == (20.0, None) and rows[2] == (21.0, None)
    assert rows[3] == (22.5, 0.4)
    assert set(got.columns) == {"user_id", "temperature", "humidity"}


def test_snapshot_changes_cdc_feed(spark, tmp_path):
    """The row-level change feed across a merge: updates appear as
    delete(old)+insert(new), inserts as insert — Delta CDF convention."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        snapshot_changes,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    write_range_clustered(df, path, "user_id", 10)
    v1 = write_versioned_manifest(path)["version"]
    updates = spark.createDataFrame(
        [(5, -1), (17, -2), (20_000, -3)], ["user_id", "v"]
    )
    stats = merge_upsert(spark, path, "user_id", updates)

    feed = snapshot_changes(spark, path, v1, stats["version"]).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r._change_type, []).append((r.user_id, r.v))
    assert sorted(by_type["insert"]) == [(5, -1), (17, -2), (20_000, -3)]
    assert sorted(by_type["delete"]) == [(5, 5 % 97), (17, 17 % 97)]


def test_compact_snapshot_merges_small_files_with_time_travel(spark, tmp_path):
    """Micro-batch appends fragment the table; compact_snapshot merges
    the small files into one, the pre-compaction version still reads
    (tombstones), the data is unchanged, and a rerun is a no-op."""
    from data_pipeline_project_spark.sinks.manifest import (
        compact_snapshot,
        read_version,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    # 6 tiny appended files (micro-batch shape)
    for i in range(6):
        spark.range(i * 100, (i + 1) * 100).toDF("k").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    v1 = write_versioned_manifest(path)["version"]
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) >= 6

    stats = compact_snapshot(spark, path)
    assert stats["files_compacted"] >= 6 and stats["rows_compacted"] == 600

    live = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(live) == 1 and live[0].startswith("part-compact-")
    assert spark.read.parquet(path).count() == 600
    assert read_version(spark, path, v1).count() == 600  # time travel OK
    assert read_version(spark, path).count() == 600

    # idempotent: one big file left -> nothing to do, no version bump
    stats2 = compact_snapshot(spark, path)
    assert stats2["files_compacted"] == 0


def test_compact_snapshot_reclusters(spark, tmp_path):
    """Compaction with cluster_col: the merged file comes out SORTED,
    so its row-group zone maps are tight again after fragmented
    unordered appends."""
    from data_pipeline_project_spark.sinks.layout import file_zone_maps
    from data_pipeline_project_spark.sinks.manifest import compact_snapshot

    path = str(tmp_path / "t")
    # unordered appends: each tiny file spans the whole key range
    for i in range(4):
        spark.range(0, 1000).select(
            ((F.col("id") * 7 + i) % 1000).alias("k")
        ).coalesce(1).write.mode("append").parquet(path)

    stats = compact_snapshot(spark, path, cluster_col="k")
    assert stats["files_compacted"] == 4 and stats["rows_compacted"] == 4000
    # single compacted file, sorted: its footer min/max is exact and a
    # narrow range read touches one row group band
    zm = file_zone_maps(path, "k")
    assert len(zm) == 1
    (_, lo, hi) = zm[0]
    assert (lo, hi) == (0, 999)
    got = spark.read.parquet(path).collect()
    ks = [r.k for r in got]
    assert len(ks) == 4000


def test_lakehouse_edge_guards(spark, tmp_path):
    """Edge cases that must fail loudly or no-op cleanly: empty MERGE
    change set, vacuum(0), per-partition compaction no-op on healthy
    directories, and a cluster_col naming a partition column (constant
    within each compacted directory — a user error)."""
    import pytest

    from data_pipeline_project_spark.sinks.manifest import (
        compact_snapshot,
        merge_upsert,
        vacuum,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    ).write.parquet(path)
    v1 = write_versioned_manifest(path)["version"]

    # empty change set: committed no-op at the current version
    empty = spark.createDataFrame([], "user_id long, v long")
    stats = merge_upsert(spark, path, "user_id", empty)
    assert stats == {
        "version": v1, "files_rewritten": 0,
        "rows_updated": 0, "rows_inserted": 0,
    }
    assert spark.read.parquet(path).count() == 100

    with pytest.raises(ValueError, match="keep_versions"):
        vacuum(path, keep_versions=0)

    part = str(tmp_path / "p")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("shard")
    ).repartition(1).write.partitionBy("shard").parquet(part)
    # one file per partition directory: nothing to merge anywhere
    res = compact_snapshot(spark, part, small_bytes=1 << 30)
    assert res == {
        "files_compacted": 0, "rows_compacted": 0,
        "partitions_compacted": 0,
    }
    with pytest.raises(ValueError, match="partition column"):
        compact_snapshot(
            spark, part, small_bytes=1 << 30, cluster_col="shard"
        )


def test_zone_map_pruning_scales_to_cdc_size_key_batches(spark, tmp_path):
    """The candidate-selection step of merge_upsert/delete_rows_targeted
    must be O(files × log keys), not O(files × keys): a streaming CDC
    batch is routinely 10⁵–10⁶ keys and the table 10⁵ files, so the old
    per-file `any(k in range)` scan was ~10¹¹ Python comparisons before
    any Spark work ran. Three assertions: (1) the bisect path agrees
    with the naive oracle on adversarial synthetic zone maps, (2) a
    100k-key × 20k-file prune finishes in interpreter noise (< 2 s —
    the naive version takes minutes), (3) merge_upsert end-to-end with
    a 100k-key change batch is correct on a range-clustered table."""
    import random
    import time

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        _zone_map_candidates,
        merge_upsert,
        write_versioned_manifest,
    )

    # (1) parity with the naive oracle, including None-stat files,
    # point files (mn == mx), keys outside every range, and ranges
    # between adjacent keys.
    rng = random.Random(8)
    zone_maps = []
    for i in range(500):
        if i % 50 == 0:
            zone_maps.append((f"f{i}", None, None))      # stats absent
        else:
            mn = rng.randrange(0, 10_000)
            zone_maps.append((f"f{i}", mn, mn + rng.randrange(0, 40)))
    keys = [rng.randrange(-50, 10_100) for _ in range(300)]
    naive = [
        f for f, mn, mx in zone_maps
        if mn is None or mx is None or any(mn <= k <= mx for k in keys)
    ]
    assert _zone_map_candidates(zone_maps, keys) == naive
    assert _zone_map_candidates(zone_maps, [-1_000_000]) == [
        f for f, mn, mx in zone_maps if mn is None
    ]

    # (2) CDC-scale prune: 20k files × 100k keys.  O(files × keys)
    # would be 2×10⁹ comparisons (minutes); the bisect path is
    # ~20k × 17 and must be near-instant.
    big_maps = [(f"g{i}", i * 100, i * 100 + 99) for i in range(20_000)]
    big_keys = [rng.randrange(0, 2_000_000) for _ in range(100_000)]
    t0 = time.monotonic()
    cands = _zone_map_candidates(big_maps, big_keys)
    elapsed = time.monotonic() - t0
    # generous bound for a loaded box: the bisect path runs in ~10 ms;
    # the old O(files × keys) scan takes minutes, so 10 s still
    # separates the complexities by >10×.
    assert elapsed < 10.0, f"candidate selection took {elapsed:.2f}s"
    key_set = set(big_keys)
    assert cands == [
        f for f, mn, mx in big_maps
        if any(k in key_set for k in range(mn, mx + 1))
    ]

    # (3) end-to-end: 100k-key upsert over a clustered 200k-row table.
    path = str(tmp_path / "cdc")
    df = spark.range(0, 200_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    write_range_clustered(df, path, "user_id", 16)
    write_versioned_manifest(path)

    updates = spark.range(0, 100_000).select(
        (F.col("id") * 3).alias("user_id"),          # 0..299_997 step 3:
        F.lit(-1).alias("v"),                        # ~2/3 update, ~1/3 insert
    )
    t0 = time.monotonic()
    stats = merge_upsert(spark, path, "user_id", updates)
    wall = time.monotonic() - t0
    n_updated = len([k for k in range(0, 300_000, 3) if k < 200_000])
    assert stats["rows_updated"] == n_updated
    assert stats["rows_inserted"] == 100_000 - n_updated
    live = spark.read.parquet(path)
    assert live.count() == 200_000 + stats["rows_inserted"]
    assert live.where((F.col("user_id") % 3 == 0) & (F.col("v") != -1)).count() == 0
    assert wall < 120, f"100k-key merge took {wall:.1f}s"


def _force_spark_prune(monkeypatch) -> list:
    """Make every change batch count as CDC-scale (SPARK_PRUNE_THRESHOLD
    0), so candidate selection runs the Spark bucketed range join, and
    record each call of it that RETURNED (a TypeError fallback to the
    driver path would not count). Returns the call log."""
    from data_pipeline_project_spark.sinks import manifest as M

    calls = []
    real = M._zone_map_candidates_spark

    def counted(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append(len(out))
        return out

    monkeypatch.setattr(M, "SPARK_PRUNE_THRESHOLD", 0)
    monkeypatch.setattr(M, "_zone_map_candidates_spark", counted)
    return calls


def test_spark_side_zone_map_pruning(spark, tmp_path, monkeypatch):
    """The billion-key escape hatch: above SPARK_PRUNE_THRESHOLD keys,
    candidate selection runs a bucketed range join — the keys never
    reach the driver.
    Asserts (1) candidate parity with the driver bisect path on random
    zone maps incl. None-stat files, (2) delete/merge end-to-end
    through the spark path match the driver path's results, (3) the
    integer-stats guard raises for string keys and auto falls back."""
    import random

    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        _zone_map_candidates,
        _zone_map_candidates_spark,
        delete_rows_targeted,
        merge_upsert,
        write_versioned_manifest,
    )

    # (1) parity on synthetic maps
    rng = random.Random(11)
    zone_maps = []
    for i in range(300):
        if i % 40 == 0:
            zone_maps.append((f"f{i}", None, None))
        else:
            mn = rng.randrange(0, 50_000)
            zone_maps.append((f"f{i}", mn, mn + rng.randrange(0, 500)))
    keys = [rng.randrange(-100, 51_000) for _ in range(2_000)]
    kdf = spark.createDataFrame([(k,) for k in keys], ["k"])
    spark_c = _zone_map_candidates_spark(spark, zone_maps, kdf, "k")
    driver_c = _zone_map_candidates(zone_maps, keys)
    assert spark_c == driver_c

    # (2) end-to-end through the spark path
    calls = _force_spark_prune(monkeypatch)
    path = str(tmp_path / "t")
    df = spark.range(0, 20_000).select(
        F2.col("id").alias("user_id"), (F2.col("id") % 13).alias("v")
    )
    write_range_clustered(df, path, "user_id", 8)
    write_versioned_manifest(path)
    updates = spark.range(0, 3_000).select(
        (F2.col("id") + 19_000).alias("user_id"), F2.lit(-5).alias("v")
    )
    stats = merge_upsert(spark, path, "user_id", updates)
    assert len(calls) == 1
    assert stats["rows_updated"] == 1_000 and stats["rows_inserted"] == 2_000
    live = spark.read.parquet(path)
    assert live.count() == 22_000
    assert live.where((F2.col("user_id") >= 19_000) & (F2.col("v") != -5)).count() == 0

    del_keys = spark.createDataFrame([(5,), (21_500,)], ["user_id"])
    dstats = delete_rows_targeted(spark, path, "user_id", del_keys)
    assert len(calls) == 2
    assert dstats["rows_deleted"] == 2
    # fresh read: delete is copy-on-write (survivors under a NEW name,
    # original tombstoned), so a DataFrame planned before the delete
    # pins file names that no longer exist — stale plans fail loudly
    # instead of silently serving rewritten bytes.
    assert (
        spark.read.parquet(path)
        .where(F2.col("user_id").isin([5, 21_500]))
        .count()
        == 0
    )

    # (3) unranked stat types (decimals) refuse the spark path, loudly
    # (floats rank via the IEEE bit trick as of r10 — see the dedicated
    # float test below)
    import decimal

    import pytest

    with pytest.raises(TypeError, match="no bucket rank"):
        _zone_map_candidates_spark(
            spark,
            [("f0", decimal.Decimal("1.25"), decimal.Decimal("9.75"))],
            kdf,
            "k",
        )


def test_spark_side_zone_map_pruning_string_and_date_keys(
    spark, tmp_path, monkeypatch
):
    """r9: the spark-side prune extends beyond integer stats via an
    order-preserving rank (7-byte big-endian UTF-8 prefix for strings —
    zero-padded, so 'b' ranks above 'aaa'; epoch days for dates).
    Asserts (1) candidate parity with the driver path on adversarial
    string keys (shared 8+-byte prefixes collapsing to one bucket,
    unicode, empty string, boundary hits), (2) date-key parity, (3) an
    end-to-end string-keyed merge through the spark path, (4) exact
    integer DIV bucketing at ranks beyond double precision (2^53+)."""
    import datetime
    import random

    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        _zone_map_candidates,
        _zone_map_candidates_spark,
        merge_upsert,
        write_versioned_manifest,
    )

    # (1) adversarial string geometry: long shared prefixes (every rank
    # collides into one bucket), unicode, empty string, exact-boundary
    # keys, None-stat files
    zone_maps = [
        ("f_pref1", "aaaaaaaaaa0000", "aaaaaaaaaa4999"),
        ("f_pref2", "aaaaaaaaaa5000", "aaaaaaaaaa9999"),
        ("f_uni", "héllo", "日本語のドキュメント"),
        ("f_low", "", "aaaaaaaaaa"),
        ("f_none", None, None),
        ("f_point", "kkk", "kkk"),
    ]
    keys = (
        [f"aaaaaaaaaa{i:04d}" for i in (0, 4999, 5000, 7500)]
        + ["", "zzz", "kkk", "kkj", "kkl", "héllz", "aaaaaaaaab", "日本語"]
    )
    kdf = spark.createDataFrame([(k,) for k in keys], ["k"])
    spark_c = _zone_map_candidates_spark(spark, zone_maps, kdf, "k")
    driver_c = _zone_map_candidates(zone_maps, keys)
    assert spark_c == driver_c
    assert "f_point" in spark_c and "f_none" in spark_c

    # randomized string parity
    rng = random.Random(7)
    alpha = "abcdefg"
    rmaps, rkeys = [], []
    for i in range(120):
        lo = "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 12)))
        hi = lo + "".join(rng.choice(alpha) for _ in range(3))
        rmaps.append((f"r{i}", min(lo, hi), max(lo, hi)))
    rkeys = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        for _ in range(800)
    ]
    rk = spark.createDataFrame([(k,) for k in rkeys], ["k"])
    assert _zone_map_candidates_spark(spark, rmaps, rk, "k") == \
        _zone_map_candidates(rmaps, rkeys)

    # (2) date keys
    d = datetime.date
    dmaps = [
        (f"d{i}", d(2024, 1, 1) + datetime.timedelta(days=i * 30),
         d(2024, 1, 1) + datetime.timedelta(days=i * 30 + 29))
        for i in range(12)
    ] + [("dnone", None, None)]
    dkeys = [d(2024, 1, 1) + datetime.timedelta(days=x) for x in
             (0, 29, 30, 100, 400, 5000)]
    dk = spark.createDataFrame([(k,) for k in dkeys], "k date")
    assert _zone_map_candidates_spark(spark, dmaps, dk, "k") == \
        _zone_map_candidates(dmaps, dkeys)

    # (4) huge integer ranks: double floor would misbucket near 2^53
    big = 1 << 55
    bmaps = [(f"b{i}", big + i * 1000, big + i * 1000 + 999) for i in range(40)]
    bkeys = [big + 500, big + 39 * 1000 + 999, big - 1, big + 40 * 1000]
    bk = spark.createDataFrame([(k,) for k in bkeys], "k long")
    assert _zone_map_candidates_spark(spark, bmaps, bk, "k") == \
        _zone_map_candidates(bmaps, bkeys)

    # (3) end-to-end: string-keyed table, merge through the spark path
    calls = _force_spark_prune(monkeypatch)
    path = str(tmp_path / "t")
    df = spark.range(0, 5_000).select(
        F2.format_string("user-%07d", F2.col("id")).alias("uid"),
        (F2.col("id") % 13).alias("v"),
    )
    write_range_clustered(df, path, "uid", 6)
    write_versioned_manifest(path)
    updates = spark.createDataFrame(
        [(f"user-{i:07d}", -5) for i in range(4_000, 4_100)]
        + [(f"zuser-{i}", -6) for i in range(10)],
        "uid string, v bigint",
    )
    stats = merge_upsert(spark, path, "uid", updates)
    assert len(calls) == 1
    assert stats["rows_updated"] == 100 and stats["rows_inserted"] == 10
    live = spark.read.parquet(path)
    assert live.count() == 5_010
    assert live.where("uid >= 'user-0004000' and uid <= 'user-0004099' "
                      "and v != -5").count() == 0
    assert live.where("uid like 'zuser%' and v != -6").count() == 10 - 10


def test_spark_side_zone_map_pruning_timestamp_keys(
    spark, tmp_path, monkeypatch
):
    """r10: timestamp keys rank as epoch MICROS (unix_micros Spark-side,
    exact integer timedelta division driver-side), retiring the last
    key type that collected keys to the driver above the bisect path.
    Asserts (1) candidate parity with the driver path on sub-second,
    DST-boundary, and pre-epoch stats, (2) an end-to-end
    timestamp-keyed merge and DV delete through the spark path."""
    import datetime

    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        _zone_map_candidates,
        _zone_map_candidates_spark,
        delete_rows_dv,
        merge_upsert,
        read_version,
        write_versioned_manifest,
    )

    ts = datetime.datetime
    us = datetime.timedelta(microseconds=1)
    # (1) parity: sub-second boundaries, the 2024-03-31 01:00 UTC
    # instant (a European DST gap — an ambiguous WALL time, but a
    # unique instant, which is what both rank paths compare), and a
    # pre-epoch range (negative micros)
    dst = ts(2024, 3, 31, 1, 0, 0)
    tmaps = [
        ("t_sub1", ts(2024, 1, 1, 0, 0, 0, 0), ts(2024, 1, 1, 0, 0, 0, 499_999)),
        ("t_sub2", ts(2024, 1, 1, 0, 0, 0, 500_000), ts(2024, 1, 1, 0, 0, 1)),
        ("t_dst", dst - 3600 * 1_000_000 * us, dst + 3600 * 1_000_000 * us),
        ("t_pre", ts(1969, 12, 31, 23, 0, 0), ts(1969, 12, 31, 23, 59, 59)),
        ("t_none", None, None),
    ]
    tkeys = [
        ts(2024, 1, 1, 0, 0, 0, 499_999),
        ts(2024, 1, 1, 0, 0, 0, 500_000),
        dst,
        ts(1969, 12, 31, 23, 30, 0),
        ts(2030, 1, 1),
    ]
    tk = spark.createDataFrame([(k,) for k in tkeys], "k timestamp")
    assert _zone_map_candidates_spark(spark, tmaps, tk, "k") == \
        _zone_map_candidates(tmaps, tkeys)
    # tz-aware stats (how some engines surface footer stats) rank to
    # the same instant as their naive-UTC twins
    utc = datetime.timezone.utc
    from data_pipeline_project_spark.sinks.manifest import _rank_py

    assert _rank_py(dst.replace(tzinfo=utc)) == _rank_py(dst)

    # (2) end-to-end: timestamp-keyed table through the spark path
    calls = _force_spark_prune(monkeypatch)
    path = str(tmp_path / "t")
    base = spark.range(0, 5_000).select(
        F2.timestamp_micros(
            F2.lit(1_700_000_000_000_000) + F2.col("id") * 250_000
        ).alias("event_ts"),
        (F2.col("id") % 13).alias("v"),
    )
    write_range_clustered(base, path, "event_ts", 6)
    write_versioned_manifest(path)
    upd = spark.range(4_900, 5_100).select(
        F2.timestamp_micros(
            F2.lit(1_700_000_000_000_000) + F2.col("id") * 250_000
        ).alias("event_ts"),
        F2.lit(-5).cast("long").alias("v"),
    )
    stats = merge_upsert(
        spark, path, "event_ts", upd
    )
    assert len(calls) == 1
    assert stats["rows_updated"] == 100 and stats["rows_inserted"] == 100
    live = spark.read.parquet(path)
    assert live.count() == 5_100
    assert live.where("v = -5").count() == 200

    dstats = delete_rows_dv(
        spark, path, "event_ts",
        spark.createDataFrame(
            [(datetime.datetime.utcfromtimestamp(1_700_000_000),)],
            "event_ts timestamp",
        ),
    )
    assert len(calls) == 2
    assert dstats["rows_deleted"] == 1
    assert read_version(spark, path).count() == 5_099


def test_spark_side_zone_map_pruning_float_keys(
    spark, tmp_path, monkeypatch
):
    """r10: float keys rank via the IEEE-754 total-order bit trick
    (doubleToRawLongBits JVM-side, struct.unpack driver-side; negative
    half reflected), retiring the last COMMON key type on the driver
    fallback. The bit-rank spans nearly the whole int64 line for
    mixed-sign data, so this also exercises the overflow discipline:
    the span guard coarsens both sides by a right-shift, and
    try_subtract drops stray far-away keys instead of throwing under
    ANSI. Asserts (1) python/Spark rank parity on adversarial doubles,
    (2) candidate parity with the driver path on mixed-sign maps
    (shift path) incl. ±inf stats and out-of-range keys, (3) integer
    maps spanning most of int64 (the latent pre-r10 ANSI overflow
    crash), (4) an end-to-end float-keyed merge through the spark path,
    (5) boolean stats rank too."""
    import math

    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        _rank_py,
        _rank_expr,
        _zone_map_candidates,
        _zone_map_candidates_spark,
        merge_upsert,
        write_versioned_manifest,
    )

    # (1) rank parity: denormals, ±0, ±inf, magnitude extremes
    vals = [
        0.0, -0.0, 1.5, -1.5, 5e-324, -5e-324, 1e308, -1e308,
        math.inf, -math.inf, 3.141592653589793, -2.2250738585072014e-308,
    ]
    vdf = spark.createDataFrame([(v,) for v in vals], "k double")
    got = {
        r.k: r.r
        for r in vdf.select("k", _rank_expr("k", 0.5).alias("r")).collect()
    }
    for v in vals:
        assert got[v] == _rank_py(v), v
    # rank order == value order (−0.0/+0.0 collide, which is equality)
    svals = sorted(vals)
    assert [_rank_py(v) for v in svals] == sorted(_rank_py(v) for v in vals)
    import pytest

    with pytest.raises(TypeError, match="NaN"):
        _rank_py(math.nan)

    # (2) mixed-sign float maps: span ≈ 2^64 forces the shift path
    fmaps = [
        ("neg", -1e6, -10.0),
        ("straddle", -1.0, 1.0),
        ("pos", 100.0, 1e9),
        ("inf", -math.inf, math.inf),
        ("point", 42.5, 42.5),
        ("none", None, None),
    ]
    fkeys = [-5e5, -10.0, -9.99, 0.0, -0.0, 0.5, 42.5, 1e12, -1e12,
             math.inf, -math.inf, 2.5e8]
    fk = spark.createDataFrame([(k,) for k in fkeys], "k double")
    assert _zone_map_candidates_spark(spark, fmaps, fk, "k") == \
        _zone_map_candidates(fmaps, fkeys)

    # (3) integer maps spanning most of int64: pre-r10 the key-side
    # (krank - lo) threw under ANSI for far-away keys; now coarsened +
    # try_subtract. Parity with the driver bisect.
    imaps = [
        ("ilow", -(1 << 62), -(1 << 62) + 1000),
        ("ihigh", (1 << 62), (1 << 62) + 1000),
        ("imid", -500, 500),
    ]
    ikeys = [-(1 << 62) + 500, (1 << 62) + 999, 0, (1 << 63) - 1,
             -(1 << 63), 1234567]
    ik = spark.createDataFrame([(k,) for k in ikeys], "k long")
    assert _zone_map_candidates_spark(spark, imaps, ik, "k") == \
        _zone_map_candidates(imaps, ikeys)

    # (4) end-to-end: float-keyed table through the spark path (keys on
    # both sides of zero, so the table's own stats force the shift)
    calls = _force_spark_prune(monkeypatch)
    path = str(tmp_path / "t")
    base = spark.range(0, 5_000).select(
        ((F2.col("id") - 2_500) * 0.25).alias("score"),
        (F2.col("id") % 13).alias("v"),
    )
    write_range_clustered(base, path, "score", 6)
    write_versioned_manifest(path)
    upd = spark.range(2_400, 2_700).select(
        ((F2.col("id") - 2_500) * 0.25).alias("score"),
        F2.lit(-5).cast("long").alias("v"),
    )
    stats = merge_upsert(spark, path, "score", upd)
    assert len(calls) == 1
    assert stats["rows_updated"] == 300 and stats["rows_inserted"] == 0
    live = spark.read.parquet(path)
    assert live.count() == 5_000
    assert live.where("v = -5").count() == 300
    assert live.where("score >= -25.0 and score < 50.0 and v != -5").count() == 0

    # (5) boolean stats rank (degenerate two-value domain, completeness)
    bmaps = [("bf", False, False), ("bt", True, True), ("bn", None, None)]
    bkeys = [True]
    bk = spark.createDataFrame([(k,) for k in bkeys], "k boolean")
    assert _zone_map_candidates_spark(spark, bmaps, bk, "k") == \
        _zone_map_candidates(bmaps, bkeys) == ["bt", "bn"]


def test_merge_bulk_matches_targeted_semantics(spark, tmp_path):
    """merge_bulk (table-wide shuffle anti-join + re-clustered rewrite —
    the documented switch-over beyond the broadcast key bound) must be
    semantically indistinguishable from the targeted zone-map path:
    same final rows, same counts, same time-travel behavior. Physically
    it must rewrite EVERY file under version-stamped names and leave
    the output range-clustered (disjoint zone maps)."""
    from data_pipeline_project_spark.sinks.layout import (
        file_zone_maps,
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        merge_bulk,
        merge_upsert,
        read_version,
        write_versioned_manifest,
    )

    base = spark.range(0, 5_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    # updates touch every file's key range (table-scale selectivity)
    updates = spark.createDataFrame(
        [(int(k), -int(k) % 89) for k in range(0, 5_000, 3)]
        + [(int(k), -7) for k in range(6_000, 6_500)],
        ["user_id", "v"],
    )
    n_upd = sum(1 for k in range(0, 5_000, 3))
    n_ins = 500

    path_t = str(tmp_path / "targeted")
    path_b = str(tmp_path / "bulk")
    for p in (path_t, path_b):
        write_range_clustered(base, p, "user_id", 5)
        write_versioned_manifest(p)

    s_t = merge_upsert(spark, path_t, "user_id", updates)
    s_b = merge_bulk(spark, path_b, "user_id", updates, n_files=5)

    assert s_b["rows_updated"] == s_t["rows_updated"] == n_upd
    assert s_b["rows_inserted"] == s_t["rows_inserted"] == n_ins
    assert s_b["files_rewritten"] == 5  # bulk rewrites the whole table

    rows_t = sorted((r.user_id, r.v) for r in spark.read.parquet(path_t).collect())
    rows_b = sorted((r.user_id, r.v) for r in spark.read.parquet(path_b).collect())
    assert rows_b == rows_t and len(rows_b) == 5_500

    # time travel: v1 (pre-merge) must still replay the original table
    v1 = sorted((r.user_id, r.v) for r in read_version(spark, path_b, 1).collect())
    assert v1 == sorted((r.user_id, r.v) for r in base.collect())

    # physical layout: version-stamped names, disjoint zone maps
    files = [
        f for f in os.listdir(path_b)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert files and all(f.startswith("bulk-v2-") for f in files)
    zm = sorted(
        (mn, mx) for _, mn, mx in file_zone_maps(path_b, "user_id")
    )
    for (_, mx_prev), (mn_next, _) in zip(zm, zm[1:]):
        assert mx_prev < mn_next, f"overlapping zone maps after bulk merge: {zm}"


def test_merge_bulk_validation_and_noop(spark, tmp_path):
    """merge_bulk shares merge_upsert's contracts: duplicate source keys
    are an ANSI cardinality violation, schema drift is refused, an empty
    change set is a committed no-op, and narrower update types are cast
    to the target schema before anything is written."""
    import pytest

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        merge_bulk,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 100).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "user_id", 2)
    v1 = write_versioned_manifest(path)["version"]

    dup = spark.createDataFrame([(1, 10), (1, 11)], ["user_id", "v"])
    with pytest.raises(ValueError, match="cardinality"):
        merge_bulk(spark, path, "user_id", dup)

    drift = spark.createDataFrame([(1, 10)], ["user_id", "wrong"])
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_bulk(spark, path, "user_id", drift)

    empty = spark.createDataFrame([], "user_id long, v long")
    assert merge_bulk(spark, path, "user_id", empty) == {
        "version": v1,
        "files_rewritten": 0,
        "rows_updated": 0,
        "rows_inserted": 0,
    }

    # int32 literals updating a bigint table: physical types must be
    # normalized (the vectorized reader refuses INT64 files mixed with
    # INT32 files under an inferred bigint schema).
    ints = spark.createDataFrame([(5, -1)], "user_id int, v int")
    res = merge_bulk(spark, path, "user_id", ints)
    assert res["rows_updated"] == 1
    got = spark.read.parquet(path)
    assert dict(got.dtypes) == {"user_id": "bigint", "v": "bigint"}
    assert got.where(F.col("user_id") == 5).collect()[0].v == -1


def test_merge_upsert_auto_switches_to_bulk(spark, tmp_path):
    """rewrite="auto": a change batch whose keys hit >= 80% of the
    table's files must flip merge_upsert onto the bulk plan (visible in
    the version-stamped file names); a targeted batch must NOT flip."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        write_versioned_manifest,
    )

    def bulk_files(p):
        return [f for f in os.listdir(p) if f.startswith("bulk-")]

    base = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 13).alias("v")
    )

    # table-scale batch: one key inside each of the 4 files' ranges
    path = str(tmp_path / "wide")
    write_range_clustered(base, path, "user_id", 4)
    write_versioned_manifest(path)
    wide = spark.createDataFrame(
        [(125, -1), (375, -2), (625, -3), (875, -4)], ["user_id", "v"]
    )
    res = merge_upsert(spark, path, "user_id", wide, rewrite="auto")
    assert res["rows_updated"] == 4 and res["files_rewritten"] == 4
    assert bulk_files(path), "auto should have taken the bulk plan"

    # targeted batch: keys inside ONE file's range — stays on zone maps
    path2 = str(tmp_path / "narrow")
    write_range_clustered(base, path2, "user_id", 4)
    write_versioned_manifest(path2)
    narrow = spark.createDataFrame([(10, -1), (20, -2)], ["user_id", "v"])
    res2 = merge_upsert(spark, path2, "user_id", narrow, rewrite="auto")
    assert res2["rows_updated"] == 2 and res2["files_rewritten"] == 1
    assert not bulk_files(path2), "narrow batch must stay on the targeted plan"


def test_delete_bulk_matches_targeted_semantics(spark, tmp_path):
    """delete_bulk (table-wide shuffle anti-join rewrite — the
    retention/GDPR-purge sibling of merge_bulk) must match the targeted
    zone-map delete: same survivors, same counts, time travel intact,
    re-clustered output; absent keys a no-op."""
    from data_pipeline_project_spark.sinks.layout import (
        file_zone_maps,
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        delete_bulk,
        delete_rows_targeted,
        read_version,
        write_versioned_manifest,
    )

    base = spark.range(0, 4_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 11).alias("v")
    )
    # table-scale key set: half the rows, spread over every file
    keys = spark.range(0, 4_000, 2).select(F.col("id").alias("user_id"))
    absent = spark.createDataFrame([(99_999,)], ["user_id"])

    path_t = str(tmp_path / "targeted")
    path_b = str(tmp_path / "bulk")
    for p in (path_t, path_b):
        write_range_clustered(base, p, "user_id", 4)
        write_versioned_manifest(p)

    s_t = delete_rows_targeted(spark, path_t, "user_id", keys)
    s_b = delete_bulk(spark, path_b, "user_id", keys.unionByName(absent), n_files=4)

    assert s_b["rows_deleted"] == s_t["rows_deleted"] == 2_000
    assert s_b["files_rewritten"] == 4
    rows_t = sorted(r.user_id for r in spark.read.parquet(path_t).collect())
    rows_b = sorted(r.user_id for r in spark.read.parquet(path_b).collect())
    assert rows_b == rows_t and len(rows_b) == 2_000

    # time travel: pre-delete version still replays all 4000 rows
    assert read_version(spark, path_b, 1).count() == 4_000

    # output re-clustered: disjoint zone maps under bulk-v2-* names
    files = [
        f for f in os.listdir(path_b)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert files and all(f.startswith("bulk-v2-") for f in files)
    zm = sorted(
        (mn, mx) for _, mn, mx in file_zone_maps(path_b, "user_id")
    )
    for (_, mx_prev), (mn_next, _) in zip(zm, zm[1:]):
        assert mx_prev < mn_next, zm


def test_clone_snapshot_shallow_and_deep(spark, tmp_path):
    """Shallow clone: zero-copy, manifest-only, pinned to the source
    version (immune to source appends), broken loudly by source vacuum.
    Deep clone: independent bytes, mutable from version 1."""
    import pytest

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        clone_snapshot,
        merge_upsert,
        read_version,
        vacuum,
        verify_snapshot,
        write_versioned_manifest,
    )

    src = str(tmp_path / "src")
    base = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, src, "user_id", 4)
    write_versioned_manifest(src)
    # source moves on: v2 merge after the clone point
    shallow = str(tmp_path / "shallow")
    deep = str(tmp_path / "deep")
    s = clone_snapshot(src, shallow, version=1)
    d = clone_snapshot(src, deep, version=1, deep=True)
    assert s == {"version": 1, "source_version": 1, "n_files": 4, "deep": False}
    assert d["deep"] is True and d["n_files"] == 4

    updates = spark.createDataFrame([(5, -1), (2_000, -2)], ["user_id", "v"])
    merge_upsert(spark, src, "user_id", updates)
    assert spark.read.parquet(src).count() == 1_001

    # both clones still replay the PRE-merge snapshot
    for p in (shallow, deep):
        got = read_version(spark, p, 1)
        assert got.count() == 1_000
        assert got.where(F.col("user_id") == 5).collect()[0].v == 5 % 7

    # zero-copy means zero data files in the shallow clone dir
    assert not [f for f in os.listdir(shallow) if f.endswith(".parquet")]

    # the deep clone is an independent, mutable table
    res = merge_upsert(spark, deep, "user_id", updates)
    assert res["version"] == 2 and res["rows_inserted"] == 1
    assert read_version(spark, deep, 1).count() == 1_000  # its own history

    # source vacuum to 1 version deletes files v1 pinned -> the shallow
    # clone must now FAIL LOUDLY, not silently read the remainder
    vacuum(src, keep_versions=1)
    missing = verify_snapshot(os.path.join(shallow, "_manifests", "latest.json"))
    assert missing, "source vacuum should have broken the shallow clone"
    with pytest.raises(Exception):
        read_version(spark, shallow, 1).collect()
    # the deep clone is unaffected
    assert read_version(spark, deep, 2).count() == 1_001


def test_table_health_metrics(spark, tmp_path):
    """table_health: metadata-only compaction/retention/clustering
    signals. Clustered table -> overlap 0.0; random re-write -> overlap
    rises; merge leaves tombstones; small-file count tracks layout."""
    from data_pipeline_project_spark.sinks.layout import (
        table_health,
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "user_id", 8)
    write_versioned_manifest(path)

    h = table_health(path, "user_id")
    assert h["n_files"] == 8 and h["total_rows"] == 10_000
    assert h["clustering_overlap"] == 0.0
    assert h["small_files"] == 8  # tiny test files are all < 32MB
    assert h["n_versions"] == 1
    assert h["tombstone_files"] == 0 and h["quarantine_files"] == 0

    # a merge tombstones rewritten files and appends an unclustered one
    updates = spark.createDataFrame(
        [(int(k), -1) for k in range(0, 10_000, 100)], ["user_id", "v"]
    )
    merge_upsert(spark, path, "user_id", updates)
    h2 = table_health(path, "user_id")
    assert h2["tombstone_files"] >= 1 and h2["tombstone_bytes"] > 0
    assert h2["n_versions"] == 2
    # the appended update file spans the whole key range -> overlap rose
    assert h2["clustering_overlap"] > 0.0
    assert h2["total_rows"] == 10_000


def test_maintenance_plan_rules(spark, tmp_path):
    """maintenance_plan turns health metrics into the compact /
    recluster / vacuum decisions, and stays empty on a healthy table."""
    from data_pipeline_project_spark.sinks.layout import (
        maintenance_plan,
        table_health,
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 5_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "user_id", 4)
    write_versioned_manifest(path)

    # tiny test files are all "small": with a permissive threshold the
    # table is healthy; with the default it wants compaction
    h = table_health(path, "user_id")
    # bootstrap-era files carry no NDV sketches, so the DEFAULT plan
    # leads with the analyze advice; the legacy rule assertions below
    # suppress it with ndv_coverage_min to isolate each rule
    quiet = {"ndv_coverage_min": 0.0}
    assert maintenance_plan(
        h, {"small_file_fraction": 1.1, **quiet}
    ) == []
    assert "analyze" in [a["action"] for a in maintenance_plan(h)]
    actions = [a["action"] for a in maintenance_plan(h, quiet)]
    assert actions == ["compact"]

    # churn: a broad merge appends an unclustered file + tombstones
    updates = spark.createDataFrame(
        [(int(k), -1) for k in range(0, 5_000, 50)], ["user_id", "v"]
    )
    merge_upsert(spark, path, "user_id", updates)
    h2 = table_health(path, "user_id")
    plan = maintenance_plan(
        h2, {"small_file_fraction": 1.1, "clustering_overlap": 0.0,
             "retention_fraction": 0.0, **quiet}
    )
    assert [a["action"] for a in plan] == ["recluster", "vacuum"]
    assert all(a["reason"] for a in plan)

    # version-count-only vacuum trigger
    plan2 = maintenance_plan(
        h2, {"small_file_fraction": 1.1, "clustering_overlap": 1.1,
             "retention_fraction": 10.0, "max_versions": 1, **quiet}
    )
    assert [a["action"] for a in plan2] == ["vacuum"]


def test_table_health_flags_dv_pressure(spark, tmp_path):
    """Deletion-vector dead rows show up in table_health, and the
    maintenance planner recommends materializing once the dead
    fraction crosses the threshold — rewrite_table clears the flag."""
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.sinks.layout import (
        maintenance_plan,
        table_health,
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        delete_rows_dv,
        rewrite_table,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1_000).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    write_range_clustered(df, path, "k", 2)
    write_versioned_manifest(path)

    h0 = table_health(path, "k")
    assert h0["dv_files"] == 0 and h0["dv_dead_rows"] == 0

    delete_rows_dv(
        spark, path, "k",
        spark.createDataFrame([(int(k),) for k in range(0, 100)], "k long"),
    )
    h1 = table_health(path, "k")
    assert h1["dv_files"] == 1 and h1["dv_dead_rows"] == 100
    actions = {a["action"] for a in maintenance_plan(h1)}
    assert "materialize_dv" in actions  # 10% dead > 5% default threshold

    rewrite_table(spark, path, "k")
    h2 = table_health(path, "k")
    assert h2["dv_dead_rows"] == 0
    assert "materialize_dv" not in {a["action"] for a in maintenance_plan(h2)}


def test_maintenance_plan_names_fragmented_partitions(spark, tmp_path):
    """On a hive layout, table_health carries a per-partition
    breakdown and the compact advice names exactly the directories the
    per-partition compactor would touch."""
    from data_pipeline_project_spark.sinks.layout import (
        maintenance_plan,
        table_health,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        (F.col("id") % 4).cast("int").alias("shard"),
    )
    df.repartition(1).write.partitionBy("shard").parquet(path)
    write_versioned_manifest(path)
    # fragment shards 1 and 3
    for k, shard in ((900, 1), (901, 1), (902, 3), (903, 3)):
        append_snapshot(
            spark, path,
            spark.createDataFrame(
                [(k, -1, shard)], "k long, v long, shard int"
            ).coalesce(1),
        )

    h = table_health(path, "k")
    parts = h["partitions"]
    assert set(parts) == {f"shard={s}" for s in range(4)}
    assert parts["shard=1"]["n_files"] == 3  # 1 base + 2 appends
    assert parts["shard=0"]["n_files"] == 1

    plan = maintenance_plan(h)  # tiny files: compaction pressure
    compact = [a for a in plan if a["action"] == "compact"][0]
    assert compact["partitions"] == ["shard=1", "shard=3"]


def test_table_history_describes_every_commit(spark, tmp_path):
    """DESCRIBE HISTORY: one entry per version, newest first, naming
    the op from the txn intent (bootstrap for listing-based first
    commits), churn summary, key ranges, and app metadata."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        compact_snapshot,
        delete_rows_dv,
        merge_upsert,
        rename_column,
        table_history,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, path, "k", 3)
    write_versioned_manifest(path)                                   # v1
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(5, -1)], "k long, v long"),
        commit_extra={"job": "nightly"},
    )                                                                # v2
    append_snapshot(
        spark, path,
        spark.createDataFrame([(900, -9)], "k long, v long").coalesce(1),
        key_col="k",
    )                                                                # v3
    delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(7,)], "k long")
    )                                                                # v4
    compact_snapshot(spark, path, small_bytes=1 << 10)               # v5 (maybe)
    rename_column(spark, path, "v", "val")                           # v6

    hist = table_history(path)
    assert [h["version"] for h in hist] == sorted(
        (h["version"] for h in hist), reverse=True
    )
    by_op = {h["op"]: h for h in hist}
    assert by_op["bootstrap"]["version"] == 1
    assert by_op["merge_upsert"]["app"] == {"job": "nightly"}
    assert by_op["merge_upsert"]["files_removed"] >= 1
    assert by_op["append"]["key_range"] == ["k", 900, 900]
    assert by_op["delete_rows_dv"]["dv_targets"] >= 1
    assert by_op["rename_column"]["schema_change"] is True
    assert all(
        h["total_rows"] >= 0 and h["n_files"] >= 1 for h in hist
    )
    # limit=2 returns only the two newest
    assert len(table_history(path, limit=2)) == 2


def test_rewrite_table_zorder_on_string_timestamp(spark, tmp_path):
    """r10: OPTIMIZE ZORDER over (string, timestamp) — the rank-mapped
    z-key rewrites cleanly, rows survive exactly, and both dimensions'
    zone maps become selective."""
    from data_pipeline_project_spark.sinks.layout import file_zone_maps
    from data_pipeline_project_spark.sinks.manifest import (
        read_version,
        rewrite_table,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    side = 60
    df = spark.range(0, side * side).select(
        F.col("id").alias("k"),
        F.format_string("c%04d", F.col("id") % side).alias("cc"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (F.col("id") / side).cast("long") * 86_400_000_000
        ).alias("ts"),
    )
    df.repartition(6).write.parquet(path)
    write_versioned_manifest(path)

    res = rewrite_table(spark, path, ["cc", "ts"], n_files=16)
    assert res["rows"] == side * side
    assert read_version(spark, path).count() == side * side

    zc = file_zone_maps(path, "cc")
    hit_c = sum(1 for _, mn, mx in zc if mn <= "c0015" and "c0005" <= mx)
    assert hit_c <= 10, hit_c  # selective, not 16/16


def test_time_travel_by_timestamp_and_vacuum_dry_run(spark, tmp_path):
    """r10: every commit records committed_at (epoch millis);
    read_version(as_of=...) resolves the newest snapshot at or before
    the instant (datetime, ISO string, or epoch seconds), and
    table_history surfaces the timestamps. vacuum(dry_run=True)
    reports exactly what the real run would delete while deleting
    nothing."""
    import time

    import pytest

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        merge_upsert,
        read_version,
        snapshot_versions,
        table_history,
        vacuum,
        version_as_of,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, path, "k", 3)
    write_versioned_manifest(path)                     # v1
    t_after_v1 = time.time()
    time.sleep(1.1)
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(5, -1), (900, -2)], "k long, v long"),
    )                                                  # v2
    t_after_v2 = time.time()

    assert version_as_of(path, t_after_v1) == 1
    assert version_as_of(path, t_after_v2) == 2
    assert read_version(spark, path, as_of=t_after_v1).count() == 300
    assert read_version(spark, path, as_of=t_after_v2).count() == 301
    # datetime and ISO-string forms resolve identically
    import datetime

    dt = datetime.datetime.fromtimestamp(
        t_after_v1, tz=datetime.timezone.utc
    )
    assert version_as_of(path, dt) == 1
    assert version_as_of(path, dt.isoformat()) == 1
    with pytest.raises(ValueError, match="at or before"):
        version_as_of(path, t_after_v1 - 3600)
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_version(spark, path, version=1, as_of=t_after_v1)
    hist = table_history(path)
    stamps = [h["committed_at"] for h in hist]
    assert all(isinstance(c, int) for c in stamps)
    assert stamps == sorted(stamps, reverse=True)

    # dry-run reports, deletes nothing; the real run matches
    before_versions = snapshot_versions(path)
    dry = vacuum(path, keep_versions=1, dry_run=True)
    assert dry["dry_run"] and dry["versions_dropped"] == 1
    assert dry["tombstones_deleted"] >= 1
    assert snapshot_versions(path) == before_versions        # intact
    assert read_version(spark, path, 1).count() == 300       # still reads
    real = vacuum(path, keep_versions=1)
    assert real["versions_dropped"] == dry["versions_dropped"]
    assert real["tombstones_deleted"] == dry["tombstones_deleted"]
    assert real["dv_deleted"] == dry["dv_deleted"]
    assert snapshot_versions(path) == [2]


def test_clone_as_of_timestamp(spark, tmp_path):
    """CLONE by wall-clock instant: 'the table as it was before the
    bad backfill' without knowing the version number."""
    import time

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        clone_snapshot,
        merge_upsert,
        read_version,
        write_versioned_manifest,
    )

    path = str(tmp_path / "src")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, path, "k", 2)
    write_versioned_manifest(path)                     # v1: the good state
    t_good = time.time()
    time.sleep(1.1)
    merge_upsert(                                      # v2: the bad backfill
        spark, path, "k",
        spark.createDataFrame([(5000, -1)], "k long, v long"),
    )

    dst = str(tmp_path / "restore")
    res = clone_snapshot(path, dst, as_of=t_good, deep=True)
    assert res["source_version"] == 1
    assert read_version(spark, dst).count() == 200

    import pytest

    with pytest.raises(ValueError, match="not both"):
        clone_snapshot(path, str(tmp_path / "x"), version=1, as_of=t_good)


def test_run_maintenance_executes_the_plan(spark, tmp_path):
    """r10: run_maintenance = audit -> decide -> act. On a fragmented,
    DV-laden table: the whole-table rewrite covers compaction (no
    double rewrite), deletion vectors materialize away, vacuum
    reclaims, and a second pass finds a healthy table. dry_run
    executes nothing."""
    from data_pipeline_project_spark.sinks.layout import run_maintenance
    from data_pipeline_project_spark.sinks.manifest import (
        delete_rows_dv,
        read_version,
        snapshot_versions,
        table_dv,
        write_versioned_manifest,
    )

    path = str(tmp_path / "t")
    # unclustered, fragmented: 12 shuffled small files
    spark.range(0, 2_000).select(
        ((F.col("id") * 48_271) % 2_000).alias("k"),
        (F.col("id") % 7).alias("v"),
    ).repartition(12).write.parquet(path)
    write_versioned_manifest(path)
    # DV-delete >5% of rows so materialize_dv fires
    delete_rows_dv(
        spark, path, "k",
        spark.createDataFrame([(int(k),) for k in range(150)], "k long"),
    )
    assert table_dv(path)

    thresholds = {"retention_fraction": 10.0, "max_versions": 64}

    dry = run_maintenance(
        spark, path, key_col="k", thresholds=thresholds,
        dry_run=True,
    )
    acts = [a["action"] for a in dry["plan"]]
    assert "compact" in acts and "materialize_dv" in acts
    assert dry["executed"] == [] and table_dv(path)  # nothing touched

    res = run_maintenance(
        spark, path, key_col="k", thresholds=thresholds,
    )
    by_action = {e["action"]: e for e in res["executed"]}
    assert by_action["compact"]["skipped"]          # covered by rewrite
    # exactly ONE whole-table rewrite ran, on whichever rewrite-class
    # action came first in the plan; the other was marked covered
    rewrites = [e for e in res["executed"] if "version" in e]
    assert len(rewrites) == 1
    assert rewrites[0]["action"] in ("recluster", "materialize_dv")
    assert table_dv(path) == []                      # DVs materialized
    assert read_version(spark, path).count() == 1_850

    # second pass: healthy table (clustered, no DVs, no fragmentation)
    res2 = run_maintenance(
        spark, path, key_col="k", thresholds=thresholds,
    )
    assert [a["action"] for a in res2["plan"]] == []

    # retention pressure: tombstones from the rewrite + version pile
    res3 = run_maintenance(
        spark, path, key_col="k",
        thresholds={"retention_fraction": 0.0}, keep_versions=1,
    )
    vac = [e for e in res3["executed"] if e["action"] == "vacuum"]
    assert vac and vac[0]["tombstones_deleted"] >= 1
    assert snapshot_versions(path) == [snapshot_versions(path)[-1]]
