"""Lakehouse ops on hive-partitioned manifest tables (round 9): the
common production shape — an events table partitioned by day/shard —
must support the targeted writers and both change feeds.

Contracts under test:

- targeted MERGE appends land INSIDE partition directories (a flat
  append at the root breaks partition discovery for every later read),
  and an update that changes a row's partition value moves it to its
  new directory;
- merge on the partition column itself is refused loudly (its values
  live in directory names, not parquet footers — zone maps can't see
  it);
- table-wide rewrites (merge_bulk / delete_bulk / rewrite_table) are
  partition-aware (r10): output files land inside partition
  directories, key-clustered within each, and partition-changing
  updates migrate;
- compact_snapshot compacts PER PARTITION (r10): only fragmented
  directories are touched, healthy partitions stay byte-identical,
  one atomic row_preserving commit covers all of them;
- both change feeds (snapshot_changes and the tablechanges source)
  surface the partition columns, exactly like a basePath read;
- partition PRUNING: a filter on the partition column reaches the
  scan's PartitionFilters — reading one day touches one directory;
- a randomized op-sequence model check (merge / targeted delete / DV
  delete) against a dict reference model, with time-travel probes.

DV row identity on partitioned layouts (same part-file basename in
sibling directories) is covered in test_deletion_vectors.py.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    delete_bulk,
    delete_rows_dv,
    delete_rows_targeted,
    merge_bulk,
    merge_upsert,
    read_version,
    rewrite_table,
    snapshot_changes,
    snapshot_versions,
    write_versioned_manifest,
)


def _ptable(spark, path, n=400, shards=4):
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7) % 101).alias("v"),
        (F.col("id") % shards).cast("int").alias("shard"),
    )
    df.repartition(2).write.partitionBy("shard").parquet(path)
    write_versioned_manifest(path)


def test_partitioned_merge_updates_inserts_and_moves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _ptable(spark, path)

    updates = spark.createDataFrame(
        [
            (5, -1, 1),      # update in place (5 % 4 == 1)
            (6, -2, 2),      # update in place
            (7, -3, 0),      # update that MOVES partitions (7 % 4 == 3 -> 0)
            (9999, -4, 3),   # insert
        ],
        "k long, v long, shard int",
    )
    res = merge_upsert(spark, path, "k", updates)
    assert res["rows_updated"] == 3 and res["rows_inserted"] == 1

    live = read_version(spark, path)
    assert live.count() == 401
    got = {r.k: (r.v, r.shard) for r in live.where(
        "k in (5, 6, 7, 9999)").collect()}
    assert got == {5: (-1, 1), 6: (-2, 2), 7: (-3, 0), 9999: (-4, 3)}
    # the moved row left its old partition
    assert live.where("shard = 3 and k = 7").count() == 0
    # time travel still shows the pre-merge placement
    v1 = read_version(spark, path, 1)
    assert v1.where("k = 7").collect()[0].shard == 3
    # no data file sits flat at the root (partition discovery intact)
    import os

    root_parquets = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert root_parquets == []


def test_partition_column_merge_key_refused(spark, tmp_path):
    """Targeted merge on the partition column stays refused (its values
    live in directory names, not parquet footers — zone maps can't
    prune on it); bulk rewrites are partition-aware as of r10 (below)."""
    path = str(tmp_path / "t")
    _ptable(spark, path)

    with pytest.raises(ValueError, match="PARTITION column"):
        merge_upsert(
            spark, path, "shard",
            spark.createDataFrame([(1, 0, 0)], "k long, v long, shard int"),
        )


def test_partitioned_bulk_merge_and_delete(spark, tmp_path):
    """merge_bulk / delete_bulk on a hive layout: every output file
    lands INSIDE a partition directory, partition-changing updates
    migrate, results match the targeted twin, partition pruning still
    reaches the scan, and time travel spans the rewrite."""
    import os

    path = str(tmp_path / "t")
    twin = str(tmp_path / "twin")
    _ptable(spark, path)
    _ptable(spark, twin)

    # k=5 moves shard 1 -> 2; k=900 is an insert into shard 3
    upd = spark.createDataFrame(
        [(5, -1, 2), (6, -2, 2), (900, -3, 3)], "k long, v long, shard int"
    )
    res = merge_bulk(spark, path, "k", upd)
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1
    merge_upsert(spark, twin, "k", upd)

    live = read_version(spark, path)
    want = sorted(
        (r.k, r.v, r.shard) for r in read_version(spark, twin).collect()
    )
    assert sorted((r.k, r.v, r.shard) for r in live.collect()) == want
    # no flat files at the root; the partition layout survived
    root_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert root_files == []
    assert {r.shard for r in live.where("k in (5, 6)").collect()} == {2}

    # partition pruning still reaches the scan after the bulk rewrite
    probe = read_version(spark, path).where("shard = 2")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]

    dres = delete_bulk(
        spark, path, "k",
        spark.createDataFrame([(5,), (100,), (9999,)], "k long"),
    )
    assert dres["rows_deleted"] == 2
    assert read_version(spark, path).count() == 399
    # time travel across both bulk rewrites
    assert read_version(spark, path, 1).count() == 400
    assert {
        r.shard for r in read_version(spark, path, 2).where("k = 5").collect()
    } == {2}


def test_partitioned_rewrite_table_and_zorder(spark, tmp_path):
    """rewrite_table on a hive layout materializes pending schema
    changes and deletion vectors into per-partition, key-clustered
    files; the z-order variant interleaves two data columns. Untouched
    history still time-travels."""
    import os

    from data_pipeline_project_spark.sinks.manifest import (
        drop_column,
        read_manifest,
        rename_column,
        table_dv,
    )

    path = str(tmp_path / "t")
    _ptable(spark, path)
    rename_column(spark, path, "v", "val")
    delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(7,)], "k long")
    )
    assert table_dv(path)

    res = rewrite_table(spark, path, "k", n_files=4)
    assert res["rows"] == 399
    assert table_dv(path) == []  # DV materialized away
    live = read_version(spark, path)
    assert set(live.columns) == {"k", "val", "shard"}
    assert live.where("k = 7").count() == 0
    root_files = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert root_files == []
    # physical files now carry the logical name: a fresh footer read
    # (no schema pin) of one partition dir shows 'val'
    shard_dir = os.path.join(path, "shard=1")
    assert "val" in spark.read.parquet(shard_dir).columns
    # pre-rewrite versions still replay (v1 under the original name)
    assert read_version(spark, path, 1).count() == 400

    # z-order over (k, val) on the partitioned layout
    res2 = rewrite_table(spark, path, ["k", "val"], n_files=4)
    assert res2["rows"] == 399
    assert read_version(spark, path).count() == 399
    m = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    assert m["txn"]["whole_table"] is True
    assert all("/" in f["path"] or os.sep in f["path"] for f in m["files"])


def test_partitioned_compact_snapshot(spark, tmp_path):
    """Per-partition compaction: only directories with ≥2 small files
    are touched (one merged file INSIDE each), healthy partitions stay
    byte-identical, rows are preserved exactly, the commit is one
    atomic row_preserving version, and pre-compaction versions still
    time-travel. cluster_col naming a partition column is refused."""
    import os

    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        compact_snapshot,
        read_manifest,
    )

    path = str(tmp_path / "t")
    _ptable(spark, path)
    # fragment shards 0 and 2 with two tiny appends each
    for k, shard in ((1000, 0), (1001, 0), (1002, 2), (1003, 2)):
        append_snapshot(
            spark, path,
            spark.createDataFrame(
                [(k, -k, shard)], "k long, v long, shard int"
            ).coalesce(1),
        )

    def snap(shard):
        d = os.path.join(path, f"shard={shard}")
        return {
            f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }

    before = {s: snap(s) for s in range(4)}
    sizes = sorted(
        b for s in range(4) for b in before[s].values()
    )
    n_before = read_version(spark, path).count()

    with pytest.raises(ValueError, match="partition column"):
        compact_snapshot(spark, path, small_bytes=1 << 30, cluster_col="shard")

    res = compact_snapshot(spark, path, small_bytes=sizes[4] + 1,
                           cluster_col="k")
    # 2 small files + the original small-ish part in each fragmented
    # shard dir may vary; at minimum both appended pairs merged
    assert res["partitions_compacted"] >= 2
    assert res["rows_compacted"] >= 4

    after = {s: snap(s) for s in range(4)}
    # every untouched partition is byte-identical
    touched = {
        d.split("=", 1)[1]
        for d in read_manifest(
            os.path.join(path, "_manifests", "latest.json")
        )["txn"]["removed"]
        for d in [os.path.dirname(d)]
    }
    for s in range(4):
        if str(s) not in touched:
            assert after[s] == before[s], f"shard {s} not byte-identical"
    # rows preserved exactly; one compacted file per touched dir
    assert read_version(spark, path).count() == n_before
    live = {(r.k, r.v, r.shard) for r in read_version(spark, path).collect()}
    assert (1000, -1000, 0) in live and (1003, -1003, 2) in live
    # time travel to the fragmented state still works
    assert read_version(spark, path, 5).count() == n_before
    m = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    assert m["txn"]["op"] == "compact" and m["txn"]["row_preserving"]


def test_partitioned_change_feeds_carry_partition_columns(spark, tmp_path):
    from data_pipeline_project_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    path = str(tmp_path / "t")
    _ptable(spark, path, n=100)

    merge_upsert(
        spark, path, "k",
        spark.createDataFrame(
            [(5, -1, 1), (500, -2, 0)], "k long, v long, shard int"
        ),
    )  # v2: one update (delete+insert), one insert
    delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(6,)], "k long")
    )  # v3: one DV delete

    ch2 = snapshot_changes(spark, path, 1, 2)
    assert "shard" in ch2.columns
    rows2 = {(r.k, r.v, r.shard, r._change_type) for r in ch2.collect()}
    assert rows2 == {
        (5, 35, 1, "delete"),
        (5, -1, 1, "insert"),
        (500, -2, 0, "insert"),
    }
    ch3 = {(r.k, r.shard, r._change_type)
           for r in snapshot_changes(spark, path, 2, 3).collect()}
    assert ch3 == {(6, 2, "delete")}

    feed = spark.read.format("tablechanges").option("path", path).load()
    assert "shard" in feed.columns
    f2 = {(r.k, r.v, r.shard, r._change_type)
          for r in feed.where("_commit_version = 2").collect()}
    assert f2 == rows2
    f3 = {(r.k, r.shard, r._change_type)
          for r in feed.where("_commit_version = 3").collect()}
    assert f3 == ch3
    # version 1 streams the initial content with partition values intact
    f1 = feed.where("_commit_version = 1")
    assert f1.count() == 100
    assert f1.where("shard is null").count() == 0
    assert {r.shard for r in f1.select("shard").distinct().collect()} == {0, 1, 2, 3}


def test_partition_pruning_reaches_the_scan(spark, tmp_path):
    path = str(tmp_path / "t")
    _ptable(spark, path)
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(5, -1, 1)], "k long, v long, shard int"),
    )

    probe = read_version(spark, path).where("shard = 1")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    # and only that partition's rows come back
    assert probe.count() == 100 + 0  # 400/4 rows, k=5's update stayed in shard 1


def test_partitioned_op_sequences_match_reference_model(spark, tmp_path):
    """Randomized merge/targeted-delete/DV-delete sequences on a
    partitioned table vs a dict model; live state checked after every
    op, every version replayed at the end (time travel)."""
    for seed in (31, 32):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        n, shards = 240, 3
        _ptable(spark, path, n=n, shards=shards)
        model = {k: ((k * 7) % 101, k % shards) for k in range(n)}
        history = [dict(model)]

        def check_live():
            live = {
                r.k: (r.v, r.shard)
                for r in read_version(spark, path).collect()
            }
            assert live == model, f"seed {seed}: live state diverged"

        for _ in range(6):
            op = rng.choice(
                ["merge", "delete", "delete_dv", "merge_bulk", "compact",
                 "append"]
            )
            keys = rng.sample(range(0, n + 40), rng.randrange(1, 6))
            v_before = snapshot_versions(path)[-1]
            if op in ("merge", "merge_bulk"):
                rows = [
                    (k, -rng.randrange(1, 50), rng.randrange(0, shards))
                    for k in keys
                ]
                upd = spark.createDataFrame(
                    rows, "k long, v long, shard int"
                )
                if op == "merge_bulk":
                    merge_bulk(spark, path, "k", upd)
                else:
                    merge_upsert(spark, path, "k", upd)
                for k, v, s in rows:
                    model[k] = (v, s)
            elif op == "compact":
                # per-partition compaction is row-preserving: model
                # unchanged, but the version (when fragmented dirs
                # existed) must replay identically
                from data_pipeline_project_spark.sinks.manifest import (
                    compact_snapshot,
                )

                compact_snapshot(spark, path, small_bytes=1 << 20)
            elif op == "append":
                from data_pipeline_project_spark.sinks.manifest import (
                    append_snapshot,
                )

                new = [
                    (k, -1, rng.randrange(0, shards))
                    for k in keys
                    if k not in model
                ]
                if new:
                    append_snapshot(
                        spark, path,
                        spark.createDataFrame(
                            new, "k long, v long, shard int"
                        ).coalesce(1),
                    )
                    for k, v, s in new:
                        model[k] = (v, s)
            elif op == "delete":
                delete_rows_targeted(
                    spark, path, "k",
                    spark.createDataFrame([(k,) for k in keys], "k long"),
                )
                write_versioned_manifest(path)
                for k in keys:
                    model.pop(k, None)
            else:
                delete_rows_dv(
                    spark, path, "k",
                    spark.createDataFrame([(k,) for k in keys], "k long"),
                )
                for k in keys:
                    model.pop(k, None)
            if snapshot_versions(path)[-1] != v_before:
                # a DV delete matching only absent keys commits nothing
                history.append(dict(model))
            check_live()

        # time travel: every committed version replays its model state
        versions = snapshot_versions(path)
        assert len(versions) == len(history)
        for v, want in zip(versions, history):
            got = {
                r.k: (r.v, r.shard)
                for r in read_version(spark, path, v).collect()
            }
            assert got == want, f"seed {seed}: version {v} diverged"


def test_rewrite_partition_optimizes_one_directory(spark, tmp_path):
    """OPTIMIZE WHERE: re-cluster ONE partition — fragmented partition
    re-clustered (disjoint zone maps), sibling partitions
    byte-identical, DV deletes in the partition materialized away,
    time travel intact, and the targeted row_preserving intent
    commutes with a concurrent append landing in ANOTHER partition."""
    import hashlib
    import os

    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks import manifest as M
    from data_pipeline_project_spark.sinks.layout import file_zone_maps

    path = str(tmp_path / "t")
    df = spark.range(0, 4_000).select(
        ((F2.col("id") * 48_271) % 4_000).alias("k"),
        (F2.col("id") % 11).alias("v"),
        (F2.col("id") % 2).cast("int").alias("shard"),
    )
    # fragment shard=0 badly: 8 unsorted files per partition
    df.repartition(8).write.partitionBy("shard").parquet(path)
    M.write_versioned_manifest(path)
    M.delete_rows_dv(
        spark, path, "k",
        spark.createDataFrame([(2,), (4,)], "k long"),
    )
    rows_before = sorted(
        tuple(r) for r in M.read_version(spark, path).collect()
    )

    def md5s(shard):
        out = {}
        d = os.path.join(path, f"shard={shard}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                out[f] = hashlib.md5(
                    open(os.path.join(d, f), "rb").read()
                ).hexdigest()
        return out

    other_before = md5s(1)

    res = M.rewrite_partition(spark, path, "k", {"shard": 0}, n_files=3)
    assert res["files_rewritten"] == 8
    assert res["partitions"] == ["shard=0"]

    # sibling partition byte-identical; target partition re-clustered
    assert md5s(1) == other_before
    zm = [
        (mn, mx)
        for f, mn, mx in file_zone_maps(
            os.path.join(path, "shard=0"), "k"
        )
        if "opt-" in f
    ]
    assert len(zm) == 3
    zm.sort()
    assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(zm, zm[1:]))

    # rows identical (DV dead rows stay dead — now physically gone)
    assert sorted(
        tuple(r) for r in M.read_version(spark, path).collect()
    ) == rows_before
    assert M.read_version(spark, path).where("k in (2, 4)").count() == 0
    # time travel to the pre-optimize version still works
    assert M.read_version(spark, path, 2).count() == len(rows_before)

    # intent commutes: an append into shard=1 lands in the claim
    # window; the optimize rebases over it instead of conflicting
    state = {"fired": False}

    def interpose(version, mdir):
        if not state["fired"]:
            state["fired"] = True
            M._test_claim_interposer = None
            M.append_snapshot(
                spark, path,
                spark.range(90_000, 90_010).select(
                    F2.col("id").alias("k"), F2.lit(-1).alias("v"),
                    F2.lit(1).cast("int").alias("shard"),
                ),
            )

    M._test_claim_interposer = interpose
    try:
        res2 = M.rewrite_partition(spark, path, "k", {"shard": 0})
    finally:
        M._test_claim_interposer = None
    assert state["fired"]
    live = M.read_version(spark, path)
    assert live.where("k >= 90000").count() == 10   # append survived
    assert live.count() == len(rows_before) + 10

    # refusals: flat table, unknown column, empty match
    flat = str(tmp_path / "flat")
    spark.range(0, 100).select(
        F2.col("id").alias("k"), (F2.col("id") % 3).alias("v")
    ).write.parquet(flat)
    M.write_versioned_manifest(flat)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hive-partitioned"):
        M.rewrite_partition(spark, flat, "k", {"shard": 0})
    with _pytest.raises(ValueError, match="partition columns"):
        M.rewrite_partition(spark, path, "k", {"nope": 1})
    with _pytest.raises(ValueError, match="no files"):
        M.rewrite_partition(spark, path, "k", {"shard": 7})


def test_rewrite_partition_zorder(spark, tmp_path):
    """Z-ORDER one partition over (k, v): both dimensions' zone maps
    tighten inside the partition, everything else untouched."""
    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks import manifest as M

    path = str(tmp_path / "t")
    df = spark.range(0, 3_000).select(
        ((F2.col("id") * 48_271) % 3_000).alias("k"),
        ((F2.col("id") * 9_973) % 3_000).alias("v"),
        (F2.col("id") % 3).cast("int").alias("shard"),
    )
    df.repartition(6).write.partitionBy("shard").parquet(path)
    M.write_versioned_manifest(path)
    before = sorted(tuple(r) for r in M.read_version(spark, path).collect())

    res = M.rewrite_partition(spark, path, ["k", "v"], {"shard": 1}, n_files=4)
    assert res["files_rewritten"] == 6 and res["partitions"] == ["shard=1"]
    after = sorted(tuple(r) for r in M.read_version(spark, path).collect())
    assert after == before
    # z-value clustering: per-file k and v spans are each a fraction of
    # the partition's span (the z-order contract, loosely asserted)
    m = M.read_manifest(
        __import__("os").path.join(path, "_manifests", "latest.json")
    )
    opt = [f for f in m["files"] if "opt-" in f["path"]]
    assert len(opt) == 4
    for f in opt:
        kmn, kmx, _ = f["stats"]["k"][:3]
        assert kmx - kmn < 3_000  # tighter than the full span
