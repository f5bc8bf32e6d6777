"""Deletion vectors (sinks/manifest.py::delete_rows_dv): merge-on-read
DELETE — matched rows' (file, row_index) positions land in a parquet
under ``_dv/`` pinned by the commit's manifest; data files stay
byte-identical and every reader anti-joins the vector.

Contracts under test: logical deletion without rewrite, time travel
(pre-delete versions still show the rows), idempotent replay, rewrites
never resurrecting DV-dead rows (and materializing vectors away), both
change feeds emitting DV deletes, vacuum dropping unreferenced vectors,
crash recovery quarantining uncommitted ones, and a materialized view
tracking a DV-churned source."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    compact_snapshot,
    delete_rows_dv,
    merge_upsert,
    read_version,
    recover_to_last_manifest,
    rewrite_table,
    snapshot_changes,
    snapshot_versions,
    table_dv,
    vacuum,
    write_versioned_manifest,
)


def _table(spark, path, n=400):
    df = spark.range(0, n).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 101).alias("v")
    )
    write_range_clustered(df, path, "k", 4)
    write_versioned_manifest(path)


def _file_hashes(path):
    return {
        f: hashlib.md5(open(os.path.join(path, f), "rb").read()).hexdigest()
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def test_dv_delete_is_logical_and_time_travels(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    before = _file_hashes(path)

    res = delete_rows_dv(
        spark, path, "k",
        spark.createDataFrame([(5,), (17,), (9999,)], "k long"),  # 9999 absent
    )
    assert res["rows_deleted"] == 2 and res["dv_files"] == 1

    # no data file was touched — the deletion is purely logical
    assert _file_hashes(path) == before
    live = read_version(spark, path)
    assert live.count() == 398
    assert live.where("k in (5, 17)").count() == 0
    # time travel: the pre-delete snapshot still shows the rows
    assert read_version(spark, path, 1).where("k in (5, 17)").count() == 2

    # idempotent replay: same keys match only dead rows -> no-op, no commit
    res2 = delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(5,), (17,)], "k long")
    )
    assert res2["rows_deleted"] == 0
    assert res2["version"] == res["version"]

    # a second dv delete stacks a second vector
    res3 = delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(100,)], "k long")
    )
    assert res3["rows_deleted"] == 1 and res3["dv_files"] == 2
    assert read_version(spark, path).count() == 397


def test_rewrites_never_resurrect_and_materialize_the_vector(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    _table(spark, path)
    delete_rows_dv(
        spark, path, "k",
        spark.createDataFrame([(int(k),) for k in range(0, 40)], "k long"),
    )

    # targeted merge touching the same file region: k=1 is DV-dead, so
    # the merge INSERTS it back; k=50 is live and gets replaced; the
    # survivor rewrite must not resurrect the other 38 dead rows
    res = merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(1, -1), (50, -2)], "k long, v long"),
    )
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 1
    live = read_version(spark, path)
    assert live.count() == 361  # 400 - 40 dead + 1 reinserted
    got = {r.k: r.v for r in live.where("k in (1, 50, 2)").collect()}
    assert got == {1: -1, 50: -2}  # k=2 stays dead
    live_rows = sorted(map(tuple, live.collect()))  # materialize pre-rewrite

    # whole-table rewrite materializes the vector away
    rewrite_table(spark, path, "k")
    assert table_dv(path) == []
    live2 = read_version(spark, path)
    assert live2.count() == 361
    assert live2.where("k = 2").count() == 0
    # exactly the same logical content before and after materialization
    assert live_rows == sorted(map(tuple, live2.collect()))


def test_compaction_materializes_dv_for_compacted_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(7,), (300,)], "k long")
    )
    before = sorted(map(tuple, read_version(spark, path).collect()))
    res = compact_snapshot(spark, path, small_bytes=1 << 30)
    assert res["files_compacted"] >= 2
    assert res["rows_compacted"] == 398  # live rows only entered the rewrite
    assert sorted(map(tuple, read_version(spark, path).collect())) == before


def test_change_feeds_emit_dv_deletes(spark, tmp_path):
    from data_pipeline_project_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    path = str(tmp_path / "t")
    _table(spark, path, n=100)
    delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(3,), (98,)], "k long")
    )  # v2: files path-identical, only the vector differs

    ch = snapshot_changes(spark, path, 1, 2)
    rows = {(r.k, r.v, r._change_type) for r in ch.collect()}
    assert rows == {(3, 21, "delete"), (98, (98 * 7) % 101, "delete")}

    feed = spark.read.format("tablechanges").option("path", path).load()
    v2 = {
        (r.k, r._change_type)
        for r in feed.where("_commit_version = 2").collect()
    }
    assert v2 == {(3, "delete"), (98, "delete")}
    # sharded decomposition stays exact over a DV step
    sharded = (
        spark.read.format("tablechanges")
        .option("path", path).option("shards", 3).load()
    )
    assert sharded.exceptAll(feed).count() == 0
    assert feed.exceptAll(sharded).count() == 0


def test_vacuum_drops_unreferenced_vectors_and_recovery_quarantines(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    _table(spark, path)
    delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(1,)], "k long")
    )  # v2 pins dv A
    rewrite_table(spark, path, "k")  # v3 pins dv []
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(2, 0)], "k long, v long"),
    )  # v4

    res = vacuum(path, keep_versions=2)  # keeps v3, v4 — dv A unreferenced
    assert res["dv_deleted"] == 1
    assert read_version(spark, path).where("k = 1").count() == 0

    # crashed dv delete: vector written, manifest never committed
    dv_dir = os.path.join(path, "_dv")
    orphan = os.path.join(dv_dir, "dv-v99-deadbeef.parquet")
    spark.createDataFrame([("x.parquet", 0)], "file string, pos long") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [
        f for f in os.listdir(str(tmp_path / "stage")) if f.endswith(".parquet")
    ][0]
    os.replace(os.path.join(str(tmp_path / "stage"), part), orphan)
    rec = recover_to_last_manifest(path)
    assert rec["quarantined"] >= 1
    assert not os.path.exists(orphan)
    # table unaffected (400 - the k=1 delete, materialized at v3)
    assert read_version(spark, path).count() == 399


def test_matview_tracks_dv_churned_source(spark, tmp_path):
    from data_pipeline_project_spark.sinks.matview import (
        create_agg_view,
        read_agg_view,
        refresh_agg_view,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        ((F.col("id") * 3) % 47).cast("long").alias("v"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    create_agg_view(spark, src, view, ["g"], "v")

    # DV-delete an entire group's rows plus a few others
    g4 = [(int(r.k),) for r in spark.read.parquet(src).where("g = 4").collect()]
    delete_rows_dv(
        spark, src, "k",
        spark.createDataFrame(g4 + [(0,), (1,)], "k long"),
    )
    res = refresh_agg_view(spark, view, mode="delta")
    assert res["groups_dropped"] == 1
    got = sorted(map(tuple, read_agg_view(spark, view).collect()))
    want = sorted(
        map(
            tuple,
            read_version(spark, src)
            .groupBy("g")
            .agg(
                F.count("v").alias("n_rows"),
                F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("sum_value"),
                F.min("v").alias("min_value"),
                F.max("v").alias("max_value"),
                F.round(
                    F.try_divide(
                        F.sum(F.col("v").cast("decimal(38,6)")).cast("double"),
                        F.count("v"),
                    ),
                    6,
                ).alias("avg_value"),
            )
            .select("g", "n_rows", "sum_value", "min_value", "max_value", "avg_value")
            .collect(),
        )
    )
    assert got == want

def test_dv_identity_is_relpath_on_partitioned_layout(spark, tmp_path):
    """Hive-partitioned writes reuse the same part-file BASENAME across
    partition directories (one task writes the same part-NNNNN-<uuid>
    name into every partition it touches) — DV row identity must be the
    table-root-relative path, or a 1-key delete kills the row at the
    same row_index in every sibling file."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 101, 0) for k in range(50)]
        + [(k, k % 101, 1) for k in range(100, 150)],
        "k long, v long, shard int",
    )
    # one task writes both partitions -> identical basenames in both dirs
    df.repartition(1).sortWithinPartitions("k").write.partitionBy(
        "shard"
    ).parquet(path)
    write_versioned_manifest(path)
    names = {
        s: sorted(os.listdir(os.path.join(path, f"shard={s}"))) for s in (0, 1)
    }
    parquets = {
        s: [f for f in names[s] if f.endswith(".parquet")] for s in (0, 1)
    }
    assert parquets[0] == parquets[1], "test premise: basenames collide"

    res = delete_rows_dv(
        spark, path, "k", spark.createDataFrame([(5,)], "k long")
    )
    assert res["rows_deleted"] == 1

    live = read_version(spark, path)
    assert live.count() == 99  # exactly one row gone
    assert live.where("k = 5").count() == 0
    # the sibling file's row at the same row_index is untouched
    assert live.where("k = 105").count() == 1
    # partition column still reads through the snapshot
    assert live.where("shard = 1").count() == 50

    # the change feed sees exactly the one delete
    ch = snapshot_changes(spark, path, 1, 2)
    rows = [(r.k, r._change_type) for r in ch.collect()]
    assert rows == [(5, "delete")]


def test_deep_clone_carries_deletion_vectors(spark, tmp_path):
    """clone_snapshot(deep=True) must copy the _dv/ files and pin the
    vector list in the clone's manifest — otherwise DV-deleted rows
    silently resurrect in the clone."""
    from data_pipeline_project_spark.sinks.manifest import (
        clone_snapshot,
        verify_snapshot,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _table(spark, src, n=100)
    delete_rows_dv(
        spark, src, "k",
        spark.createDataFrame([(3,), (7,), (11,)], "k long"),
    )
    src_rows = sorted(map(tuple, read_version(spark, src).collect()))
    assert len(src_rows) == 97

    info = clone_snapshot(src, dst, deep=True)
    assert info["deep"]
    assert verify_snapshot(
        os.path.join(dst, "_manifests", "latest.json")
    ) == []
    clone_rows = sorted(map(tuple, read_version(spark, dst).collect()))
    assert clone_rows == src_rows  # 97 rows — the 3 dead rows stayed dead

    # the clone is independent: materializing its vector away changes
    # nothing logically and leaves the source's vector alone
    rewrite_table(spark, dst, "k")
    assert table_dv(dst) == []
    assert sorted(map(tuple, read_version(spark, dst).collect())) == src_rows
    assert table_dv(src) != []
