"""Streaming change-data-feed source over manifest tables
(sources/table_changes.py): a lakehouse table read AS a stream of
row-level changes, one micro-batch step per committed snapshot version.

The batch feed must equal the established snapshot_changes diff per
version; the stream must drain the full history under availableNow,
resume from its checkpoint consuming ONLY new commits, and fail loudly
when vacuum drops a version it hasn't consumed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    delete_rows_targeted,
    merge_upsert,
    snapshot_changes,
    vacuum,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sources.table_changes import (
    TableChangesDataSource,
)


@pytest.fixture()
def cdf_table(spark, tmp_path):
    """A table with three commits: v1 initial, v2 merge (1 update +
    1 insert), v3 delete (2 rows)."""
    spark.dataSource.register(TableChangesDataSource)
    path = str(tmp_path / "t")
    base = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "k", 3)
    write_versioned_manifest(path)
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(5, -1), (900, -2)], "k long, v long"),
    )
    delete_rows_targeted(
        spark, path, "k", spark.createDataFrame([(10,), (11,)], "k long")
    )
    write_versioned_manifest(path)
    return path


def test_batch_feed_matches_snapshot_changes(spark, cdf_table):
    feed = spark.read.format("tablechanges").option("path", cdf_table).load()
    assert feed.schema.simpleString() == (
        "struct<k:bigint,v:bigint,_change_type:string,_commit_version:bigint>"
    )
    counts = {
        (r._commit_version, r._change_type): r["count"]
        for r in feed.groupBy("_commit_version", "_change_type").count().collect()
    }
    # v1: the full initial table as inserts; v2: update = delete+insert
    # plus one pure insert; v3: two deletes
    assert counts == {
        (1, "insert"): 500,
        (2, "insert"): 2,
        (2, "delete"): 1,
        (3, "delete"): 2,
    }
    # every step must equal the established batch diff exactly
    for v in (2, 3):
        ref = snapshot_changes(spark, cdf_table, v - 1, v)
        got = feed.where(F.col("_commit_version") == v).drop("_commit_version")
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0
    # closed version range
    part = (
        spark.read.format("tablechanges")
        .option("path", cdf_table)
        .option("from_version", 1)
        .option("to_version", 2)
        .load()
    )
    assert part.select("_commit_version").distinct().count() == 1


def test_stream_drains_history_and_resumes_from_checkpoint(
    spark, cdf_table, tmp_path
):
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("tablechanges")
            .option("path", cdf_table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain"

    drain()
    first = spark.read.parquet(out)
    assert first.count() == 505  # 500 + 3 (v2) + 2 (v3)
    assert sorted(
        r._commit_version
        for r in first.select("_commit_version").distinct().collect()
    ) == [1, 2, 3]

    # new commit, restart from the SAME checkpoint: only v4 arrives
    merge_upsert(
        spark, cdf_table, "k",
        spark.createDataFrame([(7, -9)], "k long, v long"),
    )
    drain()
    second = spark.read.parquet(out)
    assert second.count() == 505 + 2  # v4 update = delete+insert
    assert (
        second.where(F.col("_commit_version") == 4).count() == 2
    )

    # replay determinism sanity: the v4 rows are the update's pair
    v4 = {
        (r.k, r.v, r._change_type)
        for r in second.where(F.col("_commit_version") == 4).collect()
    }
    assert v4 == {(7, 7 % 7, "delete"), (7, -9, "insert")}


def test_unconsumed_version_vacuumed_fails_loudly(spark, cdf_table, tmp_path):
    """Vacuum dropping a version the stream has not consumed must make
    the read FAIL, not silently skip history — the time-travel
    contract applied to streams."""
    vacuum(cdf_table, keep_versions=1)
    feed = spark.read.format("tablechanges").option("path", cdf_table).load()
    with pytest.raises(Exception, match="vacuum|missing"):
        feed.collect()


def test_schema_inference_requires_known_types_or_option(spark, tmp_path):
    spark.dataSource.register(TableChangesDataSource)
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    with pytest.raises(Exception, match="no snapshot manifest"):
        spark.read.format("tablechanges").option("path", bare).load().collect()
    # explicit schema overrides inference entirely
    path = str(tmp_path / "t")
    spark.range(3).toDF("k").write.parquet(path)
    write_versioned_manifest(path)
    feed = (
        spark.read.format("tablechanges")
        .option("path", path)
        .option("table_schema", "k BIGINT")
        .load()
    )
    assert feed.count() == 3


def test_cdf_replication_loop(spark, cdf_table, tmp_path):
    """Close the loop: a second table built ONLY from the first's
    change feed must converge to the source's exact live state —
    per version, deletes applied by key, then inserts merged. This is
    the cross-table replication a CDF source exists for."""
    replica = str(tmp_path / "replica")
    feed = spark.read.format("tablechanges").option("path", cdf_table).load()
    versions = sorted(
        r._commit_version
        for r in feed.select("_commit_version").distinct().collect()
    )
    for v in versions:
        step = feed.where(F.col("_commit_version") == v)
        dels = step.where(F.col("_change_type") == "delete").select("k")
        ins = step.where(F.col("_change_type") == "insert").select("k", "v")
        if not os.path.isdir(replica):
            write_range_clustered(ins, replica, "k", 2)
            write_versioned_manifest(replica)
            continue
        if dels.count():
            delete_rows_targeted(spark, replica, "k", dels)
            write_versioned_manifest(replica)
        if ins.count():
            merge_upsert(spark, replica, "k", ins)
    src_rows = sorted((r.k, r.v) for r in spark.read.parquet(cdf_table).collect())
    rep_rows = sorted((r.k, r.v) for r in spark.read.parquet(replica).collect())
    assert rep_rows == src_rows


def test_replicate_table_stream_end_to_end(spark, cdf_table, tmp_path):
    """Product-level replication: replicate_table_stream drains the
    source history, converges the replica, resumes from its checkpoint
    consuming only new commits, and leaves the replica a first-class
    manifest table (its own versions + change feed)."""
    from data_pipeline_project_spark.sinks.manifest import snapshot_versions
    from data_pipeline_project_spark.streaming.replicate import (
        replicate_table_stream,
    )

    replica = str(tmp_path / "replica")
    ckpt = str(tmp_path / "ck")

    def run():
        q = replicate_table_stream(spark, cdf_table, replica, "k", ckpt)
        assert q.awaitTermination(240), "replication did not drain"
        return q

    q = run()
    assert q.applied_versions == [1, 2, 3]
    src = sorted((r.k, r.v) for r in spark.read.parquet(cdf_table).collect())
    rep = sorted((r.k, r.v) for r in spark.read.parquet(replica).collect())
    assert rep == src

    # two more source commits; restart applies ONLY them
    merge_upsert(
        spark, cdf_table, "k",
        spark.createDataFrame([(7, -9), (901, -3)], "k long, v long"),
    )
    delete_rows_targeted(
        spark, cdf_table, "k", spark.createDataFrame([(900,)], "k long")
    )
    write_versioned_manifest(cdf_table)

    q2 = run()
    assert q2.applied_versions == [4, 5]
    src2 = sorted((r.k, r.v) for r in spark.read.parquet(cdf_table).collect())
    rep2 = sorted((r.k, r.v) for r in spark.read.parquet(replica).collect())
    assert rep2 == src2

    # the replica is itself a versioned manifest table with history
    assert len(snapshot_versions(replica)) >= 3
    feed = spark.read.format("tablechanges").option("path", replica).load()
    assert feed.where(F.col("_change_type") == "delete").count() >= 3


def test_sharded_step_diff_equals_unsharded(spark, cdf_table):
    """shards=N splits one commit's diff across tasks via a stable row
    hash — a multiset diff decomposes exactly under any deterministic
    row partitioning, so the sharded feed must be row-identical."""
    one = (
        spark.read.format("tablechanges").option("path", cdf_table).load()
    )
    sharded = (
        spark.read.format("tablechanges")
        .option("path", cdf_table)
        .option("shards", 4)
        .load()
    )
    assert sharded.count() == one.count() == 505
    assert sharded.exceptAll(one).count() == 0
    assert one.exceptAll(sharded).count() == 0


def test_null_valued_rows_survive_the_feed(spark, tmp_path):
    """Regression: a null in a BIGINT column used to die in the diff
    step — pandas groupby(dropna=False) rewrites None group keys as
    float NaN, which cannot re-enter an int64 arrow column. Nulls must
    round-trip through BOTH feed paths (insert-only v1, diff v2)."""
    spark.dataSource.register(TableChangesDataSource)
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    )
    write_range_clustered(base, path, "k", 1)
    write_versioned_manifest(path)                       # v1: insert-only path
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(2, 20), (4, None)], "k long, v long"),
    )                                                    # v2: groupby-diff path

    feed = spark.read.format("tablechanges").option("path", path).load()
    rows = {
        (r.k, r.v, r._change_type, r._commit_version) for r in feed.collect()
    }
    assert (2, None, "insert", 1) in rows                # null inserted at v1
    assert (2, None, "delete", 2) in rows                # null retracted at v2
    assert (2, 20, "insert", 2) in rows
    assert (4, None, "insert", 2) in rows                # null inserted via diff
    assert len(rows) == 6  # survivors (1,10),(3,30) cancel in the v2 diff
