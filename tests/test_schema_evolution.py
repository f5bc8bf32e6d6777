"""Write-side schema evolution on manifest tables: ADD COLUMN through
MERGE (sinks/manifest.py, schema_evolution=True).

The contract under test is Delta/Iceberg's: evolution is METADATA-ONLY
— no existing file is rewritten to add a column; the evolved logical
schema is pinned in the commit's manifest (and inherited by every
later commit), and every reader — snapshot reads, time travel, the
change feeds, compaction, the bulk rewrites — resolves missing columns
to nulls from the log's schema instead of trusting footer inference."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    compact_snapshot,
    delete_bulk,
    delete_rows_targeted,
    merge_bulk,
    merge_upsert,
    read_manifest,
    read_version,
    snapshot_changes,
    table_schema,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sources.table_changes import (
    TableChangesDataSource,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    write_range_clustered(base, path, "k", 3)
    write_versioned_manifest(path)
    return path


def _evolve(spark, path):
    """v2: update 2 rows + insert 1, all carrying a new column w."""
    return merge_upsert(
        spark, path, "k",
        spark.createDataFrame(
            [(5, -1, "a"), (6, -2, "b"), (900, -3, "c")],
            "k long, v long, w string",
        ),
        schema_evolution=True,
    )


def test_add_column_is_metadata_only_and_time_travel_keeps_old_schema(
    spark, table
):
    import pyarrow.parquet as pq

    pre_files = {
        f for f in os.listdir(table) if f.endswith(".parquet")
    }
    res = _evolve(spark, table)
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1

    live = read_version(spark, table)
    assert live.columns == ["k", "v", "w"]
    assert live.count() == 301
    got = {r.k: (r.v, r.w) for r in live.where("k in (5, 6, 900, 7)").collect()}
    assert got == {5: (-1, "a"), 6: (-2, "b"), 900: (-3, "c"), 7: (7 % 9, None)}

    # metadata-only: pre-evolution files that survived the merge (the
    # keys 5/6 live in one candidate file; the others are untouched)
    # still lack w in their physical footers
    survivors = [
        f
        for f in os.listdir(table)
        if f.endswith(".parquet") and f in pre_files
    ]
    assert survivors, "evolution must not rewrite non-candidate files"
    for f in survivors:
        assert "w" not in pq.read_schema(os.path.join(table, f)).names

    # time travel to v1 renders the PRE-evolution schema
    v1 = read_version(spark, table, 1)
    assert v1.columns == ["k", "v"] and v1.count() == 300

    # pinned logical schema, inherited by later commits
    assert [f.name for f in table_schema(spark, table).fields] == ["k", "v", "w"]
    merge_upsert(
        spark, table, "k",
        spark.createDataFrame([(10, 99, None)], "k long, v long, w string"),
    )
    latest = read_manifest(os.path.join(table, "_manifests", "latest.json"))
    assert latest.get("schema_json") is not None


def test_evolution_contract_errors(spark, table):
    with_extra = spark.createDataFrame(
        [(1, 0, "x")], "k long, v long, w string"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, table, "k", with_extra)  # no flag
    with pytest.raises(ValueError, match="missing existing"):
        merge_upsert(
            spark, table, "k",
            spark.createDataFrame([(1, "x")], "k long, w string"),
            schema_evolution=True,
        )
    with pytest.raises(ValueError, match="targeted path"):
        merge_upsert(
            spark, table, "k", with_extra,
            schema_evolution=True, rewrite="bulk",
        )


def test_change_feeds_span_the_evolution(spark, table):
    spark.dataSource.register(TableChangesDataSource)
    _evolve(spark, table)  # v2 evolves
    delete_rows_targeted(
        spark, table, "k", spark.createDataFrame([(5,), (7,)], "k long")
    )
    write_versioned_manifest(table)  # v3

    # batch differ: the delete of pre-evolution row k=7 surfaces w=null
    ch = snapshot_changes(spark, table, 2, 3)
    rows = {(r.k, r.v, r.w, r._change_type) for r in ch.collect()}
    assert (7, 7 % 9, None, "delete") in rows
    assert (5, -1, "a", "delete") in rows

    # tablechanges feed: evolved schema end-to-end, old files reindexed
    feed = (
        spark.read.format("tablechanges").option("path", table).load()
    )
    assert feed.columns == ["k", "v", "w", "_change_type", "_commit_version"]
    v2 = {
        (r.k, r.v, r.w, r._change_type)
        for r in feed.where("_commit_version = 2").collect()
    }
    # the evolving merge rewrote k=5/6's file: their old rows diff out
    # with w=null, the new rows diff in with values
    assert (5, 5 % 9, None, "delete") in v2 and (5, -1, "a", "insert") in v2
    assert (900, -3, "c", "insert") in v2


def test_compaction_and_bulk_rewrites_unify_the_evolved_schema(
    spark, table
):
    _evolve(spark, table)
    before = {
        (r.k, r.v, r.w) for r in read_version(spark, table).collect()
    }

    # compaction merges heterogeneous small files without dropping w
    res = compact_snapshot(spark, table, small_bytes=64 * 1024 * 1024)
    assert res["files_compacted"] >= 2
    assert {
        (r.k, r.v, r.w) for r in read_version(spark, table).collect()
    } == before

    # bulk merge on the evolved (now compacted) table: full-schema
    # updates, whole-table rewrite, rows preserved
    merge_bulk(
        spark, table, "k",
        spark.createDataFrame([(0, 100, "z")], "k long, v long, w string"),
    )
    after = {(r.k, r.v, r.w) for r in read_version(spark, table).collect()}
    assert (0, 100, "z") in after and len(after) == len(before)

    # bulk delete still works under the pinned schema
    delete_bulk(spark, table, "k", spark.createDataFrame([(0,)], "k long"))
    assert read_version(spark, table).where("k = 0").count() == 0

def test_type_widening_evolution(spark, tmp_path):
    """int -> bigint and float -> double widen through an evolving
    merge: the pinned logical type widens, old files keep their narrow
    physical type, and the vectorized reader upcasts on read."""
    path = str(tmp_path / "t")
    base = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 5).cast("int").alias("v"),
        (F.col("id") % 7).cast("float").alias("x"),
    )
    write_range_clustered(base, path, "k", 2)
    write_versioned_manifest(path)

    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(3, 10_000_000_000, 2.5)], "k int, v long, x double"),
        schema_evolution=True,
    )
    live = read_version(spark, path)
    types = {f.name: f.dataType.simpleString() for f in live.schema.fields}
    assert types == {"k": "int", "v": "bigint", "x": "double"}
    assert live.where("k = 3").collect()[0].v == 10_000_000_000
    want_sum = sum(i % 5 for i in range(100)) - (3 % 5) + 10_000_000_000
    assert live.agg(F.sum("v")).collect()[0][0] == want_sum
    assert live.count() == 100

    # the widened pin is the table's schema for later strict merges
    assert table_schema(spark, path)["v"].dataType.simpleString() == "bigint"
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(4, 7, 1.0)], "k int, v long, x double"),
    )
    assert read_version(spark, path).where("k = 4").collect()[0].v == 7


def test_replication_carries_evolution_across_restart(spark, tmp_path):
    """Replica follows the source's schema evolution: a restarted
    replication stream reads the feed under the evolved schema and the
    replica table evolves through the same merge path."""
    from data_pipeline_project_spark.streaming.replicate import (
        replicate_table_stream,
    )

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    write_range_clustered(base, src, "k", 2)
    write_versioned_manifest(src)

    q = replicate_table_stream(spark, src, rep, "k", ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(rep).columns == ["k", "v"]

    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(1, -1, "tag"), (99, -2, "new")],
                              "k long, v long, w string"),
        schema_evolution=True,
    )
    q2 = replicate_table_stream(spark, src, rep, "k", ckpt)
    q2.awaitTermination(120)

    live = read_version(spark, rep)
    assert live.columns == ["k", "v", "w"]
    got = {r.k: (r.v, r.w) for r in live.where("k in (1, 99, 2)").collect()}
    assert got == {1: (-1, "tag"), 99: (-2, "new"), 2: (2, None)}
    src_rows = sorted(
        (r.k, r.v, r.w) for r in read_version(spark, src).collect()
    )
    rep_rows = sorted((r.k, r.v, r.w) for r in live.collect())
    assert rep_rows == src_rows


def test_drop_column_is_metadata_only_with_resurrection_guard(
    spark, table
):
    from data_pipeline_project_spark.sinks.manifest import (
        drop_column,
        rewrite_table,
        table_dropped_cols,
    )

    _evolve(spark, table)             # v2: adds w
    drop_column(spark, table, "w")          # v3: metadata-only drop

    live = read_version(spark, table)
    assert live.columns == ["k", "v"] and live.count() == 301
    # time travel: the pre-drop version still shows w
    assert read_version(spark, table, 2).columns == ["k", "v", "w"]

    # re-adding the dropped name is refused until a physical rewrite
    with pytest.raises(ValueError, match="resurrect"):
        merge_upsert(
            spark, table, "k",
            spark.createDataFrame([(1, 0, "zombie")], "k long, v long, w string"),
            schema_evolution=True,
        )

    # merges under the narrowed schema work
    merge_upsert(
        spark, table, "k",
        spark.createDataFrame([(2, 42)], "k long, v long"),
    )
    assert read_version(spark, table).where("k = 2").collect()[0].v == 42

    # rewrite_table purges the physical bytes and frees the name
    rewrite_table(spark, table, "k")
    assert table_dropped_cols(table) == []
    merge_upsert(
        spark, table, "k",
        spark.createDataFrame([(1, 0, "fresh")], "k long, v long, w string"),
        schema_evolution=True,
    )
    again = read_version(spark, table)
    got = {r.k: r.w for r in again.where("k in (1, 5)").collect()}
    assert got == {1: "fresh", 5: None}  # k=5's old 'a' stayed dead


def test_rename_column_reads_and_key_guard(spark, table):
    from data_pipeline_project_spark.sinks.manifest import (
        rename_column,
        rewrite_table,
        table_renames,
    )

    _evolve(spark, table)                      # v2: +w
    rename_column(spark, table, "v", "val")          # v3: non-key rename

    live = read_version(spark, table)
    assert live.columns == ["k", "val", "w"]
    got = {r.k: r.val for r in live.where("k in (5, 7)").collect()}
    assert got == {5: -1, 7: 7 % 9}                  # old physical v readable

    # merge under the logical name works (non-key rename pending)
    merge_upsert(
        spark, table, "k",
        spark.createDataFrame([(7, 1000, None)], "k long, val long, w string"),
    )
    assert read_version(spark, table).where("k = 7").collect()[0].val == 1000

    # feed across the rename: logical names end-to-end
    ch = snapshot_changes(spark, table, 3, 4)
    assert "val" in ch.columns and "v" not in ch.columns
    assert (7, 1000) in {(r.k, r.val) for r in ch.collect()}

    # renaming the KEY blocks targeted merges until materialized
    rename_column(spark, table, "k", "id")
    with pytest.raises(ValueError, match="pending rename"):
        merge_upsert(
            spark, table, "id",
            spark.createDataFrame([(1, 0, None)], "id long, val long, w string"),
        )
    rewrite_table(spark, table, "id")
    # the map is retained for historical reads; what re-enables merges
    # is that every LIVE file now physically carries the logical names
    assert table_renames(table) == {"k": "id", "v": "val"}
    merge_upsert(
        spark, table, "id",
        spark.createDataFrame([(1, -7, "x")], "id long, val long, w string"),
    )
    final = read_version(spark, table)
    assert final.columns == ["id", "val", "w"]
    assert final.where("id = 1").collect()[0].val == -7
    assert final.count() == 301


def test_rename_chain_and_tablechanges_feed(spark, table):
    from data_pipeline_project_spark.sinks.manifest import rename_column

    spark.dataSource.register(TableChangesDataSource)
    _evolve(spark, table)                      # v2: +w
    rename_column(spark, table, "v", "val")          # v3
    rename_column(spark, table, "val", "metric")     # v4: chain v->val->metric
    merge_upsert(
        spark, table, "k",
        spark.createDataFrame([(5, 123, "zz")], "k long, metric long, w string"),
    )                                                # v5

    live = read_version(spark, table)
    assert live.columns == ["k", "metric", "w"]
    assert live.where("k = 6").collect()[0].metric == -2  # through the chain

    feed = spark.read.format("tablechanges").option("path", table).load()
    assert feed.columns == ["k", "metric", "w", "_change_type", "_commit_version"]
    v5 = {
        (r.k, r.metric, r.w, r._change_type)
        for r in feed.where("_commit_version = 5").collect()
    }
    assert (5, -1, "a", "delete") in v5 and (5, 123, "zz", "insert") in v5


def test_deep_clone_carries_evolution_metadata(spark, table, tmp_path):
    from data_pipeline_project_spark.sinks.manifest import (
        clone_snapshot,
        rename_column,
    )

    _evolve(spark, table)
    rename_column(spark, table, "v", "val")
    dst = str(tmp_path / "clone")
    clone_snapshot(table, dst, deep=True)
    cloned = read_version(spark, dst)
    assert cloned.columns == ["k", "val", "w"]
    assert cloned.count() == 301
    assert cloned.where("k = 5").collect()[0].val == -1


def test_rewrite_table_zorder_multi_dimensional(spark, tmp_path):
    """rewrite_table with a column LIST interleaves a z-order key:
    after the rewrite, zone maps prune on BOTH dimensions (each file
    covers a fraction of each column's range), content is unchanged,
    and the synthetic key never reaches the files."""
    from data_pipeline_project_spark.sinks.layout import file_zone_maps
    from data_pipeline_project_spark.sinks.manifest import rewrite_table

    path = str(tmp_path / "t")
    df = spark.range(0, 40_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 200).alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        (F.col("id") % 7).alias("v"),
    )
    write_range_clustered(df, path, "k", 16)  # clustered on k: x/y smeared
    write_versioned_manifest(path)
    before = spark.read.parquet(path).agg(
        F.sum("v"), F.count("v"), F.sum("x"), F.sum("y")
    ).collect()

    res = rewrite_table(spark, path, ["x", "y"], n_files=16)
    assert res["rows"] == 40_000

    live = read_version(spark, path)
    assert live.columns == ["k", "x", "y", "v"]  # no synthetic key leaked
    assert live.agg(
        F.sum("v"), F.count("v"), F.sum("x"), F.sum("y")
    ).collect() == before

    # both dimensions prune: the average file covers well under the
    # full range on x AND y (k-clustering gave x full-range smear)
    def avg_span(col, full):
        zm = [
            (mn, mx)
            for _, mn, mx in file_zone_maps(path, col)
            if mn is not None
        ]
        return sum(mx - mn for mn, mx in zm) / len(zm) / full

    assert avg_span("x", 200) < 0.6
    assert avg_span("y", 200) < 0.6


def test_replication_follows_type_widening(spark, tmp_path):
    """A source that WIDENED a type (int -> bigint) ships no new column
    names, so a name-superset check alone would run the replica merge
    non-evolving and cast feed values down to the replica's narrow type
    (silently wrapping/nulling out-of-range values). The replica must
    widen instead."""
    from data_pipeline_project_spark.streaming.replicate import (
        replicate_table_stream,
    )

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 50).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("v"),
    )
    write_range_clustered(base, src, "k", 2)
    write_versioned_manifest(src)

    q = replicate_table_stream(spark, src, rep, "k", ckpt)
    q.awaitTermination(120)
    assert {
        f.name: f.dataType.simpleString()
        for f in read_version(spark, rep).schema.fields
    } == {"k": "int", "v": "int"}

    # source widens v to bigint with a value no int can hold
    big = 10_000_000_000
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(3, big)], "k int, v long"),
        schema_evolution=True,
    )
    q2 = replicate_table_stream(spark, src, rep, "k", ckpt)
    q2.awaitTermination(120)

    live = read_version(spark, rep)
    assert live.schema["v"].dataType.simpleString() == "bigint"
    assert live.where("k = 3").collect()[0].v == big  # not wrapped, not null
    src_rows = sorted((r.k, r.v) for r in read_version(spark, src).collect())
    assert sorted((r.k, r.v) for r in live.collect()) == src_rows
