"""Per-file Bloom filters in the manifest log (r11): point-lookup
pruning beyond min/max ranges.

Zone maps prune perfectly on the CLUSTER key and not at all on any
other key whose per-file ranges overlap. The fixture here is exactly
that adversarial shape: file i holds secondary-key values {i, 100-i},
so every file's [min,max] spans most of the domain (ranges prune
almost nothing) while the per-file VALUE SETS are disjoint — the
bloom prunes a point delete/merge to the single true file.

Correctness posture: false negatives are impossible by construction
(every recorded key sets its bits — pinned by a randomized
no-false-negative property over both canonical kinds), saturated or
absent blooms FAIL OPEN, and the final table state always equals the
no-bloom semantics.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.manifest import (
    _bloom_may_contain_any,
    _bloom_probe_hashes,
    _sketch_files,
    append_snapshot,
    delete_rows_targeted,
    merge_upsert,
    read_manifest,
    read_version,
    write_versioned_manifest,
)


def _latest(path):
    return read_manifest(os.path.join(path, "_manifests", "latest.json"))


def _adversarial_table(spark, tmp_path):
    """Seed file (no bloom) + 8 keyed appends; append i holds
    sk in {i, 100-i} — overlapping ranges, disjoint value sets."""
    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(-1).alias("sk"), F.lit(0).alias("v")
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    for i in range(8):
        df = spark.range(1_000 * (i + 1), 1_000 * (i + 1) + 500).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, F.lit(i))
            .otherwise(F.lit(100 - i))
            .alias("sk"),
            F.lit(i).alias("v"),
        )
        append_snapshot(spark, path, df.coalesce(1), key_col="sk")
    return path


def test_appends_record_blooms_for_the_key(spark, tmp_path):
    path = _adversarial_table(spark, tmp_path)
    m = _latest(path)
    with_bloom = [f for f in m["files"] if (f.get("bloom") or {}).get("sk")]
    assert len(with_bloom) == 8  # every keyed append; never the bootstrap
    b = with_bloom[0]["bloom"]["sk"]
    assert b["kind"] == "int" and b["m"] == M._BLOOM_M_BITS


def test_point_delete_prunes_to_the_true_file(spark, tmp_path):
    path = _adversarial_table(spark, tmp_path)
    before = read_version(spark, path).count()
    # sk=93 lives only in append 7, but [min,max] of every append
    # contains 93's range-mates — zone maps alone keep all 8
    res = delete_rows_targeted(
        spark, path, "sk",
        spark.createDataFrame([(93,)], "sk long"), commit=True,
    )
    assert res["rows_deleted"] == 250
    assert res["files_rewritten"] == 1, res
    assert read_version(spark, path).count() == before - 250
    assert (
        read_version(spark, path).where(F.col("sk") == 93).count() == 0
    )


def test_point_merge_prunes_and_matches_semantics(spark, tmp_path):
    path = _adversarial_table(spark, tmp_path)
    res = merge_upsert(
        spark, path, "sk",
        spark.createDataFrame([(97, 777, -9)], "sk long, k long, v long"),
    )
    assert res["files_rewritten"] == 1, res
    got = read_version(spark, path)
    assert got.where(F.col("sk") == 97).count() == 1
    assert got.where((F.col("sk") == 97) & (F.col("v") == -9)).count() == 1


def test_fail_open_on_bloomless_files(spark, tmp_path):
    path = _adversarial_table(spark, tmp_path)
    # the bootstrap file has NO bloom: a key only it holds must still
    # be found (absent bloom keeps the file a candidate)
    res = delete_rows_targeted(
        spark, path, "sk",
        spark.createDataFrame([(-1,)], "sk long"), commit=True,
    )
    assert res["rows_deleted"] == 100
    assert read_version(spark, path).where(F.col("sk") == -1).count() == 0


def test_saturated_cardinality_records_no_bloom(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    ).coalesce(1).write.parquet(path)
    write_versioned_manifest(path)
    # 5,000 distinct keys in one appended file > _BLOOM_MAX_NDV
    append_snapshot(
        spark, path,
        spark.range(100, 5_100).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ).coalesce(1),
        key_col="k",
    )
    m = _latest(path)
    assert not any((f.get("bloom") or {}).get("k") for f in m["files"])


@pytest.mark.parametrize("kind", ["int", "str"])
def test_no_false_negatives_randomized(spark, tmp_path, kind):
    """The correctness property that makes bloom pruning safe: every
    value actually present in a file must pass its bloom — across
    random draws and both canonical kinds (build-side Spark xxhash64
    column hash == probe-side pure-Python xxh64 value hash)."""
    rng = random.Random(17)
    path = str(tmp_path / f"b_{kind}")
    if kind == "int":
        vals = [rng.randrange(-(2**60), 2**60) for _ in range(800)]
        df = spark.createDataFrame([(v,) for v in vals], "sk long")
    else:
        vals = [
            "".join(
                rng.choice("abcXYZ019 _-é中") for _ in range(rng.randrange(1, 25))
            )
            for _ in range(800)
        ]
        df = spark.createDataFrame([(v,) for v in vals], "sk string")
    df.coalesce(1).write.parquet(path)
    fname = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ][0]
    full = os.path.abspath(os.path.join(path, fname))
    bloom = _sketch_files(spark, {}, {full: {"sk": kind}})[full][
        "bloom"
    ]["sk"]

    present = rng.sample(vals, 50)
    for v in present:
        hs = _bloom_probe_hashes([v], kind)
        assert hs and _bloom_may_contain_any(bloom, hs), v
    # and absent keys are MOSTLY rejected (FPR sanity, not a contract)
    absent = (
        [rng.randrange(2**61, 2**62) for _ in range(200)]
        if kind == "int"
        else [f"zz-{rng.random()}" for _ in range(200)]
    )
    fp = sum(
        1
        for v in absent
        if _bloom_may_contain_any(bloom, _bloom_probe_hashes([v], kind))
    )
    assert fp <= 20, f"false-positive rate implausibly high: {fp}/200"
