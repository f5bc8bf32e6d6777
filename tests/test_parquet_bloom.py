"""Parquet-NATIVE bloom probing in candidate selection (r12).

Manifest blooms stop at _BLOOM_MAX_NDV distinct keys per file (the
2 KB filter saturates — honest scope since r11); this container's
pyarrow (16.1) and DuckDB (1.0) cannot read parquet's own bloom
filters, so sinks/parquet_bloom.py parses the footer thrift and the
split-block bloom format directly. The adversarial fixture here is
the r11 bloom fixture's HIGH-NDV variant: 8 files whose secondary-key
ranges all overlap and whose per-file distinct counts exceed the
manifest bloom cap — ranges admit all 8, the manifest has no bloom to
consult, and the parquet-native blooms cut the point delete to the
single true file. Fail-open is pinned: the same fixture written
without native blooms touches all 8 and still converges to the same
rows.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_bloom_filtered
from data_pipeline_project_spark.sinks.manifest import (
    _BLOOM_MAX_NDV,
    _select_candidates,
    _snapshot_zone_maps,
    delete_rows_targeted,
    merge_upsert,
    read_manifest,
    read_version,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sinks.parquet_bloom import (
    parquet_bloom_might_contain,
    parquet_bloom_offsets,
    parquet_bloom_prune,
    probe_hash,
)

N_FILES = 8
PER_FILE = 4_000  # distinct sk per file — saturates the manifest bloom


def _high_ndv_table(spark, tmp_path, native_blooms: bool) -> str:
    """File i holds sk in {v : v % 8 == i} over [0, 32k): every file's
    [min, max] spans nearly the whole domain (ranges admit all), the
    per-file value SETS are disjoint, and per-file NDV = 4,000 >
    _BLOOM_MAX_NDV (manifest bloom saturates by design)."""
    assert PER_FILE > _BLOOM_MAX_NDV
    path = str(tmp_path / ("nb" if not native_blooms else "b"))
    for i in range(N_FILES):
        df = spark.range(0, N_FILES * PER_FILE).where(
            F.col("id") % N_FILES == i
        ).select(
            F.col("id").alias("sk"),
            F.lit(i).alias("src"),
        ).coalesce(1)
        if native_blooms:
            # 4x-oversized ndv -> fpp ~1e-8: the 7 decoy files are
            # deterministically rejected (at the default 1% a decoy
            # occasionally false-positives, which is fine in prod but
            # makes a == 1 assertion flaky-shaped)
            write_bloom_filtered(
                df, path, ["sk"], expected_ndv=4 * PER_FILE, mode="append"
            )
        else:
            df.write.mode("append").parquet(path)
    write_versioned_manifest(path)
    return path


def test_native_blooms_cut_point_delete_to_one_file(spark, tmp_path):
    path = _high_ndv_table(spark, tmp_path, native_blooms=True)
    # manifest has NO blooms for these files (bootstrap + saturation)
    import json

    m = json.load(open(os.path.join(path, "_manifests", "latest.json")))
    assert not any(f.get("bloom") for f in m["files"])

    target = 8 * 1_000 + 3  # lives only in file 3
    cands = _candidates(spark, path, target)
    assert len(cands) == 1, cands  # ranges admit 8; native blooms cut to 1
    before = read_version(spark, path).count()
    res = delete_rows_targeted(
        spark, path, "sk",
        spark.createDataFrame([(target,)], "sk long"), commit=True,
    )
    assert res["rows_deleted"] == 1
    assert res["files_rewritten"] == 1, res
    assert read_version(spark, path).count() == before - 1
    assert (
        read_version(spark, path).where(F.col("sk") == target).count() == 0
    )


def test_fail_open_without_native_blooms_still_correct(
    spark, tmp_path
):
    path = _high_ndv_table(spark, tmp_path, native_blooms=False)
    target = 8 * 1_000 + 3
    cands = _candidates(spark, path, target)
    assert len(cands) == N_FILES, cands  # ranges alone: every file probed
    before = read_version(spark, path).count()
    res = delete_rows_targeted(
        spark, path, "sk",
        spark.createDataFrame([(target,)], "sk long"), commit=True,
    )
    assert res["rows_deleted"] == 1
    assert res["files_rewritten"] == 1, res  # only the true file matched
    assert read_version(spark, path).count() == before - 1


def _candidates(spark, path, target):
    """The probe set a point op would read — the r12 observable."""
    import os as _os

    head = read_manifest(
        _os.path.join(path, "_manifests", "latest.json")
    )
    zone_maps, _rels, blooms = _snapshot_zone_maps(
        head, "sk"
    )
    return _select_candidates(
        spark, zone_maps,
        spark.createDataFrame([(target,)], "sk long"),
        "sk", blooms=blooms,
    )


def test_native_blooms_prune_merge_candidates(spark, tmp_path):
    path = _high_ndv_table(spark, tmp_path, native_blooms=True)
    target = 8 * 2_000 + 5  # file 5
    cands = _candidates(spark, path, target)
    assert len(cands) == 1, cands
    res = merge_upsert(
        spark, path, "sk",
        spark.createDataFrame([(target, -1)], "sk long, src long"),
    )
    assert res["files_rewritten"] == 1, res
    got = read_version(spark, path).where(F.col("sk") == target).collect()
    assert [r.src for r in got] == [-1]


def test_no_false_negatives_randomized_against_sparks_writer(
    spark, tmp_path
):
    """The format-parity property: every value parquet-mr inserted
    must pass this reader's probe — across both supported physical
    types, random draws."""
    rng = random.Random(31)
    path = str(tmp_path / "t")
    longs = [rng.randrange(-(2**60), 2**60) for _ in range(1_500)]
    strs = [
        "".join(rng.choice("abcXYZ019 _-é中") for _ in range(rng.randrange(1, 30)))
        for _ in range(1_500)
    ]
    df = spark.createDataFrame(
        list(zip(longs, strs)), "k long, s string"
    ).coalesce(1)
    write_bloom_filtered(df, path, ["k", "s"], expected_ndv=2_000)
    f = [
        os.path.join(path, x)
        for x in os.listdir(path)
        if x.endswith(".parquet")
    ][0]
    offs = parquet_bloom_offsets(f)
    assert {c["path"] for c in offs} == {"k", "s"}
    for v in rng.sample(longs, 100):
        assert parquet_bloom_might_contain(f, "k", [v]), v
    for v in rng.sample(strs, 100):
        assert parquet_bloom_might_contain(f, "s", [v]), v
    # absent keys mostly rejected (FPR sanity, not a contract)
    fp = sum(
        1
        for i in range(300)
        if parquet_bloom_might_contain(f, "k", [2**61 + i])
    )
    assert fp <= 30, fp
    # prune keeps exactly the true file when given decoys
    assert parquet_bloom_prune([f], "k", [longs[0]]) == [f]
    assert parquet_bloom_prune([f], "k", [2**61 + 12345]) == []


def test_reader_fails_open_on_garbage(tmp_path):
    p = str(tmp_path / "x.parquet")
    with open(p, "wb") as fh:
        fh.write(b"this is not parquet at all" * 10)
    assert parquet_bloom_offsets(p) == []
    assert parquet_bloom_might_contain(p, "k", [1]) is True
    assert parquet_bloom_prune([p], "k", [1]) == [p]
    assert probe_hash(object(), 2) is None  # unencodable: fail open


# -- r13: native blooms SURVIVE rewrite churn ---------------------------


def _bloomed_files(path):
    """Data files whose footer declares >=1 bloom-bearing chunk."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                full = os.path.join(root, f)
                if parquet_bloom_offsets(full):
                    out.append(full)
    return sorted(out)


def test_merge_rewrite_keeps_native_blooms(spark, tmp_path):
    """The r12 gap: every rewrite shed native blooms, so coverage
    decayed on exactly the churning high-NDV tables that need it. A
    keyed merge's rewritten files must carry blooms again (sized from
    the entry sketch) and the fixture must still probe 1-of-8 AFTER
    the churn."""
    from data_pipeline_project_spark.sinks.manifest import analyze_table

    path = _high_ndv_table(spark, tmp_path, native_blooms=True)
    analyze_table(path, spark=spark)  # sketches size the re-blooms
    n_bloomed_before = len(_bloomed_files(path))
    assert n_bloomed_before == N_FILES
    # rewrite HALF the files: one update key per even-numbered file
    updates = spark.createDataFrame(
        [(8 * 1_000 + i, -1) for i in range(0, N_FILES, 2)],
        "sk long, src long",
    )
    res = merge_upsert(spark, path, "sk", updates)
    assert res["files_rewritten"] == N_FILES // 2, res
    # every live file still carries a native bloom (rewritten + untouched
    # + the appended update file is tiny and optional)
    head = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    rewritten = [
        os.path.join(path, f["path"])
        for f in head["files"]
        if ".m" in os.path.basename(f["path"])
    ]
    assert len(rewritten) == N_FILES // 2
    for f in rewritten:
        assert parquet_bloom_offsets(f), f"rewritten file shed its bloom: {f}"
    # the capability held: a point lookup in a REWRITTEN file's range
    # still probes exactly one file
    target = 8 * 3_000 + 2  # lives in (rewritten) file 2
    cands = _candidates(spark, path, target)
    assert len(cands) == 1, cands


def test_targeted_delete_rewrite_keeps_native_blooms(spark, tmp_path):
    from data_pipeline_project_spark.sinks.manifest import analyze_table

    path = _high_ndv_table(spark, tmp_path, native_blooms=True)
    analyze_table(path, spark=spark)
    res = delete_rows_targeted(
        spark, path, "sk",
        spark.createDataFrame([(8 * 500 + 3,)], "sk long"), commit=True,
    )
    assert res["files_rewritten"] == 1
    head = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    rewritten = [
        os.path.join(path, f["path"])
        for f in head["files"]
        if ".d" in os.path.basename(f["path"])
    ]
    assert len(rewritten) == 1
    assert parquet_bloom_offsets(rewritten[0])


def test_bulk_rewrite_carries_native_blooms_when_saturated(
    spark, tmp_path
):
    """rewrite_table re-clusters the whole table; with per-output NDV
    above the manifest cap the outputs must carry native blooms, and
    below the cap they must NOT (the manifest bloom is cheaper and
    _attach_sketches records it for free)."""
    from data_pipeline_project_spark.sinks.manifest import (
        analyze_table,
        rewrite_table,
    )

    # saturated: 32k distinct keys into 4 outputs -> 8k/file > 2048
    path = _high_ndv_table(spark, tmp_path, native_blooms=False)
    analyze_table(path, spark=spark)
    rewrite_table(spark, path, "sk", n_files=4)
    assert len(_bloomed_files(path)) == 4
    # sub-cap: 800 distinct keys -> manifest blooms suffice, no native
    low = str(tmp_path / "low")
    spark.range(0, 800).select(
        F.col("id").alias("sk"), F.lit(0).alias("src")
    ).coalesce(2).write.parquet(low)
    write_versioned_manifest(low)
    analyze_table(low, spark=spark)
    rewrite_table(spark, low, "sk", n_files=2)
    assert _bloomed_files(low) == []
    m = read_manifest(os.path.join(low, "_manifests", "latest.json"))
    assert any((f.get("bloom") or {}).get("sk") for f in m["files"])


def test_compaction_carries_native_blooms(spark, tmp_path):
    """Several sub-cap files compacting into one SATURATED file is the
    exact moment the manifest bloom disappears — the compacted output
    must pick up a native bloom when clustering is requested."""
    from data_pipeline_project_spark.sinks.manifest import (
        analyze_table,
        compact_snapshot,
    )

    path = str(tmp_path / "c")
    for i in range(4):
        spark.range(i * 1_500, (i + 1) * 1_500).select(
            F.col("id").alias("sk"), F.lit(i).alias("src")
        ).coalesce(1).write.mode("append").parquet(path)
    write_versioned_manifest(path)
    analyze_table(path, spark=spark)
    res = compact_snapshot(spark, path, cluster_col="sk")
    assert res["files_compacted"] == 4
    assert len(_bloomed_files(path)) == 1  # the merged 6k-key output
