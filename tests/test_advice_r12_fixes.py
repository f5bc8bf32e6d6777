"""Regression suite for the r12 ADVICE findings.

1. (high) ``parquet_bloom_prune`` judged a file by whichever column
   chunks DECLARED a bloom offset — but parquet-mr omits the bloom on
   a chunk whose pages stayed fully dictionary-encoded, so a file
   where one row group carries a bloom and another does not was judged
   on the covered row group alone: keys living only in the uncovered
   row group produced a FALSE NEGATIVE (file silently skipped during
   merge/delete). Fix: count row groups in the footer and fail open
   unless EVERY row group contributed a bloom-bearing chunk.
2. (medium) ``committed_versions``' read-your-own-writes branch made
   any version stamped with the thread's active txn id visible —
   including versions whose marker had already settled "aborted"
   (own abort in progress, or a peer's presumed-abort). Fix: RYOW
   applies strictly to the in-doubt window.
3. (medium) ``advised_join`` salted the skewed side with ``F.rand``,
   a nondeterministic expression feeding a join key — under stage
   re-execution recomputed rows could take different salts than the
   attempt already-consumed outputs came from (rows duplicated/lost).
   Fix: salt = pmod(xxhash64(all columns), nsalt) — content-derived,
   identical on retry. Same fix applied to ``functions/skew.py``.
4. (low) ``commit_optimistic`` called ``_attach_sketches`` unguarded:
   a transient failure inside the sketch Spark job failed the whole
   commit, contradicting the "sketches fail open" contract. Fix: the
   sketch job is wrapped; failures warn and commit sketch-free.
5. (low) ``_read_bitset`` caught only OSError; a bogus bloom offset
   can raise IndexError/ValueError/struct.error from the header
   parse, crashing candidate selection instead of failing open.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

import data_pipeline_project_spark.sinks.manifest as M
import data_pipeline_project_spark.sinks.parquet_bloom as PB
from data_pipeline_project_spark.functions.skew import (
    salted_broadcast_join,
    salted_sum,
)
from data_pipeline_project_spark.sinks.layout import write_bloom_filtered
from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    read_manifest,
    read_version,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sinks.parquet_bloom import (
    _covers_all_row_groups,
    _parse_offsets_by_col,
    _read_bitset,
    parquet_bloom_might_contain,
    parquet_bloom_prune,
)
from data_pipeline_project_spark.sinks.txn import transaction


@pytest.fixture(autouse=True)
def _fast_grace_and_clean():
    prev = M.TXN_INDOUBT_GRACE_SECS
    M.TXN_INDOUBT_GRACE_SECS = 0.05
    yield
    M.TXN_INDOUBT_GRACE_SECS = prev
    M._clear_active_txn()


# ---------------------------------------------------------------- #1/#5


def _bloom_file(spark, tmp_path, name="bf"):
    path = str(tmp_path / name)
    df = spark.range(0, 2_000).select(F.col("id").alias("sk")).coalesce(1)
    write_bloom_filtered(df, path, ["sk"], expected_ndv=4_000)
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    return files[0]


def test_covers_all_row_groups_unit():
    assert not _covers_all_row_groups(None, 1)
    assert not _covers_all_row_groups([], 1)
    assert not _covers_all_row_groups([{"rg": 0}], 0)
    assert _covers_all_row_groups([{"rg": 0}], 1)
    # a 2-row-group file where only rg0 carries a bloom: NOT trusted
    assert not _covers_all_row_groups([{"rg": 0}], 2)
    assert _covers_all_row_groups([{"rg": 0}, {"rg": 1}], 2)


def test_partial_row_group_bloom_coverage_fails_open(spark, tmp_path):
    """A file whose footer reports MORE row groups than bloom-bearing
    chunks for the column must stay a candidate — keys may live only
    in the uncovered row group (the parquet-mr dict-encoding case)."""
    f = _bloom_file(spark, tmp_path)
    cols, n_rg = _parse_offsets_by_col(f)
    assert n_rg == 1 and cols["sk"]
    # fully covered: a provably-absent key drops the file...
    assert parquet_bloom_prune([f], "sk", [999_999]) == []
    assert parquet_bloom_might_contain(f, "sk", [999_999]) is False
    # ...now simulate a second row group that carries NO bloom chunk
    # (parquet-mr omits blooms on fully dict-encoded chunks) by
    # injecting the parsed entry with an inflated row-group count
    key = (os.path.abspath(f), os.path.getmtime(f))
    PB._cache[key] = (cols, n_rg + 1)
    try:
        assert parquet_bloom_prune([f], "sk", [999_999]) == [f]
        assert parquet_bloom_might_contain(f, "sk", [999_999]) is True
    finally:
        PB._cache.pop(key, None)


def test_multi_row_group_bloom_file_still_prunes(spark, tmp_path):
    """A genuinely multi-row-group bloom write: every row group carries
    a chunk bloom (Spark/parquet-mr writes one per chunk here), so the
    coverage rule does not regress real pruning."""
    path = str(tmp_path / "mrg")
    df = spark.range(0, 50_000).select(
        F.col("id").alias("sk"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    ).coalesce(1)
    (
        df.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#sk", "true")
        .option("parquet.bloom.filter.expected.ndv#sk", "100000")
        .option("parquet.block.size", str(256 * 1024))
        .parquet(path)
    )
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    cols, n_rg = _parse_offsets_by_col(files[0])
    assert n_rg > 1, "fixture must produce multiple row groups"
    if _covers_all_row_groups(cols.get("sk"), n_rg):
        # full coverage: absent key prunes, present key kept
        assert parquet_bloom_prune(files, "sk", [10**9]) == []
        assert parquet_bloom_prune(files, "sk", [25_000]) == files
    else:
        # writer skipped a chunk's bloom (dict-encoded): must fail open
        assert parquet_bloom_prune(files, "sk", [10**9]) == files


def test_read_bitset_bogus_offset_fails_open(spark, tmp_path):
    """Corrupt/bogus bloom offsets must return None (keep the file),
    never raise — IndexError past the buffer, ValueError from the
    thrift walker, struct.error from a short unpack all count."""
    f = _bloom_file(spark, tmp_path, name="bogus")
    size = os.path.getsize(f)
    for off in (size - 2, size - 70, 4, 0, size + 10):
        assert _read_bitset(f, off, None) is None
    # and end-to-end: a cache entry pointing at garbage keeps the file
    cols, n_rg = _parse_offsets_by_col(f)
    bad = {
        "sk": [dict(cm, off=size - 2) for cm in cols["sk"]]
    }
    key = (os.path.abspath(f), os.path.getmtime(f))
    PB._cache[key] = (bad, n_rg)
    try:
        assert parquet_bloom_prune([f], "sk", [999_999]) == [f]
    finally:
        PB._cache.pop(key, None)


# ------------------------------------------------------------------- #2


def test_ryow_invisible_once_marker_aborted(spark, tmp_path):
    """A staged version whose marker has settled 'aborted' is invisible
    even to the OWNING thread: its data was never and will never be
    committed, so RYOW applies strictly to the in-doubt window."""
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(raw)
    write_versioned_manifest(raw)
    spark.range(0, 10).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(agg)
    write_versioned_manifest(agg)

    t = transaction([raw, agg]).__enter__()
    try:
        append_snapshot(
            spark, raw, spark.range(1000, 1010).select(F.col("id").alias("k"))
        )
        # in-doubt: the owner reads its own staged write
        assert read_version(spark, raw).count() == 110
        # a concurrent writer presumed abort (or own abort in flight):
        # the marker settles 'aborted'
        os.makedirs(os.path.dirname(t.marker), exist_ok=True)
        M.get_log_store().publish_once(
            t.marker,
            json.dumps(
                {"outcome": "aborted", "id": t.txn_id}, sort_keys=True
            ),
        )
        # the owning thread now sees the pre-transaction head — the
        # staged version is not a visible head, not stageable-on, gone
        assert read_version(spark, raw).count() == 100
        staged_v = t.staged[os.path.abspath(raw)]["version"]
        assert staged_v not in M.committed_versions(raw)
    finally:
        M._clear_active_txn()
        t.simulate_crash()
    # recovery converges to the pre-transaction state
    M.recover_to_last_manifest(raw)
    M.recover_to_last_manifest(agg)
    assert read_version(spark, raw).count() == 100


# ------------------------------------------------------------------- #3


def _plan_has_rand(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "rand(" in plan


def test_skew_salts_are_deterministic_expressions(spark):
    """No nondeterministic expression may feed a shuffle/join key:
    both skew helpers and advised_join derive the salt from row
    content (xxhash64), pinned here by plan inspection + rerun
    equality."""
    fact = spark.range(0, 5_000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, lab string")

    joined = salted_broadcast_join(fact, dim, "k", n_salts=8)
    assert not _plan_has_rand(joined)
    expected = sorted(
        map(tuple, fact.join(dim, "k").select("k", "v", "lab").collect())
    )
    got = sorted(map(tuple, joined.select("k", "v", "lab").collect()))
    assert got == expected

    summed = salted_sum(fact, ["k"], {"v": "sum"}, n_salts=8)
    assert not _plan_has_rand(summed)
    base = {
        r.k: r.s
        for r in fact.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert {r.k: r.v_sum for r in summed.collect()} == base


def test_advised_join_salt_is_deterministic(spark, tmp_path):
    """The salted-skew path of advised_join: plan free of rand, result
    equal to the plain join, and two physical runs byte-identical."""
    from data_pipeline_project_spark.sinks.layout import advised_join

    pa = str(tmp_path / "a")
    pb = str(tmp_path / "b")
    # side a skewed: >=20% of rows on key 7
    skewed = spark.range(0, 4_000).select(
        F.when(F.col("id") < 1_500, F.lit(7))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("va"),
    ).coalesce(2)
    skewed.write.parquet(pa)
    write_versioned_manifest(pa)
    spark.range(0, 4_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("vb")
    ).coalesce(2).write.parquet(pb)
    write_versioned_manifest(pb)
    M.analyze_table(pa, spark=spark)
    M.analyze_table(pb, spark=spark)

    out, adv = advised_join(spark, pa, pb, "k", broadcast_bytes=1)
    assert adv.get("skew_side"), adv
    assert not _plan_has_rand(out)
    expected = sorted(
        map(
            tuple,
            read_version(spark, pa)
            .join(read_version(spark, pb), "k")
            .select("k", "va", "vb")
            .collect(),
        )
    )
    got1 = sorted(map(tuple, out.select("k", "va", "vb").collect()))
    got2 = sorted(map(tuple, out.select("k", "va", "vb").collect()))
    assert got1 == expected and got2 == expected


# ------------------------------------------------------------------- #4


def test_commit_survives_sketch_job_failure(spark, tmp_path, monkeypatch):
    """A failure inside the sketch Spark job must not fail the commit:
    the entry lands sketch-free (ANALYZE backfills later)."""
    path = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(path)
    write_versioned_manifest(path)

    def _boom(*a, **k):
        raise RuntimeError("transient executor failure")

    monkeypatch.setattr(M, "_sketch_files", _boom)
    with pytest.warns(UserWarning, match="sketch job failed"):
        append_snapshot(
            spark,
            path,
            spark.range(100, 200).select(F.col("id").alias("k")),
            collect_ndv=True,
        )
    assert read_version(spark, path).count() == 200
    head = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    # bootstrap is metadata-only and the sketch job failed: no entry
    # carries a sketch, yet the commit published
    assert not any(f.get("ndv") or f.get("bloom") for f in head["files"])
    # and ANALYZE (unpatched) backfills the sketch
    monkeypatch.undo()
    M.analyze_table(path, spark=spark)
    head = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    assert all(f.get("ndv") for f in head["files"] if f["rows"])
