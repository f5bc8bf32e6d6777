"""advised_join: the statistics CONSUMED, not just reported (r12).

r11 shipped join_plan_advice (NDV/range/skew advice from the manifest
log, zero data I/O); nothing acted on it. advised_join executes the
advised plan and these tests pin, per strategy: the physical plan
SHAPE (broadcast on the advised side, merge-hinted shuffle where the
in-memory estimate said a tiny-on-disk side would not fit, salted
keys under flagged skew, no execution at all for provably-empty) and
RESULT EQUALITY with the plain join. The at-scale wall-clock win is
measured by scripts/advised_join_scale_check.py (SCALE_r12).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import (
    advised_join,
    write_range_clustered,
)
from data_pipeline_project_spark.sinks.manifest import (
    analyze_table,
    read_version,
    write_versioned_manifest,
)


def _mk(spark, path, df, files=2):
    write_range_clustered(df, path, "k", files)
    write_versioned_manifest(path)
    analyze_table(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plain_join_checksum(spark, pa, pb):
    j = read_version(spark, pa).join(read_version(spark, pb), "k")
    return j.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(j.columns)).cast("decimal(38,0)"))
        .alias("h"),  # decimal sum: ANSI-safe against long overflow
    ).collect()[0]


def _advised_checksum(df):
    return df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)"))
        .alias("h"),
    ).collect()[0]


def test_broadcast_strategy_builds_on_the_advised_side(
    spark, tmp_path
):
    fact = _mk(
        spark, str(tmp_path / "fact"),
        spark.range(0, 60_000).select(
            (F.col("id") % 500).alias("k"), (F.col("id") % 97).alias("x")
        ), files=4,
    )
    dim = _mk(
        spark, str(tmp_path / "dim"),
        spark.range(0, 400).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("d")
        ), files=1,
    )
    df, adv = advised_join(spark, fact, dim, "k")
    assert adv["strategy"] == "broadcast" and adv["build_side"] == "b"
    assert "BroadcastHashJoin" in _plan(df)
    got = _advised_checksum(df)
    want = _plain_join_checksum(spark, fact, dim)
    assert (got.n, got.h) == (want.n, want.h)


def test_ndv_flip_forces_shuffle_despite_tiny_disk_bytes(
    spark, tmp_path
):
    """The consumed NDV flip: the dense side is small enough ON DISK
    that Spark's own size heuristic would broadcast it — the advice's
    in-memory estimate says it will not fit, and the executed plan is
    a merge join, not a broadcast."""
    fact = _mk(
        spark, str(tmp_path / "fact"),
        spark.range(0, 60_000).select(
            (F.col("id") % 16).alias("k"), (F.col("id") % 97).alias("x")
        ), files=4,
    )
    dense = _mk(
        spark, str(tmp_path / "dense"),
        spark.range(0, 30_000).select(
            (F.col("id") % 16).alias("k"), (F.col("id") % 4).alias("d")
        ), files=1,
    )
    import os

    disk = sum(
        os.path.getsize(os.path.join(dense, f))
        for f in os.listdir(dense)
        if f.endswith(".parquet")
    )
    df, adv = advised_join(
        spark, fact, dense, "k", broadcast_bytes=disk + 1
    )
    assert adv["strategy"] == "shuffle", adv
    p = _plan(df)
    assert "BroadcastHashJoin" not in p, p
    got = _advised_checksum(df)
    want = _plain_join_checksum(spark, fact, dense)
    assert (got.n, got.h) == (want.n, want.h)


def test_provably_empty_join_skips_execution(spark, tmp_path):
    a = _mk(
        spark, str(tmp_path / "a"),
        spark.range(0, 5_000).select(
            F.col("id").alias("k"), F.lit(1).alias("x")
        ),
    )
    b = _mk(
        spark, str(tmp_path / "b"),
        spark.range(100_000, 105_000).select(
            F.col("id").alias("k"), F.lit(2).alias("d")
        ),
    )
    df, adv = advised_join(spark, a, b, "k")
    assert adv["strategy"] == "empty"
    assert df.count() == 0


def test_flagged_skew_salts_the_shuffle(spark, tmp_path):
    """40% of the fact's rows share one key: the advice flags skew and
    the executed shuffle joins on (k, _salt) — one hot key spreads
    over salt_buckets reducers. Result equality pinned against the
    plain join."""
    fact = _mk(
        spark, str(tmp_path / "fact"),
        spark.range(0, 80_000).select(
            F.when(F.col("id") % 5 < 2, F.lit(42))
            .otherwise(F.col("id") % 2_000)
            .alias("k"),
            (F.col("id") % 31).alias("x"),
        ), files=4,
    )
    dim = _mk(
        spark, str(tmp_path / "dim"),
        spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("d")
        ),
    )
    df, adv = advised_join(
        spark, fact, dim, "k", broadcast_bytes=1, salt_buckets=8
    )
    assert adv["strategy"] == "shuffle"
    assert adv.get("skew_side") == "a" and adv.get("skew_key") == 42
    p = _plan(df)
    assert "_salt" in p, p  # the exchange partitions on (k, _salt)
    got = _advised_checksum(df)
    want = _plain_join_checksum(spark, fact, dim)
    assert (got.n, got.h) == (want.n, want.h)
