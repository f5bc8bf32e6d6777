"""table_schema reads a manifest table's schema from the log or from one
footer, with no Spark job, and agrees with Spark's own inference
(``spark.read.parquet(path).schema``), the oracle, on every column
type a Spark writer puts in a footer."""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def footer_reads(monkeypatch):
    calls = []
    real = M._read_footer

    def _counting(f):
        calls.append(f)
        return real(f)

    monkeypatch.setattr(M, "_read_footer", _counting)
    return calls


def _typed(spark, lo, hi):
    """Every footer-carried type; the spark.range id keeps most of them
    non-nullable at the source, so the nullable step is exercised."""
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.5).alias("d"),
        F.format_string("s-%03d", "id").alias("s"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("dt"),
        F.timestamp_seconds("id").alias("ts"),
        F.expr("make_timestamp_ntz(2024, 1, 1, 0, 0, id)").alias("ntz"),
        F.col("id").cast("decimal(12,2)").alias("dec"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.create_map(F.lit("m"), F.col("id")).alias("mp"),
        F.array(F.struct(F.col("id").alias("e"))).alias("arr_st"),
    )


@pytest.mark.parametrize("ts_output", ["INT96", "TIMESTAMP_MICROS"])
def test_footer_schema_matches_spark_inference_without_a_job(
    spark, tmp_path, footer_reads, ts_output
):
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, ts_output)
    try:
        path = str(tmp_path / "t")
        src = _typed(spark, 0, 20)
        assert not src.schema["k"].nullable and not src.schema["arr"].dataType.containsNull
        src.coalesce(2).write.parquet(path)
        M.write_versioned_manifest(path)
        M.append_snapshot(spark, path, _typed(spark, 20, 30))
    finally:
        spark.conf.set(key, old)

    want = spark.read.parquet(path).schema
    footer_reads.clear()
    got, jobs = _jobs(spark, "table_schema_log", lambda: M.table_schema(spark, path))
    assert jobs == [], jobs
    assert footer_reads == []  # the commits recorded it in the log
    assert got == want
    # a head written before commits recorded the schema: one footer
    latest = os.path.join(path, "_manifests", "latest.json")
    head = M.read_manifest(latest)
    del head["footer_schema"]
    with open(latest, "w") as fh:
        json.dump(head, fh)
    got, jobs = _jobs(spark, "table_schema_footer", lambda: M.table_schema(spark, path))
    assert jobs == [], jobs
    assert footer_reads == [os.path.join(path, head["files"][-1]["path"])]
    assert got == want


def test_partitioned_and_headless_tables_take_the_spark_path(spark, tmp_path, footer_reads):
    """Partition columns are in no footer, and a plain directory has no
    head: both keep Spark's inference."""
    part = str(tmp_path / "p")
    _typed(spark, 0, 10).withColumn("g", F.col("k") % 2).write.partitionBy("g").parquet(part)
    M.write_versioned_manifest(part)
    plain = str(tmp_path / "plain")
    _typed(spark, 0, 10).write.parquet(plain)

    for name, path in (("part", part), ("plain", plain)):
        got, jobs = _jobs(spark, f"table_schema_{name}", lambda: M.table_schema(spark, path))
        assert jobs, f"{path}: expected Spark's schema inference to run"
        assert got == spark.read.parquet(path).schema
    assert "g" in M.table_schema(spark, part).fieldNames()
    assert footer_reads == []


def test_pinned_schema_wins_over_footers(spark, tmp_path, footer_reads):
    """A head that pins ``schema_json`` answers without any footer."""
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    M.write_versioned_manifest(path)
    M.merge_upsert(
        spark, path, "id", spark.range(3, 8).withColumn("extra", F.lit("e")),
        schema_evolution=True,
    )
    footer_reads.clear()
    got = M.table_schema(spark, path)
    assert got.fieldNames() == ["id", "extra"]
    assert footer_reads == []
