"""load_table's schema memo: a repeat load of an unchanged table file
starts no Spark job (no schema-inference pass), and a file rewritten
at the same path is inferred afresh."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_project_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


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


def test_repeat_load_starts_no_job_and_rewrite_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)

    def load():
        return load_table(spark, "region", str(tmp_path))

    first, jobs = _jobs(spark, "load_table_first", load)
    assert jobs, "the first load infers the schema with a Spark job"
    again, jobs = _jobs(spark, "load_table_again", load)
    assert jobs == [], jobs
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect())) == [(0, "a"), (1, "b")]

    # same path, one more column: the new file's schema, not the memo's
    pq.write_table(
        pa.table({"r_regionkey": [2], "r_name": ["c"], "r_comment": ["new"]}), path
    )
    rewritten = load_table(spark, "region", str(tmp_path))
    assert rewritten.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in rewritten.collect()] == [(2, "c", "new")]


def test_repeat_events_load_keeps_nanos_handling(spark, tmp_path):
    """events.ts is TIMESTAMP(NANOS): the memoized schema (ts as long,
    Spark's nanosAsLong type) must read the same timestamps as the
    inferring load."""
    shutil.copyfile(f"{SF_ORACLE}/events.parquet", tmp_path / "events.parquet")

    def stats():
        ev = load_table(spark, "events", str(tmp_path))
        return ev.schema["ts"].dataType.typeName(), ev.selectExpr(
            "min(ts)", "max(ts)", "count(*)"
        ).first()

    first = stats()
    _, jobs = _jobs(
        spark, "load_events_again", lambda: load_table(spark, "events", str(tmp_path))
    )
    assert jobs == [], jobs
    assert first[0].startswith("timestamp")
    assert stats() == first
