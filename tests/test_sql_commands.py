"""SQL front door == Python twin, command by command (r12).

Each test builds TWO identical tables, drives one through the SQL
form and the other through the Python API, and asserts equal final
state (rows, and where relevant, log facts). The transaction test
runs the reference's raw+agg atomic pair as two SQL statements.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.manifest import (
    analyze_table,
    append_snapshot,
    compact_snapshot,
    delete_rows_targeted,
    merge_upsert,
    read_version,
    restore_table,
    snapshot_versions,
    table_history,
    vacuum,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sinks.sql_commands import (
    LakehouseSQL,
    SQLCommandError,
)


def _rows(spark, path):
    return sorted(map(tuple, read_version(spark, path).collect()))


def _table(spark, path, n=400):
    spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
    ).coalesce(2).write.parquet(path)
    write_versioned_manifest(path)


@pytest.fixture()
def twins(spark, tmp_path):
    a, b = str(tmp_path / "sql_t"), str(tmp_path / "py_t")
    _table(spark, a)
    _table(spark, b)
    return a, b


def test_merge_into_equals_merge_upsert(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a})
    spark.createDataFrame(
        [(5, -1), (9000, -2)], "k long, v long"
    ).createOrReplaceTempView("updates")
    res = lh.sql(
        "MERGE INTO t USING updates ON t.k = updates.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    merge_upsert(
        spark, b, "k",
        spark.createDataFrame([(5, -1), (9000, -2)], "k long, v long"),
    )
    assert _rows(spark, a) == _rows(spark, b)
    assert res["rows_updated"] == 1 if "rows_updated" in res else True


def test_delete_in_list_equals_targeted_delete(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a})
    lh.sql("DELETE FROM t WHERE k IN (3, 5, 250)")
    delete_rows_targeted(
        spark, b, "k",
        spark.createDataFrame([(3,), (5,), (250,)], "k long"),
        commit=True,
    )
    assert _rows(spark, a) == _rows(spark, b)
    # and the point form
    lh.sql("DELETE FROM t WHERE k = 7")
    delete_rows_targeted(
        spark, b, "k",
        spark.createDataFrame([(7,)], "k long"), commit=True,
    )
    assert _rows(spark, a) == _rows(spark, b)


def test_optimize_equals_compact_snapshot(spark, twins):
    a, b = twins
    for p in (a, b):  # fragment both with small appends
        for i in range(3):
            append_snapshot(
                spark, p,
                spark.createDataFrame(
                    [(10_000 + i, 0)], "k long, v long"
                ).coalesce(1),
            )
    lh = LakehouseSQL(spark, {"t": a})
    ra = lh.sql("OPTIMIZE t")
    rb = compact_snapshot(spark, b)
    assert _rows(spark, a) == _rows(spark, b)
    assert ra["files_compacted"] == rb["files_compacted"] > 0


def test_vacuum_retain_equals_vacuum(spark, twins):
    a, b = twins
    for p in (a, b):
        append_snapshot(
            spark, p,
            spark.createDataFrame([(10_000, 0)], "k long, v long")
            .coalesce(1),
        )
        append_snapshot(
            spark, p,
            spark.createDataFrame([(10_001, 0)], "k long, v long")
            .coalesce(1),
        )
    lh = LakehouseSQL(spark, {"t": a})
    lh.sql("VACUUM t RETAIN 1 VERSIONS")
    vacuum(b, keep_versions=1)
    assert snapshot_versions(a) == snapshot_versions(b) or len(
        snapshot_versions(a)
    ) == len(snapshot_versions(b))
    assert _rows(spark, a) == _rows(spark, b)


def test_analyze_table_equals_python_analyze(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a})
    ra = lh.sql("ANALYZE TABLE t COMPUTE STATISTICS")
    rb = analyze_table(b)
    assert ra["files_analyzed"] == rb["files_analyzed"] == 2
    assert (
        M.table_column_ndv(a, "k")["ndv"]
        == M.table_column_ndv(b, "k")["ndv"]
    )


def test_describe_history_and_detail(spark, twins):
    a, _ = twins
    append_snapshot(
        spark, a,
        spark.createDataFrame([(10_000, 0)], "k long, v long")
        .coalesce(1),
    )
    lh = LakehouseSQL(spark, {"t": a})
    hist_df = lh.sql("DESCRIBE HISTORY t LIMIT 5")
    hist_py = table_history(a, limit=5)
    got = [(r.version, r.operation) for r in hist_df.collect()]
    want = [(h["version"], h["op"]) for h in hist_py]
    assert got == want
    detail = lh.sql("DESCRIBE DETAIL t").collect()[0]
    assert detail.n_files >= 1 and detail.live_rows == 401


def test_restore_version_as_of(spark, twins):
    a, b = twins
    for p in (a, b):
        append_snapshot(
            spark, p,
            spark.createDataFrame([(10_000, 0)], "k long, v long")
            .coalesce(1),
        )
    target = snapshot_versions(a)[0]
    lh = LakehouseSQL(spark, {"t": a})
    lh.sql(f"RESTORE TABLE t TO VERSION AS OF {target}")
    restore_table(b, version=target)
    assert _rows(spark, a) == _rows(spark, b)
    assert read_version(spark, a).count() == 400


def test_select_passthrough_reads_snapshots(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a, "u": b})
    got = lh.sql(
        "SELECT t.v AS v, count(*) AS n FROM t JOIN u ON t.k = u.k "
        "GROUP BY t.v ORDER BY v"
    ).collect()
    want = (
        read_version(spark, a).alias("t")
        .join(read_version(spark, b).alias("u"), "k")
        .groupBy(F.col("t.v").alias("v")).agg(F.count("*").alias("n"))
        .orderBy("v").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sql_transaction_raw_agg_atomic_pair(spark, tmp_path):
    """The reference's pipeline commit (raw INSERT + agg UPSERT in one
    MySQL transaction, pipeline.py:246-259) as two SQL statements in
    one atomic lakehouse transaction."""
    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    _table(spark, raw)
    spark.createDataFrame(
        [(0, 10), (1, 20)], "k long, total long"
    ).coalesce(1).write.parquet(agg)
    write_versioned_manifest(agg)
    lh = LakehouseSQL(spark, {"raw": raw, "agg": agg})

    spark.createDataFrame(
        [(9000, 1)], "k long, v long"
    ).createOrReplaceTempView("raw_batch")
    spark.createDataFrame(
        [(0, 999)], "k long, total long"
    ).createOrReplaceTempView("agg_up")

    res = lh.transaction([
        "MERGE INTO raw USING raw_batch ON k",
        "MERGE INTO agg USING agg_up ON k",
    ])
    assert sorted(res["tables"]) == sorted(
        [os.path.abspath(raw), os.path.abspath(agg)]
    )
    assert 9000 in {r.k for r in read_version(spark, raw).collect()}
    got = {r.k: r.total for r in read_version(spark, agg).collect()}
    assert got[0] == 999

    # all-or-nothing: a failing second statement aborts the first
    spark.createDataFrame(
        [(9001, 1)], "k long, v long"
    ).createOrReplaceTempView("raw_batch2")
    with pytest.raises(Exception):
        lh.transaction([
            "MERGE INTO raw USING raw_batch2 ON k",
            "MERGE INTO agg USING no_such_view ON k",
        ])
    assert 9001 not in {r.k for r in read_version(spark, raw).collect()}


def test_grammar_errors_are_loud(spark, twins):
    a, _ = twins
    lh = LakehouseSQL(spark, {"t": a})
    with pytest.raises(SQLCommandError, match="unknown table"):
        lh.sql("OPTIMIZE nope")
    with pytest.raises(SQLCommandError, match="UPDATE grammar"):
        lh.sql("UPDATE t SET v = 1")  # r13: UPDATE exists, WHERE required
    with pytest.raises(SQLCommandError, match="SAME key"):
        lh.sql("MERGE INTO t USING x ON t.k = x.j")
    with pytest.raises(SQLCommandError, match="INSERT source"):
        lh.sql("INSERT INTO t UPDATE x")
    with pytest.raises(SQLCommandError, match="arity"):
        lh.sql("INSERT INTO t VALUES (1, 2, 3)")
    with pytest.raises(SQLCommandError, match="TableCatalog"):
        lh.sql("CREATE TABLE x LOCATION '/nowhere'")
    with pytest.raises(SQLCommandError, match="TableCatalog"):
        lh.sql("DROP TABLE t")


# -- r13: the finished write surface ------------------------------------


def test_update_equals_update_where(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a})
    res = lh.sql("UPDATE t SET v = v * 10 + 1 WHERE v IN (2, 4) AND k < 100")
    M.update_where(
        spark, b, {"v": "v * 10 + 1"}, "v IN (2, 4) AND k < 100"
    )
    assert res["rows_updated"] > 0
    assert _rows(spark, a) == _rows(spark, b)


def test_update_multi_assignment_sees_pre_update_row(spark, tmp_path):
    """Standard SQL UPDATE: every SET expression evaluates against the
    OLD row — `SET k = v, v = k` swaps, never chains."""
    t = str(tmp_path / "swap")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).coalesce(1).write.parquet(t)
    write_versioned_manifest(t)
    lh = LakehouseSQL(spark, {"t": t})
    lh.sql("UPDATE t SET k = v, v = k WHERE k = 1")
    assert _rows(spark, t) == [(2, 20), (10, 1)]


def test_delete_arbitrary_predicate_equals_delete_where(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a})
    res = lh.sql("DELETE FROM t WHERE v >= 5 AND k BETWEEN 10 AND 90")
    M.delete_where(spark, b, "v >= 5 AND k BETWEEN 10 AND 90")
    assert res["rows_deleted"] > 0
    assert _rows(spark, a) == _rows(spark, b)
    assert (
        read_version(spark, a)
        .where("v >= 5 AND k BETWEEN 10 AND 90")
        .count()
        == 0
    )


def test_insert_values_and_select_equal_append_snapshot(spark, twins):
    a, b = twins
    lh = LakehouseSQL(spark, {"t": a})
    lh.sql("INSERT INTO t VALUES (9000, 1), (9001, 2)")
    append_snapshot(
        spark, b,
        spark.createDataFrame([(9000, 1), (9001, 2)], "k long, v long"),
    )
    assert _rows(spark, a) == _rows(spark, b)
    lh.sql("INSERT INTO t SELECT k + 50000, v FROM t WHERE k >= 9000")
    append_snapshot(
        spark, b,
        read_version(spark, b)
        .where("k >= 9000")
        .selectExpr("k + 50000 AS k", "v"),
    )
    assert _rows(spark, a) == _rows(spark, b)


def test_select_version_as_of_reads_pre_merge_snapshot(spark, twins):
    """The item-1 'done' bar: a time-travel SELECT reads a PRE-MERGE
    version while the head reflects the merge."""
    a, _ = twins
    lh = LakehouseSQL(spark, {"t": a})
    before = lh.sql("SELECT k, v FROM t ORDER BY k").collect()
    v0 = snapshot_versions(a)[-1]
    spark.createDataFrame(
        [(0, -99), (7777, -1)], "k long, v long"
    ).createOrReplaceTempView("updates")
    lh.sql(
        "MERGE INTO t USING updates ON t.k = updates.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    head = {r.k: r.v for r in lh.sql("SELECT k, v FROM t").collect()}
    assert head[0] == -99 and head[7777] == -1
    old = lh.sql(f"SELECT k, v FROM t VERSION AS OF {v0} ORDER BY k")
    assert old.collect() == before
    # and TIMESTAMP AS OF resolves through version_as_of
    import json as _json

    m = M.read_manifest(os.path.join(a, "_manifests", f"v{v0}.json"))
    ts = m["committed_at"] / 1000.0
    n_old = lh.sql(
        f"SELECT count(*) AS n FROM t TIMESTAMP AS OF {ts}"
    ).collect()[0].n
    assert n_old == len(before)


def test_create_drop_table_through_sql(spark, tmp_path):
    from data_pipeline_project_spark.sinks.catalog import TableCatalog

    t = str(tmp_path / "t")
    _table(spark, t)
    lh = LakehouseSQL(
        spark, TableCatalog(str(tmp_path / "cat"))
    )
    lh.sql(f"CREATE TABLE t LOCATION '{t}'")
    assert lh.sql("SELECT count(*) AS n FROM t").collect()[0].n == 400
    with pytest.raises(Exception, match="already exists"):
        lh.sql(f"CREATE TABLE t LOCATION '{t}'")
    lh.sql(f"CREATE TABLE IF NOT EXISTS t LOCATION '{t}'")  # no-op
    # a SECOND front door over the same catalog root resolves the name
    lh2 = LakehouseSQL(
        spark, TableCatalog(str(tmp_path / "cat"))
    )
    assert lh2.sql("SELECT count(*) AS n FROM t").collect()[0].n == 400
    lh2.sql("DROP TABLE t")
    with pytest.raises(SQLCommandError, match="unknown table"):
        lh.sql("OPTIMIZE t")
    # the stale temp view stops resolving too
    with pytest.raises(Exception):
        lh.sql("SELECT count(*) AS n FROM t").collect()
    lh.sql("DROP TABLE IF EXISTS t")  # no-op, loud form gone


def test_sql_transaction_takes_update_and_insert(spark, tmp_path):
    """r13: the atomic statement list accepts the new write forms."""
    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    _table(spark, raw)
    _table(spark, agg, n=10)
    lh = LakehouseSQL(spark, {"raw": raw, "agg": agg})
    lh.transaction(
        [
            "INSERT INTO raw VALUES (8000, 3)",
            "UPDATE agg SET v = v + 100 WHERE k = 1",
        ]
    )
    assert read_version(spark, raw).where("k = 8000").count() == 1
    assert (
        read_version(spark, agg).where("k = 1").collect()[0].v
        == (1 % 7) + 100
    )
