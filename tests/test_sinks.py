"""Sink-layer unit tests: K6 connect retry/backoff (reference
pipeline.py:59-82) and the DB-API upsert path with an injected
connector (no live MySQL in CI)."""

import os

import pytest

from data_pipeline_project_spark.sinks.sinks import (
    AGG_TABLE_DDL,
    RAW_TABLE_DDL,
    JdbcUpsertSink,
    bootstrap_database,
    connect_with_retry,
)


def test_connect_with_retry_succeeds_on_third_attempt():
    calls, sleeps = [], []

    def connect():
        calls.append(1)
        if len(calls) < 3:
            raise ConnectionError("down")
        return "conn"

    out = connect_with_retry(connect, retry_count=3, delay=5.0, sleep=sleeps.append)
    assert out == "conn"
    assert len(calls) == 3
    assert sleeps == [5.0, 5.0]  # reference's 5 s delay between attempts


def test_connect_with_retry_exhausts_and_raises():
    sleeps = []

    def connect():
        raise ConnectionError("still down")

    with pytest.raises(ConnectionError):
        connect_with_retry(connect, retry_count=3, delay=5.0, sleep=sleeps.append)
    assert sleeps == [5.0, 5.0]  # no sleep after the final attempt


def test_bootstrap_database_runs_ddl_with_retry():
    """K8 — the DDL bootstrap entry point executes both CREATE TABLE
    statements over a retried connection (reference
    setup_database_in_mysql.py:58-103 + the K6 connect loop)."""
    attempts, executed, state = [], [], {"committed": False, "closed": False}

    class FakeCursor:
        def execute(self, sql):
            executed.append(sql)

    class FakeConn:
        def cursor(self):
            return FakeCursor()

        def commit(self):
            state["committed"] = True

        def close(self):
            state["closed"] = True

    def flaky_connect(**kwargs):
        attempts.append(kwargs)
        if len(attempts) < 2:
            raise ConnectionError("db warming up")
        return FakeConn()

    bootstrap_database(
        flaky_connect,
        connect_kwargs={"host": "fake"},
        retry_count=3,
        retry_delay=0.0,
    )
    assert len(attempts) == 2 and attempts[0] == {"host": "fake"}
    assert executed == [RAW_TABLE_DDL, AGG_TABLE_DDL]
    assert "CREATE TABLE IF NOT EXISTS raw_sensor_data" in executed[0]
    assert state == {"committed": True, "closed": True}


def test_jdbc_upsert_retries_flaky_connection(spark, tmp_path):
    """K6 end-to-end: the per-partition writer survives two failed
    connects (succeeding on attempt 3) and still delivers every row.

    The fakes are defined in-function so cloudpickle serializes them by
    value into Spark's Python workers; counters are file-backed so the
    state survives the process boundary."""
    attempts = str(tmp_path / "attempts")
    rows_out = str(tmp_path / "rows")

    class FakeCursor:
        def __init__(self, rows_file):
            self.rows_file = rows_file

        def executemany(self, sql, batch):
            with open(self.rows_file, "a") as fh:
                for row in batch:
                    fh.write(repr(row) + "\n")

    class FakeConn:
        def __init__(self, rows_file):
            self.rows_file = rows_file

        def cursor(self):
            return FakeCursor(self.rows_file)

        def commit(self):
            pass

        def rollback(self):
            pass

        def close(self):
            pass

    class Flaky:
        """Fails the first ``fail_n`` connects, then records rows."""

        def __init__(self, attempts_file, rows_file, fail_n=2):
            self.attempts_file = attempts_file
            self.rows_file = rows_file
            self.fail_n = fail_n

        def __call__(self, **kwargs):
            with open(self.attempts_file, "a") as fh:
                fh.write("x")
            if os.path.getsize(self.attempts_file) <= self.fail_n:
                raise ConnectionError("db down")
            return FakeConn(self.rows_file)

    sink = JdbcUpsertSink(
        connect_kwargs={"host": "fake"},
        table="aggregated_sensor_data",
        keys=["sensor_id"],
        update_cols=["avg_value"],
        retry_count=3,
        retry_delay=0.01,
        connect_fn=Flaky(attempts, rows_out, fail_n=2),
    )
    df = spark.createDataFrame(
        [("S1", 1.0), ("S2", 2.0)], ["sensor_id", "avg_value"]
    ).coalesce(1)
    sink.write(df)
    assert os.path.getsize(attempts) == 3  # 2 failures + 1 success
    with open(rows_out) as fh:
        assert len(fh.readlines()) == 2
