"""Structured Streaming pipeline tests: exactly-once file handling,
strict gate inside micro-batches, replay idempotency of the
manifest-table sink."""

import os
import time

import pytest

from data_pipeline_project_spark.pipeline_batch import run_sensor_batch
from data_pipeline_project_spark.sinks import ParquetAppendSink
from data_pipeline_project_spark.sinks.manifest import read_version
from data_pipeline_project_spark.streaming.lakehouse_ingest import ManifestTableSink
from data_pipeline_project_spark.streaming.sensor_stream import run_sensor_stream

HEADER = "timestamp,sensor_id,temperature,humidity,pressure"


def _write(d, name, rows):
    (d / name).write_text("\n".join([HEADER, *rows]) + "\n")


def _run_until_done(q, timeout=120):
    q.awaitTermination(timeout)


def _drain_stateful(q, expected_rows, timeout=120):
    """Drain an availableNow query that CANNOT self-terminate: with
    GroupStateTimeout.ProcessingTimeTimeout,
    FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally
    true (processing time always advances, so a timer might fire), so
    the MultiBatchExecutor keeps scheduling EMPTY batches forever and
    awaitTermination(N) just burns its full timeout — then leaks a
    live query that churns empty micro-batches for the rest of the
    session. Poll progress until ``expected_rows`` input rows are
    committed, then stop() explicitly."""
    import time

    deadline = time.time() + timeout
    seen = {}
    while time.time() < deadline:
        for p in q.recentProgress:
            seen[p["batchId"]] = p["numInputRows"]
        if sum(seen.values()) >= expected_rows:
            q.stop()
            q.awaitTermination(60)
            return
        time.sleep(0.5)
    q.stop()
    raise AssertionError(
        f"drained only {sum(seen.values())}/{expected_rows} rows in {timeout}s"
    )


def test_stream_end_to_end(spark, tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    _write(data, "f1.csv", ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0",
                            "2025-05-26 10:05:00,S1,22.0,0.5,1000.0"])
    _write(data, "f2.csv", ["2025-05-26 11:00:00,S1,abc,0.5,1000.0"])

    raw_path = str(tmp_path / "raw")
    agg_path = str(tmp_path / "agg")
    quar_path = str(tmp_path / "quar")
    ckpt = str(tmp_path / "ckpt")

    raw_sink = ManifestTableSink(spark, raw_path, "raw")
    agg_sink = ManifestTableSink(spark, agg_path, "agg")
    quar_sink = ManifestTableSink(spark, quar_path, "quar")

    q = run_sensor_stream(
        spark, str(data), raw_sink, agg_sink, quar_sink, ckpt,
        trigger={"availableNow": True},
    )
    _run_until_done(q)

    raw = read_version(spark, raw_path)
    assert raw.count() == 2  # only f1 rows; f2 strict-quarantined
    assert {r.file_name for r in raw.collect()} == {"f1.csv"}
    agg = read_version(spark, agg_path)
    assert agg.count() == 3  # 1 sensor x 3 metrics
    quar = read_version(spark, quar_path)
    assert quar.count() == 1

    # late-arriving file: restart from checkpoint processes ONLY f3
    # (S3 exactly-once dedup via checkpoint)
    _write(data, "f3.csv", ["2025-05-26 12:00:00,S2,10.0,0.5,1000.0"])
    q2 = run_sensor_stream(
        spark, str(data), raw_sink, agg_sink, quar_sink, ckpt,
        trigger={"availableNow": True},
    )
    _run_until_done(q2)
    raw2 = read_version(spark, raw_path)
    assert raw2.count() == 3  # f1 rows NOT duplicated
    agg2 = read_version(spark, agg_path)
    assert agg2.count() == 6  # S1+S2, 3 metrics each
    assert read_version(spark, quar_path).count() == 1


def test_archive_moves_consumed_files(spark, tmp_path):
    """K4 — consumed source files land in sourceArchiveDir (the
    reference's shutil.move to processed/, pipeline.py:323-324).

    Spark's file-source cleaner archives a batch's files when the
    source commits that batch — which happens as the NEXT batch starts
    — and the move itself runs on a background cleaner thread, so the
    test runs a second availableNow pass and polls briefly."""
    data = tmp_path / "data"
    data.mkdir()
    archive = tmp_path / "archive"
    _write(data, "f1.csv", ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0"])
    written = ["f1.csv"]

    sinks = {
        f"{name}_sink": ManifestTableSink(spark, str(tmp_path / name), name)
        for name in ("raw", "agg", "quarantine")
    }

    def archived():
        return [p.name for p in archive.rglob("*.csv")]

    def run_once():
        q = run_sensor_stream(
            spark, str(data), checkpoint_dir=str(tmp_path / "ckpt"),
            trigger={"availableNow": True}, archive_dir=str(archive),
            **sinks,
        )
        _run_until_done(q)

    run_once()
    if "f1.csv" not in archived():
        # a fresh batch forces the source to commit the previous one
        _write(data, "f2.csv", ["2025-05-26 11:00:00,S2,21.0,0.5,1000.0"])
        written.append("f2.csv")
        run_once()
    deadline = time.time() + 30
    while "f1.csv" not in archived() and time.time() < deadline:
        time.sleep(0.5)

    assert "f1.csv" in archived(), (
        f"f1.csv not archived; archive={archived()}, src={list(data.iterdir())}"
    )
    assert not (data / "f1.csv").exists()  # moved, not copied
    raw = read_version(spark, str(tmp_path / "raw")).collect()
    assert sorted(r.file_name for r in raw) == written  # each file's row once


def test_upsert_replay_idempotent(spark, tmp_path):
    """K2/K3 — replaying an epoch's aggregates through the manifest-table
    sink leaves one row per key (the reference's unique-key upsert
    property): the same sink skips it, and so does a new sink with the
    same sink_id, which recovers the epoch from the table's history."""
    d = tmp_path / "data"
    d.mkdir()
    _write(d, "f1.csv", ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0"])
    res = run_sensor_batch(spark, str(d))
    path = str(tmp_path / "agg")
    sink = ManifestTableSink(spark, path, "agg")
    sink.write(res.aggregates, 0)
    sink.write(res.aggregates, 0)  # replay
    restarted = ManifestTableSink(spark, path, "agg")
    restarted(res.aggregates, 0)  # replay after a restart, as foreachBatch calls it
    assert [r["replayed"] for r in sink.results + restarted.results] == [False, True, True]
    out = read_version(spark, path)
    assert out.count() == 3
    assert out.select("sensor_id", "metric_name").distinct().count() == 3


def test_stream_epochs_release_their_cache(spark, tmp_path):
    """Each epoch caches its flagged frame once and drops it when its
    sinks are done: five one-file epochs leave no persisted RDD."""
    data = tmp_path / "data"
    data.mkdir()
    for i in range(5):
        _write(data, f"f{i}.csv", [f"2025-05-26 1{i}:00:00,S{i},20.0,0.5,1000.0"])
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    q = run_sensor_stream(
        spark, str(data),
        ParquetAppendSink(str(tmp_path / "raw")),
        ParquetAppendSink(str(tmp_path / "agg")),
        ParquetAppendSink(str(tmp_path / "quar")),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        max_files_per_trigger=1,
    )
    _run_until_done(q)
    assert q.exception() is None
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 5
    assert spark.read.parquet(str(tmp_path / "raw")).count() == 5
    assert jsc.getPersistentRDDs().size() == before


class _FailingSink(ManifestTableSink):
    """A manifest-table sink whose first write of ``fail_epoch`` raises
    before anything is committed."""

    def __init__(self, spark, path, sink_id, fail_epoch=None):
        super().__init__(spark, path, sink_id)
        self.fail_epoch = fail_epoch

    def write(self, df, epoch_id):
        if epoch_id == self.fail_epoch:
            self.fail_epoch = None
            raise RuntimeError(f"{self.sink_id} sink unavailable")
        super().write(df, epoch_id)

    def outcome(self, epoch_id):
        return [r["replayed"] for r in self.results if r["batch_id"] == epoch_id]


# two files per epoch: a valid and a bad one in each
_EPOCH_FILES = {
    "a0.csv": ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0",
               "2025-05-26 10:05:00,S2,21.0,0.5,1000.0"],
    "a1.csv": ["2025-05-26 10:10:00,S1,abc,0.5,1000.0"],
    "b0.csv": ["2025-05-26 11:00:00,S1,22.0,0.5,1000.0",
               "2025-05-26 11:05:00,S3,23.0,0.5,1000.0"],
    "b1.csv": ["2025-05-26 11:10:00,S2,20.0,0.5,1000.0",
               "2025-05-26 11:15:00,S2,99.0,0.5,1000.0"],
}


def _two_epoch_stream(spark, tmp_path):
    """Write ``_EPOCH_FILES`` with ordered mtimes; return the table paths
    and a function that starts the sensor stream over them, two files
    per epoch, on one checkpoint, with a new ``_FailingSink`` per
    output (the one named ``fail`` raises in epoch 1)."""
    data = tmp_path / "data"
    data.mkdir()
    t0 = time.time() - 100
    for k, (name, rows) in enumerate(_EPOCH_FILES.items()):
        _write(data, name, rows)
        os.utime(data / name, (t0 + k, t0 + k))
    paths = {name: str(tmp_path / name) for name in ("raw", "agg", "quar")}

    def start(fail=None):
        sinks = {
            name: _FailingSink(spark, path, name, 1 if name == fail else None)
            for name, path in paths.items()
        }
        q = run_sensor_stream(
            spark, str(data), sinks["raw"], sinks["agg"], sinks["quar"],
            str(tmp_path / "ckpt"),
            trigger={"availableNow": True}, max_files_per_trigger=2,
        )
        return q, sinks

    return start, paths


def _assert_exactly_once(spark, paths):
    got_raw = read_version(spark, paths["raw"])
    assert got_raw.count() == 4  # a0 + b0, once each
    assert got_raw.select("file_name", "timestamp").distinct().count() == 4
    got_agg = read_version(spark, paths["agg"])
    assert got_agg.count() == 12  # 4 (file, sensor) pairs x 3 metrics
    assert got_agg.select("file_name", "sensor_id", "metric_name").distinct().count() == 12
    got_quar = read_version(spark, paths["quar"])
    assert sorted(r.file_name for r in got_quar.collect()) == ["a1.csv", "b1.csv", "b1.csv"]
    assert got_quar.select("file_name", "_csv_row").distinct().count() == 3


def test_sink_failure_mid_epoch_replays_exactly_once(spark, tmp_path):
    """K6 with concurrent commits: the raw sink raises in epoch 1 while
    the aggregate sink commits it. The query fails before the
    quarantine write; the restart from the same checkpoint skips the
    aggregate replay by its stream_append stamp and redoes the raw
    one, so each table ends with every row exactly once."""
    start, paths = _two_epoch_stream(spark, tmp_path)
    q, sinks = start(fail="raw")
    with pytest.raises(Exception, match="raw sink unavailable"):
        q.awaitTermination(120)
    assert sinks["raw"].outcome(1) == [] and sinks["agg"].outcome(1) == [False]
    assert [r["batch_id"] for r in sinks["quar"].results] == [0]
    assert read_version(spark, paths["raw"]).count() == 2  # a0 only

    q, sinks = start()
    _run_until_done(q)
    assert q.exception() is None
    assert sinks["raw"].outcome(1) == [False] and sinks["agg"].outcome(1) == [True]
    assert sinks["quar"].outcome(1) == [False]
    _assert_exactly_once(spark, paths)


def test_quarantine_failure_replays_exactly_once(spark, tmp_path):
    """K6 on the last output: the quarantine sink raises in epoch 1
    after raw and aggregates have committed it. The restart skips both
    of their replays by the stream_append stamp and commits the
    quarantine rows once, so no table holds a row twice."""
    start, paths = _two_epoch_stream(spark, tmp_path)
    q, sinks = start(fail="quar")
    with pytest.raises(Exception, match="quar sink unavailable"):
        q.awaitTermination(120)
    assert sinks["raw"].outcome(1) == [False] and sinks["agg"].outcome(1) == [False]
    assert sinks["quar"].outcome(1) == []
    assert read_version(spark, paths["quar"]).count() == 1  # a1 only

    q, sinks = start()
    _run_until_done(q)
    assert q.exception() is None
    assert sinks["raw"].outcome(1) == [True] and sinks["agg"].outcome(1) == [True]
    assert sinks["quar"].outcome(1) == [False]
    _assert_exactly_once(spark, paths)


def _sensor_rows(n, bad=()):
    """``n`` valid sensor rows; the ones at the indexes in ``bad`` carry
    a non-numeric temperature."""
    return [
        f"2025-05-26 10:{i % 60:02d}:00,S{i % 3},{'abc' if i in bad else '20.0'},0.5,1000.0"
        for i in range(n)
    ]


# 40 rows a file (~1.6 KB), split into ~0.5 KB scan partitions by
# _small_splits, so line numbers are taken across split files
_LINE_FILES = {
    "mid.csv": _sensor_rows(40, bad=(21,)),  # a bad row mid-file: line 23
    "first.csv": _sensor_rows(40, bad=(0,)),  # the first data row: line 2
    "two.csv": _sensor_rows(40, bad=(1, 33)),  # lines 3 and 35
    "clean.csv": _sensor_rows(40),
}


@pytest.fixture
def _small_splits(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "512")
    yield
    spark.conf.set(key, old)


def _line_files(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    t0 = time.time() - 100
    for k, (name, rows) in enumerate(_LINE_FILES.items()):
        _write(data, name, rows)
        os.utime(data / name, (t0 + k, t0 + k))
    return data


def _stream_lines(spark, tmp_path, data, config=None):
    """Run the sensor stream over ``data``, two files an epoch; return
    the quarantine table as {(file, line): error_reason}."""
    sinks = [
        ManifestTableSink(spark, str(tmp_path / name), name)
        for name in ("raw", "agg", "quar")
    ]
    q = run_sensor_stream(
        spark, str(data), *sinks, str(tmp_path / "ckpt"), config=config,
        trigger={"availableNow": True}, max_files_per_trigger=2,
    )
    _run_until_done(q)
    assert q.exception() is None
    quar = read_version(spark, str(tmp_path / "quar")).collect()
    return {(r.file_name, r._csv_row): r.error_reason for r in quar}


def test_stream_and_batch_quarantine_agree(spark, tmp_path, _small_splits, monkeypatch):
    """The stream numbers only the rows of flagged files, per epoch; the
    batch run over the same files gives the same line numbers, reasons
    and quarantine-log lines, also with files split across tasks. The
    stream writes no log, so each epoch's log frame is collected where
    the epoch builds it."""
    from data_pipeline_project_spark.streaming import sensor_stream

    real = sensor_stream.process_sensor_frame
    logs = []

    def logging_frame(*args):
        res = real(*args)
        logs.extend(map(tuple, res.quarantine_log.collect()))
        return res

    monkeypatch.setattr(sensor_stream, "process_sensor_frame", logging_frame)
    data = _line_files(tmp_path)
    batch = run_sensor_batch(spark, str(data))
    want_rows = {
        (r.file_name, r._csv_row): r.error_reason
        for r in batch.quarantined_rows.collect()
    }
    want_log = sorted(map(tuple, batch.quarantine_log.collect()))
    batch.release()

    got_rows = _stream_lines(spark, tmp_path, data)
    assert got_rows == want_rows
    assert sorted(logs) == want_log
    # every row of the three bad files, numbered 2..41 in each
    assert sorted(want_rows) == [
        (f, line) for f in ("first.csv", "mid.csv", "two.csv") for line in range(2, 42)
    ]
    number = "'temperature' ('abc') is not a valid number."
    assert want_rows[("mid.csv", 23)] == f"Row 23: {number}"
    assert want_rows[("mid.csv", 22)] == ""
    assert dict(want_log) == {
        "first.csv": f"Validation failed at row 2: Row 2: {number}",
        "mid.csv": f"Validation failed at row 23: Row 23: {number}",
        "two.csv": f"Validation failed at row 3: Row 3: {number}",
    }
    assert want_rows[("two.csv", 35)] == f"Row 35: {number}"


def test_lenient_stream_quarantines_only_bad_rows(spark, tmp_path, _small_splits):
    """strict=False: each bad row alone is quarantined, with its true
    CSV line, and every good row of its file reaches the raw table."""
    from data_pipeline_project_spark.config import PipelineConfig

    data = _line_files(tmp_path)
    got = _stream_lines(spark, tmp_path, data, config=PipelineConfig(strict=False))
    number = "'temperature' ('abc') is not a valid number."
    assert got == {
        ("mid.csv", 23): f"Row 23: {number}",
        ("first.csv", 2): f"Row 2: {number}",
        ("two.csv", 3): f"Row 3: {number}",
        ("two.csv", 35): f"Row 35: {number}",
    }
    assert read_version(spark, str(tmp_path / "raw")).count() == 4 * 40 - 4


def test_clean_epoch_job_count(spark, tmp_path):
    """A clean 3-file epoch runs at most 7 Spark jobs: the verdict probe
    (cache fill, shuffle map, result), the raw staged write, the
    aggregate write (shuffle map, result) and the quarantine write of
    an empty frame. No emptiness probe, no schema-inference job, and no
    line-number shuffle."""
    data = tmp_path / "data"
    data.mkdir()
    sinks = [
        ManifestTableSink(spark, str(tmp_path / "raw"), "raw"),
        ManifestTableSink(spark, str(tmp_path / "agg"), "agg"),
        ParquetAppendSink(str(tmp_path / "quar")),
    ]
    sc = spark.sparkContext

    def epoch(prefix):
        for k in range(3):
            _write(data, f"{prefix}{k}.csv", _sensor_rows(30))
        q = run_sensor_stream(
            spark, str(data), *sinks, str(tmp_path / "ckpt"),
            trigger={"availableNow": True},
        )
        _run_until_done(q)
        assert q.exception() is None
        # the query thread runs every job of the run under its runId
        return sc.statusTracker().getJobIdsForGroup(str(q.runId))

    epoch("warm")  # bootstraps both tables
    jobs = epoch("clean")
    assert 0 < len(jobs) <= 7, sorted(jobs)
    assert read_version(spark, str(tmp_path / "raw")).count() == 6 * 30


def test_streaming_ewma_stateful(spark, tmp_path):
    """applyInPandasWithState: per-key EWMA state carried across
    micro-batches matches the batch recurrence."""
    import pandas as pd

    from data_pipeline_project_spark.operators.stateful import streaming_ewma

    src = tmp_path / "events"
    src.mkdir()
    rows1 = pd.DataFrame(
        {"user_id": [1, 1, 2], "ts": pd.to_datetime(
            ["2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:00:30"]),
         "value": [10.0, 20.0, 5.0]}
    )
    rows2 = pd.DataFrame(
        {"user_id": [1, 2], "ts": pd.to_datetime(
            ["2024-01-01 00:02:00", "2024-01-01 00:03:00"]),
         "value": [40.0, 7.0]}
    )
    # Two files + maxFilesPerTrigger=1 => two micro-batches in one run;
    # per-key state must carry across the batch boundary.
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(rows1), str(src / "b1.parquet"),
                   coerce_timestamps="us")
    pq.write_table(pa.Table.from_pandas(rows2), str(src / "b2.parquet"),
                   coerce_timestamps="us")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_ewma(stream, alpha=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_stateful(q, expected_rows=5)  # ProcessingTimeTimeout: see helper

    # update mode emits one row per key per batch; the LAST row per key
    # is the final state. Multiple rows per key in the memory table is
    # itself the proof that state crossed micro-batch boundaries.
    hist = spark.sql("select * from ewma_out").collect()
    assert len([r for r in hist if r.user_id == 1]) >= 2, (
        f"expected per-batch update rows for user 1, got {hist}"
    )
    final = {}
    for r in hist:  # n is monotone per key: keep the row with max n
        if r.user_id not in final or r.n > final[r.user_id][1]:
            final[r.user_id] = (r.ewma, r.n)
    # files may arrive in either order; with values {10,20} then {40}
    # for user 1: ewm chain ends at n=3 regardless of order
    assert final[1][1] == 3
    assert final[2][1] == 2
    # exact chain if b1 processed first (lexicographic listing): 15 -> 27.5
    if hist and final[1][0] == 27.5:
        assert final[2][0] == 6.0


def test_watermark_drops_late_events(spark, tmp_path):
    """Event-time windows under a 10-minute watermark: a row arriving
    after the watermark passed its window is dropped; append mode emits
    a window only once finalized."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.event_windows import tumbling_event_counts

    src = tmp_path / "events"
    src.mkdir()
    b1 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:20:00",
                               "2024-01-01 10:59:00"]),
         "value": [1.0, 2.0, 3.0]}
    )
    # Batches 2-3 push the watermark past 11:00, finalizing and
    # EVICTING window [10:00, 11:00) — Spark drops late rows at window
    # granularity (window end <= watermark in effect), and the
    # watermark a batch runs under is the one computed after the
    # PREVIOUS batch, so the late row goes in batch 4.
    b2 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 11:30:00", "2024-01-01 11:40:00"]),
         "value": [4.0, 5.0]}
    )
    b3 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 11:45:00"]), "value": [6.0]}
    )
    # Batch 4: 10:05 targets the evicted window -> numRowsDroppedByWatermark.
    b4 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:05:00", "2024-01-01 11:50:00"]),
         "value": [100.0, 7.0]}
    )
    for i, b in enumerate((b1, b2, b3, b4)):
        pq.write_table(pa.Table.from_pandas(b), str(src / f"b{i + 1}.parquet"),
                       coerce_timestamps="us")
        _time.sleep(1.1)  # file-source ordering is by modification time

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        tumbling_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {r.window_start.isoformat(): (r.n_events, r.avg_value)
            for r in spark.sql("select * from win_out").collect()}
    # only the finalized 10:00 window is emitted, late 10:05 row excluded
    assert rows == {"2024-01-01T10:00:00": (3, 2.0)}, rows


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered event in a later
    micro-batch (within the watermark) is suppressed."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.event_windows import dedup_stream

    src = tmp_path / "events"
    src.mkdir()
    b1 = pd.DataFrame(
        {"event_id": [1, 2],
         "ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:01:00"]),
         "value": [1.0, 2.0]}
    )
    b2 = pd.DataFrame(  # event 1 re-delivered, event 3 new
        {"event_id": [1, 3],
         "ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:02:00"]),
         "value": [1.0, 3.0]}
    )
    for i, b in enumerate((b1, b2)):
        pq.write_table(pa.Table.from_pandas(b), str(src / f"b{i + 1}.parquet"),
                       coerce_timestamps="us")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(r.event_id for r in spark.sql("select * from dedup_out").collect())
    assert rows == [1, 2, 3], rows  # event 1 exactly once


def test_stream_stream_window_join(spark, tmp_path):
    """Stream-stream inner join with a lookback bound: purchases pair
    with same-user clicks in [purchase_ts - 30min, purchase_ts], both
    sides unbounded streams with watermark-bounded state."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.event_windows import (
        stream_stream_window_join,
    )

    psrc, csrc = tmp_path / "purch", tmp_path / "clicks"
    psrc.mkdir(); csrc.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [1, 1, 2],
             "pid": [100, 101, 200],
             "pts": pd.to_datetime(["2024-01-01 10:30:00",  # 2 clicks in range
                                    "2024-01-01 12:00:00",  # none in range
                                    "2024-01-01 10:30:00"])})),  # other user
        str(psrc / "p1.parquet"), coerce_timestamps="us")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [1, 1, 1, 2],
             "cid": [7, 8, 9, 10],
             "cts": pd.to_datetime(["2024-01-01 10:10:00",   # in range for 100
                                    "2024-01-01 10:30:00",   # tie -> in range
                                    "2024-01-01 09:00:00",   # too old
                                    "2024-01-01 10:29:00"])})),  # user 2
        str(csrc / "c1.parquet"), coerce_timestamps="us")
    _time.sleep(1.1)

    purchases = (spark.readStream.schema("user_id long, pid long, pts timestamp")
                 .parquet(str(psrc)))
    clicks = (spark.readStream.schema("user_id long, cid long, cts timestamp")
              .parquet(str(csrc)))
    q = (
        stream_stream_window_join(
            purchases, clicks, on="user_id",
            left_ts="pts", right_ts="cts", lookback="30 minutes",
        )
        .writeStream.format("memory").queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    pairs = sorted((r.pid, r.cid) for r in spark.sql("select * from ssj_out").collect())
    assert pairs == [(100, 7), (100, 8), (200, 10)], pairs


def test_streaming_session_windows(spark, tmp_path):
    """session_window sessions merge events within the gap, stay open
    while extendable, and emit exactly once the watermark passes their
    end (append mode)."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.event_windows import (
        session_event_counts,
    )

    src = tmp_path / "sess_events"
    src.mkdir()
    b1 = pd.DataFrame(
        {"user_id": [1, 1, 1, 2],
         "ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:10:00",
                               "2024-01-01 10:20:00", "2024-01-01 10:05:00"]),
         "value": [1.0, 2.0, 3.0, 10.0]}
    )
    b2 = pd.DataFrame(  # user 1 returns: a second session
        {"user_id": [1], "ts": pd.to_datetime(["2024-01-01 12:00:00"]),
         "value": [4.0]}
    )
    b3 = pd.DataFrame(  # watermark -> 13:20: finalizes both early sessions
        {"user_id": [9], "ts": pd.to_datetime(["2024-01-01 13:30:00"]),
         "value": [0.0]}
    )
    b4 = pd.DataFrame(  # watermark -> 13:50: finalizes user 1's 12:00 session
        {"user_id": [9], "ts": pd.to_datetime(["2024-01-01 14:00:00"]),
         "value": [0.0]}
    )
    for i, b in enumerate((b1, b2, b3, b4)):
        pq.write_table(pa.Table.from_pandas(b), str(src / f"b{i + 1}.parquet"),
                       coerce_timestamps="us")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        session_event_counts(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat()):
            (r.n_events, r.avg_value)
        for r in spark.sql("select * from sess_out").collect()
    }
    assert rows == {
        # three events within the 30-min gap merged; end = last + gap
        (1, "2024-01-01T10:00:00", "2024-01-01T10:50:00"): (3, 2.0),
        (2, "2024-01-01T10:05:00", "2024-01-01T10:35:00"): (1, 10.0),
        (1, "2024-01-01T12:00:00", "2024-01-01T12:30:00"): (1, 4.0),
    }, rows


def test_watermark_late_flags_planted_late_event(spark):
    """Deterministic micro-case: an event arriving after the stream has
    advanced more than the delay past its event time is flagged; one
    inside the delay is not; the first arrival never is."""
    from datetime import datetime

    from data_pipeline_project_spark.streaming.event_windows import (
        watermark_late_flags,
    )

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # (arrival_order, event_time_minute_offset)
        (1, 0),    # first arrival: never late
        (2, 60),   # advances the max to +60min
        (3, 55),   # 5 min behind max: inside 10-min delay -> kept
        (4, 30),   # 30 min behind max: late -> dropped
        (5, 61),   # new max
    ]
    from datetime import timedelta

    df = spark.createDataFrame(
        [(a, base + timedelta(minutes=m)) for a, m in rows],
        "arr long, ts timestamp",
    )
    out = {
        r.arr: r.is_late
        for r in watermark_late_flags(
            df, ts_col="ts", arrival_col="arr", tiebreak_col="arr",
            delay_seconds=600, n_buckets=2,
        ).collect()
    }
    assert out == {1: False, 2: False, 3: False, 4: True, 5: False}


def test_stateful_dedup_first_seen_across_batches(spark, tmp_path):
    """applyInPandasWithState TTL dedup: duplicates within a batch AND
    across micro-batches emit exactly once; distinct texts all pass."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.stateful_dedup import (
        dedup_stream_first_seen,
    )

    src = tmp_path / "docs"
    src.mkdir()
    b1 = pd.DataFrame({"doc_id": [3, 1, 2], "text": ["alpha", "alpha", "beta"]})
    b2 = pd.DataFrame({"doc_id": [4, 5], "text": ["alpha", "gamma"]})
    pq.write_table(pa.Table.from_pandas(b1), str(src / "b1.parquet"))
    pq.write_table(pa.Table.from_pandas(b2), str(src / "b2.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = dedup_stream_first_seen(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_stateful(q, expected_rows=5)  # see helper: cannot self-stop

    rows = spark.sql("select * from dedup_out").collect()
    by_text = {r.text: r.doc_id for r in rows}
    assert len(rows) == 3, rows          # alpha, beta, gamma — once each
    assert by_text["beta"] == 2 and by_text["gamma"] == 5
    # 'alpha' won by the lowest id in whichever batch arrived first
    assert by_text["alpha"] in (1, 4)


def test_cdc_apply_stream_merges_and_replays_idempotently(spark, tmp_path):
    """Streaming CDC apply: change files stream in, each micro-batch
    merges into the versioned table (last-write-wins within a batch),
    and re-running the drained stream (same checkpoint) is a no-op."""
    import json

    from pyspark.sql import functions as F

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import snapshot_versions
    from data_pipeline_project_spark.streaming.cdc_apply import apply_cdc_stream

    target = str(tmp_path / "t")
    df = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, target, "user_id", 4)

    drop = tmp_path / "changes"
    drop.mkdir()
    # two updates to the SAME key in one batch (seq decides) + an insert
    with open(drop / "c1.jsonl", "w") as fh:
        for rec in [
            {"user_id": 5, "v": -1, "seq": 1},
            {"user_id": 5, "v": -2, "seq": 2},
            {"user_id": 2_000, "v": -3, "seq": 3},
        ]:
            fh.write(json.dumps(rec) + "\n")

    schema = "user_id BIGINT, v BIGINT, seq BIGINT"
    changes = (
        spark.readStream.schema(schema).json(str(drop))
    )
    ckpt = str(tmp_path / "ckpt")
    q = apply_cdc_stream(
        spark, changes, target, "user_id", "seq", ckpt
    )
    q.awaitTermination(120)
    assert q.applied_stats and q.applied_stats[0]["rows_updated"] == 1
    assert q.applied_stats[0]["rows_inserted"] == 1

    got = {r.user_id: r.v for r in spark.read.parquet(target).where(
        F.col("user_id").isin([5, 2_000])).collect()}
    assert got == {5: -2, 2_000: -3}  # seq=2 beat seq=1
    v_after = snapshot_versions(target)[-1]

    # drained replay with the same checkpoint: no new batch, no version
    changes2 = spark.readStream.schema(schema).json(str(drop))
    q2 = apply_cdc_stream(spark, changes2, target, "user_id", "seq", ckpt)
    q2.awaitTermination(120)
    assert not q2.applied_stats
    assert snapshot_versions(target)[-1] == v_after

    # a second change file arrives: incremental batch applies on top
    with open(drop / "c2.jsonl", "w") as fh:
        fh.write(json.dumps({"user_id": 5, "v": -9, "seq": 4}) + "\n")
    changes3 = spark.readStream.schema(schema).json(str(drop))
    q3 = apply_cdc_stream(spark, changes3, target, "user_id", "seq", ckpt)
    q3.awaitTermination(120)
    assert q3.applied_stats and q3.applied_stats[0]["rows_updated"] == 1
    assert spark.read.parquet(target).where("user_id = 5").first().v == -9
    assert spark.read.parquet(target).count() == 1_001


def test_stream_stream_left_outer_join_null_timing(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched rows emit like the inner
    join; an UNMATCHED purchase emits its null row only once the right
    watermark closes its match window. A late final event advances the
    watermark far past every window, so the drained run must emit the
    null row for the matchless purchase — and matched purchases must
    NOT also produce a spurious null row."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.event_windows import (
        stream_stream_window_join_outer,
    )

    psrc, csrc = tmp_path / "purch", tmp_path / "clicks"
    psrc.mkdir(); csrc.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [1, 1],
             "pid": [100, 101],
             "pts": pd.to_datetime(["2024-01-01 10:30:00",    # has a click
                                    "2024-01-01 12:00:00"])})),  # matchless
        str(psrc / "p1.parquet"), coerce_timestamps="us")
    # The GLOBAL watermark is min(left, right): the left stream needs
    # its own late event or purchase 101's window never closes.
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [9], "pid": [900],
             "pts": pd.to_datetime(["2024-01-03 10:00:00"])})),
        str(psrc / "p2.parquet"), coerce_timestamps="us")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [1],
             "cid": [7],
             "cts": pd.to_datetime(["2024-01-01 10:10:00"])})),  # matches 100
        str(csrc / "c1.parquet"), coerce_timestamps="us")
    # Two later files push the right watermark across batches: the
    # watermark computed at the END of a batch only takes effect in the
    # NEXT one, so outer-null emission needs data batches AFTER the
    # window closed — maxFilesPerTrigger=1 gives availableNow that
    # batch sequence.
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [9], "cid": [98],
             "cts": pd.to_datetime(["2024-01-02 09:00:00"])})),
        str(csrc / "c2.parquet"), coerce_timestamps="us")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(
            {"user_id": [9], "cid": [99],
             "cts": pd.to_datetime(["2024-01-03 09:00:00"])})),
        str(csrc / "c3.parquet"), coerce_timestamps="us")
    _time.sleep(1.1)

    purchases = (spark.readStream.schema("user_id long, pid long, pts timestamp")
                 .option("maxFilesPerTrigger", 1).parquet(str(psrc)))
    clicks = (spark.readStream.schema("user_id long, cid long, cts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(csrc)))
    q = (
        stream_stream_window_join_outer(
            purchases, clicks, on="user_id",
            left_ts="pts", right_ts="cts", lookback="30 minutes",
        )
        .writeStream.format("memory").queryName("ssjo_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = sorted(
        (r.pid, r.cid) for r in spark.sql("select * from ssjo_out").collect()
    )
    # 100 matched (once, no extra null row); 101 got its null row
    # because the global watermark (pushed on BOTH streams) closed its
    # window. The watermark-pusher purchase 900 itself stays unflushed
    # (nothing ever passes ITS window) — correct streaming semantics,
    # not data loss.
    assert rows == [(100, 7), (101, None)], rows


def test_streaming_heavy_hitters_state_across_batches(spark, tmp_path):
    """Sharded Misra-Gries in the state store: a term heavy across TWO
    micro-batches (never heavy within one) must surface in the final
    summary — the mergeable-summary property, live in streaming state."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.heavy_hitters_stream import (
        streaming_heavy_hitters,
    )

    src = tmp_path / "terms"
    src.mkdir()
    # 'hot' appears 30x per batch; fillers are unique per batch
    b1 = ["hot"] * 30 + [f"a{i}" for i in range(20)]
    b2 = ["hot"] * 30 + [f"b{i}" for i in range(20)]
    pq.write_table(pa.Table.from_pandas(pd.DataFrame({"term": b1})),
                   str(src / "b1.parquet"))
    pq.write_table(pa.Table.from_pandas(pd.DataFrame({"term": b2})),
                   str(src / "b2.parquet"))

    stream = (
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_heavy_hitters(stream, k=8, n_shards=4)
    q = (
        out.writeStream.format("memory").queryName("hh_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    hist = spark.sql("select * from hh_out").collect()
    hot = [r for r in hist if r.item == "hot"]
    assert hot, hist
    # weight grows across batches: the final 'hot' counter reflects
    # BOTH batches' mass (>= 40 after MG decrements), which a
    # stateless per-batch sketch could never reach
    assert max(r.weight for r in hot) >= 40
    # 'hot' was emitted in more than one batch (state crossed the
    # boundary) with growing weight
    assert len({r.weight for r in hot}) >= 2


def test_ohlc_agg_streams_and_matches_batch_windows(spark, tmp_path):
    """The min_by/max_by OHLC aggregate equals the two-window batch
    query on the same data AND runs as a real watermarked stream."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.plans.temporal_queries import ohlc_bars
    from data_pipeline_project_spark.sources.tables import load_table
    from data_pipeline_project_spark.streaming.event_windows import (
        ohlc_bars_agg,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    batch_windows = {
        (r.user_id, r.bucket_start): (r.n_events, r.open, r.high, r.low, r.close)
        for r in ohlc_bars(spark, sf).collect()
    }
    # caveat: the window-based query tie-breaks on (ts, event_id); the
    # aggregate form on (ts, value). They agree wherever (user, bucket,
    # ts) is unique — which is everywhere in this dataset; assert that
    # precondition rather than silently relying on it.
    assert (
        ev.groupBy("user_id", F.window("ts", "6 hours"), "ts").count()
        .where("count > 1").count() == 0
    )
    agg_windows = {
        (r.user_id, r.bucket_start): (r.n_events, r.open, r.high, r.low, r.close)
        for r in ohlc_bars_agg(ev).collect()
    }
    assert agg_windows == batch_windows

    # and it streams: replay the events as two files under a watermark
    pdf = ev.select("user_id", "ts", "value").toPandas()
    src = tmp_path / "ev"
    src.mkdir()
    half = len(pdf) // 2
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:half]), str(src / "a.parquet"),
                   coerce_timestamps="us")
    pq.write_table(pa.Table.from_pandas(pdf.iloc[half:]), str(src / "b.parquet"),
                   coerce_timestamps="us")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        ohlc_bars_agg(stream, watermark="1 hour")
        .writeStream.format("memory").queryName("ohlc_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ohlc_out").collect()
    # update mode re-emits refined bars; the LAST emission per key must
    # equal the batch bar
    latest = {}
    for r in got:
        latest[(r.user_id, r.bucket_start)] = (
            r.n_events, r.open, r.high, r.low, r.close
        )
    # every batch bar appears with final values (late-half events refine
    # earlier emissions rather than being dropped: watermark=1h but the
    # split is row-order, so both halves span the timeline)
    matched = sum(1 for k, v in latest.items() if batch_windows.get(k) == v)
    assert matched >= int(0.95 * len(batch_windows)), (
        matched, len(batch_windows)
    )


def test_streaming_quantiles_histogram_state(spark, tmp_path):
    """Fixed-bin histogram quantiles in state: estimates over the FULL
    stream (both micro-batches) within bin-width error of the exact
    percentiles, with O(n_bins) state per key."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.quantiles_stream import (
        streaming_quantiles,
    )

    rng = np.random.RandomState(5)
    vals = rng.uniform(0, 100, 2000)
    src = tmp_path / "v"
    src.mkdir()
    for i, sl in enumerate((vals[:1000], vals[1000:])):
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame({"k": 1, "value": sl})),
            str(src / f"b{i}.parquet"),
        )

    stream = (
        spark.readStream.schema("k long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_quantiles(stream, "k", "value", lo=0.0, hi=100.0, n_bins=200)
    q = (
        out.writeStream.format("memory").queryName("q_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hist = spark.sql("select * from q_out").collect()
    final = max(hist, key=lambda r: r.n)
    assert final.n == 2000  # state crossed the batch boundary
    for name, qq in (("q50", 0.5), ("q95", 0.95), ("q99", 0.99)):
        exact = float(np.quantile(vals, qq))
        est = getattr(final, name)
        assert abs(est - exact) <= 1.5, (name, est, exact)  # ~3 bin widths


def test_streaming_distinct_count_hll_state(spark, tmp_path):
    """HLL registers in state: the estimate reflects distinct items
    across BOTH micro-batches (overlapping halves — exact union 3000),
    within HLL's error band, with fixed-size state per key."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.distinct_stream import (
        streaming_distinct_count,
    )

    src = tmp_path / "items"
    src.mkdir()
    # batch 1: items 0..1999; batch 2: 1000..2999 (1000 overlap)
    for i, rng in enumerate((range(0, 2000), range(1000, 3000))):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame({"k": 7, "item": [f"u{j}" for j in rng]})
            ),
            str(src / f"b{i}.parquet"),
        )

    stream = (
        spark.readStream.schema("k long, item string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_distinct_count(stream, "k", "item", p=9)
    q = (
        out.writeStream.format("memory").queryName("hll_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hist = spark.sql("select * from hll_out").collect()
    assert len(hist) >= 2  # one emission per micro-batch: state crossed
    final = hist[-1].estimate if hist[-1].estimate >= hist[0].estimate else max(
        r.estimate for r in hist
    )
    # true distinct union = 3000; p=9 -> ~4.6% std error, allow 3 sigma
    assert abs(final - 3000) / 3000 < 0.15, final
    # and the estimate GREW across batches (duplicates alone can't)
    assert max(r.estimate for r in hist) > min(r.estimate for r in hist)


def test_stateful_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The PRODUCTION state backend: the TTL dedup runs against the
    RocksDB state store provider (what a real 100 TB stream uses —
    state spills to local SST files instead of living on the JVM heap),
    across four micro-batches AND across a checkpoint restart.
    Asserts (1) identical exactly-once semantics, (2) the provider
    actually engaged (rocksdb custom metrics in the progress events),
    (3) state row count == distinct hashes, bounded, with a recorded
    on-disk footprint."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_project_spark.streaming.stateful_dedup import (
        dedup_stream_first_seen,
    )

    src = tmp_path / "docs"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, ids, texts):
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame({"doc_id": ids, "text": texts})),
            str(src / name),
        )

    # run 1: two micro-batches with cross-batch duplicates (alpha, beta)
    write_batch("b1.parquet", [3, 1, 2], ["alpha", "alpha", "beta"])
    write_batch("b2.parquet", [4, 5, 6, 7], ["alpha", "gamma", "beta", "delta"])

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    # State partition count is pinned into the checkpoint at first run:
    # 2 partitions -> 2 RocksDB instances per batch instead of 8, which
    # cuts instance open/snapshot overhead ~4x in this container. (On a
    # production stream you SIZE this up front for the same reason —
    # it cannot be changed without a state rebuild.)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:

        def run_once(expected_rows):
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            q = (
                dedup_stream_first_seen(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _drain_stateful(q, expected_rows, timeout=180)
            return q

        q = run_once(expected_rows=7)
        state_ops = [
            p["stateOperators"][0]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert state_ops, "no stateful progress recorded"
        last = state_ops[-1]
        # the provider really is RocksDB: its custom metrics are present
        assert any(
            k.startswith("rocksdb") for k in last.get("customMetrics", {})
        ), last
        # state is bounded by distinct hashes, not stream length
        assert last["numRowsTotal"] == 4  # alpha beta gamma delta
        footprint = last["customMetrics"].get(
            "rocksdbSstFileSize", last.get("stateOnCurrentVersionSizeBytes", 0)
        )

        # run 2: restart from the SAME RocksDB checkpoint; re-sent
        # hashes must still dedup (state recovered from SST/changelog)
        write_batch("b4.parquet", [8, 9], ["alpha", "epsilon"])
        run_once(expected_rows=2)

        rows = spark.read.parquet(sink).collect()
        by_text = {r.text: r.doc_id for r in rows}
        assert len(rows) == 5, rows  # alpha beta gamma delta epsilon
        assert by_text["alpha"] in (1, 4)    # batch-order dependent winner
        assert by_text["beta"] == 2 and by_text["gamma"] == 5
        assert by_text["delta"] == 7 and by_text["epsilon"] == 9
        # keep the measured footprint visible in -s runs / NOTES
        print(f"rocksdb state footprint after run1: {footprint} bytes")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def test_cdc_apply_with_delete_markers_dv_mode(spark, tmp_path):
    """Full CDC feed: delete markers ride the change stream and apply
    as deletion vectors before the batch's upserts merge; a delete and
    a later update to the same key collapse last-write-wins; drained
    replay is a no-op."""
    import json

    from pyspark.sql import functions as F

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        read_version,
        snapshot_versions,
        table_dv,
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.streaming.cdc_apply import apply_cdc_stream

    target = str(tmp_path / "t")
    df = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, target, "user_id", 4)
    write_versioned_manifest(target)

    drop = tmp_path / "changes"
    drop.mkdir()
    with open(drop / "c1.jsonl", "w") as fh:
        for rec in [
            {"user_id": 3, "v": None, "seq": 1, "deleted": True},
            {"user_id": 5, "v": -2, "seq": 2, "deleted": False},
            {"user_id": 2_000, "v": -3, "seq": 3, "deleted": False},
            # delete then a LATER update to the same key: LWW keeps the update
            {"user_id": 7, "v": None, "seq": 4, "deleted": True},
            {"user_id": 7, "v": -7, "seq": 5, "deleted": False},
        ]:
            fh.write(json.dumps(rec) + "\n")

    schema = "user_id BIGINT, v BIGINT, seq BIGINT, deleted BOOLEAN"
    ckpt = str(tmp_path / "ckpt")
    q = apply_cdc_stream(
        spark, spark.readStream.schema(schema).json(str(drop)),
        target, "user_id", "seq", ckpt,
        delete_col="deleted", delete_mode="dv",
    )
    q.awaitTermination(120)
    assert q.applied_stats[0]["rows_deleted"] == 1      # user 3
    assert q.applied_stats[0]["rows_updated"] == 2      # users 5, 7
    assert q.applied_stats[0]["rows_inserted"] == 1     # user 2000
    assert table_dv(target)                              # a vector is pinned

    live = read_version(spark, target)
    assert live.count() == 1_000                         # -1 delete +1 insert
    got = {r.user_id: r.v for r in live.where(
        F.col("user_id").isin([3, 5, 7, 2_000])).collect()}
    assert got == {5: -2, 7: -7, 2_000: -3}              # 3 gone, 7 survived
    v_after = snapshot_versions(target)[-1]

    # drained replay: no new batch, no version
    q2 = apply_cdc_stream(
        spark, spark.readStream.schema(schema).json(str(drop)),
        target, "user_id", "seq", ckpt,
        delete_col="deleted", delete_mode="dv",
    )
    q2.awaitTermination(120)
    assert not q2.applied_stats
    assert snapshot_versions(target)[-1] == v_after

    # a later delete-only batch applies incrementally
    with open(drop / "c2.jsonl", "w") as fh:
        fh.write(json.dumps(
            {"user_id": 5, "v": None, "seq": 6, "deleted": True}) + "\n")
    q3 = apply_cdc_stream(
        spark, spark.readStream.schema(schema).json(str(drop)),
        target, "user_id", "seq", ckpt,
        delete_col="deleted", delete_mode="dv",
    )
    q3.awaitTermination(120)
    assert q3.applied_stats[0]["rows_deleted"] == 1
    assert read_version(spark, target).count() == 999


def test_cdc_apply_null_delete_flags_are_upserts(spark, tmp_path):
    """A CDC feed that leaves the delete flag NULL on upsert rows must
    not lose those changes: where(flag) and where(~flag) each drop
    NULL-flag rows, so both branches coalesce the flag to false."""
    import json

    from pyspark.sql import functions as F

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        read_version,
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.streaming.cdc_apply import apply_cdc_stream

    target = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(df, target, "user_id", 2)
    write_versioned_manifest(target)

    drop = tmp_path / "changes"
    drop.mkdir()
    with open(drop / "c1.jsonl", "w") as fh:
        for rec in [
            # upserts with the flag simply ABSENT (null) — the common
            # CDC shape where only delete rows carry the marker
            {"user_id": 3, "v": -1, "seq": 1},
            {"user_id": 500, "v": -2, "seq": 2},
            {"user_id": 9, "v": None, "seq": 3, "deleted": True},
        ]:
            fh.write(json.dumps(rec) + "\n")

    schema = "user_id BIGINT, v BIGINT, seq BIGINT, deleted BOOLEAN"
    q = apply_cdc_stream(
        spark, spark.readStream.schema(schema).json(str(drop)),
        target, "user_id", "seq", str(tmp_path / "ckpt"),
        delete_col="deleted", delete_mode="dv",
    )
    q.awaitTermination(120)
    assert q.applied_stats[0]["rows_deleted"] == 1
    assert q.applied_stats[0]["rows_updated"] == 1   # user 3, NOT dropped
    assert q.applied_stats[0]["rows_inserted"] == 1  # user 500

    live = read_version(spark, target)
    got = {r.user_id: r.v for r in live.where(
        F.col("user_id").isin([3, 9, 500])).collect()}
    assert got == {3: -1, 500: -2}
    assert live.count() == 100  # -1 delete, +1 insert
