"""End-to-end batch pipeline tests on CSV fixtures reproducing the
reference's 6-error taxonomy (FIXTURES.md §2, test_csv_files_generator.py
semantics) and its golden quarantine-reason format."""

import pytest

from data_pipeline_project_spark.config import PipelineConfig, ValidationBounds
from data_pipeline_project_spark.pipeline_batch import run_sensor_batch

HEADER = "timestamp,sensor_id,temperature,humidity,pressure"


def write_csv(dirpath, name, rows):
    p = dirpath / name
    p.write_text("\n".join([HEADER, *rows]) + "\n")
    return p


@pytest.fixture
def fixture_dir(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    # fully valid file: 3 rows, 2 sensors
    write_csv(
        d,
        "good.csv",
        [
            "2025-05-26 10:00:00,S1,20.5,0.50,1000.0",
            "2025-05-26 10:05:00,S1,21.5,0.55,1001.0",
            "2025-05-26 10:10:00,S2,19.0,0.60,999.0",
        ],
    )
    # bad file: row 3 (CSV line 3) has non-numeric temperature
    write_csv(
        d,
        "bad_type.csv",
        [
            "2025-05-26 11:00:00,S1,20.0,0.50,1000.0",
            "2025-05-26 11:05:00,S1,abc,0.50,1000.0",
            "2025-05-26 11:10:00,S1,21.0,0.50,1000.0",
        ],
    )
    # bad file: null sensor_id (row 2) and out-of-range temp (row 3)
    write_csv(
        d,
        "bad_multi.csv",
        [
            "2025-05-26 12:00:00,,20.0,0.50,1000.0",
            "2025-05-26 12:05:00,S2,75.0,0.50,1000.0",
        ],
    )
    # bad file: unparsable timestamp
    write_csv(d, "bad_ts.csv", ["NOT_A_VALID_TIMESTAMP,S1,20.0,0.50,1000.0"])
    # bad file: NA-token humidity (null reading)
    write_csv(d, "bad_null_reading.csv", ["2025-05-26 13:00:00,S3,20.0,n/a,1000.0"])
    return d


def test_strict_gate_quarantines_whole_file(spark, fixture_dir):
    res = run_sensor_batch(spark, str(fixture_dir))
    raw = res.raw.collect()
    # only good.csv survives; every row of every bad file is discarded
    assert {r.file_name for r in raw} == {"good.csv"}
    assert len(raw) == 3
    # valid rows of bad files are in the quarantined set
    qfiles = {r.file_name for r in res.quarantined_rows.collect()}
    assert qfiles == {"bad_type.csv", "bad_multi.csv", "bad_ts.csv", "bad_null_reading.csv"}


def test_error_reason_golden_format(spark, fixture_dir):
    res = run_sensor_batch(spark, str(fixture_dir))
    log = {r.file_name: r.quarantine_reason for r in res.quarantine_log.collect()}
    # golden format per quarantine/quarantine_log.txt:3 —
    # "Validation failed at row 3: Row 3: 'temperature' ('abc') is not a valid number."
    assert (
        log["bad_type.csv"]
        == "Validation failed at row 3: Row 3: 'temperature' ('abc') is not a valid number."
    )
    assert log["bad_ts.csv"] == (
        "Validation failed at row 2: Row 2: 'timestamp' ('NOT_A_VALID_TIMESTAMP') is unparsable."
    )
    assert log["bad_null_reading.csv"] == (
        "Validation failed at row 2: Row 2: 'humidity' is null."
    )
    # first failing row wins for the file reason (pipeline.py:165)
    assert log["bad_multi.csv"].startswith("Validation failed at row 2: Row 2: 'sensor_id' is null.")


def test_out_of_range_reason_includes_bounds(spark, fixture_dir):
    res = run_sensor_batch(spark, str(fixture_dir))
    rows = {
        (r.file_name, r._csv_row): r.error_reason for r in res.quarantined_rows.collect()
    }
    assert rows[("bad_multi.csv", 3)] == "Row 3: 'temperature' ('75.0') is out of range [-50.0, 50.0]."
    # clean rows of a poisoned file carry no per-row error
    assert rows[("bad_type.csv", 2)] == ""


def test_lenient_mode_drops_only_bad_rows(spark, fixture_dir):
    cfg = PipelineConfig(strict=False)
    res = run_sensor_batch(spark, str(fixture_dir), cfg)
    raw = res.raw.collect()
    by_file = {}
    for r in raw:
        by_file.setdefault(r.file_name, 0)
        by_file[r.file_name] += 1
    # good rows of bad files survive in lenient mode; files whose rows
    # are all bad contribute nothing
    assert by_file == {"good.csv": 3, "bad_type.csv": 2}


def test_config_injected_bounds(spark, tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    # humidity 0.10: valid under code-fallback bounds [0,1], invalid
    # under config.ini bounds [0.20,0.99] (SURVEY.md §7 ambiguity)
    write_csv(d, "h.csv", ["2025-05-26 10:00:00,S1,20.0,0.10,1000.0"])
    from data_pipeline_project_spark.config import CONFIG_INI_BOUNDS

    lenient_bounds = run_sensor_batch(spark, str(d), PipelineConfig())
    assert lenient_bounds.raw.count() == 1
    strict_bounds = run_sensor_batch(
        spark, str(d), PipelineConfig(bounds=CONFIG_INI_BOUNDS)
    )
    assert strict_bounds.raw.count() == 0
    reason = strict_bounds.quarantine_log.collect()[0].quarantine_reason
    assert "'humidity' ('0.10') is out of range [0.2, 0.99]." in reason


def test_config_ini_loader(tmp_path):
    """PipelineConfig.from_ini parses the reference's key names
    (config.ini:1-20, incl. its trailing-space quirks) and falls back
    per-key to the code defaults (pipeline.py:30-37)."""
    from data_pipeline_project_spark.config import CONFIG_INI_BOUNDS, PipelineConfig

    ini = tmp_path / "config.ini"
    ini.write_text(
        "[DEFAULT]\n"
        "DATA_FOLDER = data\n"
        "QUARANTINE_FOLDER = quarantine\n"
        "PROCESSED_FOLDER = processed\n"
        "LOG_FILE = logs/pipeline.log\n"
        "MONITOR_INTERVAL_SECONDS = 5\n"
        "[VALIDATION]\n"
        "\n"
        "TEMP_MIN = -50.0\n"
        "TEMP_MAX = 50.0\n"
        "HUMIDITY_MIN = 0.20\n"
        "HUMIDITY_MAX = 0.99\n"
        "PRESSURE_MIN = 980.0\n"
        "PRESSURE_MAX = 1050.0 \n"  # trailing space, as shipped
    )
    cfg = PipelineConfig.from_ini(str(ini))
    assert cfg.bounds == CONFIG_INI_BOUNDS
    assert cfg.data_folder == "data"
    assert cfg.monitor_interval_seconds == 5

    # partial ini: missing VALIDATION keys use the code fallbacks
    sparse = tmp_path / "sparse.ini"
    sparse.write_text("[VALIDATION]\nTEMP_MIN = -10.0\n")
    cfg2 = PipelineConfig.from_ini(str(sparse))
    assert cfg2.bounds.temp_min == -10.0
    assert cfg2.bounds.humidity_min == 0.0 and cfg2.bounds.humidity_max == 1.0
    assert cfg2.bounds.pressure_max == 1100.0

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        PipelineConfig.from_ini(str(tmp_path / "missing.ini"))


def test_aggregates_shape_and_stddev_edge(spark, fixture_dir):
    res = run_sensor_batch(spark, str(fixture_dir))
    aggs = {(r.sensor_id, r.metric_name): r for r in res.aggregates.collect()}
    # good.csv: S1 has 2 rows, S2 has 1 row, 3 metrics each
    assert len(aggs) == 6
    s1t = aggs[("S1", "temperature")]
    assert s1t.record_count == 2
    assert s1t.min_value == 20.5 and s1t.max_value == 21.5
    assert abs(s1t.avg_value - 21.0) < 1e-12
    # n=1 group: sample stddev must be 0.0, not NULL (pipeline.py:205)
    s2t = aggs[("S2", "temperature")]
    assert s2t.record_count == 1
    assert s2t.std_dev_value == 0.0
    # aggregation_time = min(timestamp) of the sensor group
    assert str(s1t.aggregation_time) == "2025-05-26 10:00:00"


def test_timestamp_multiformat_parity(spark, tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    write_csv(
        d,
        "fmt.csv",
        [
            "2025-05-26 10:00:00,S1,20.0,0.5,1000.0",
            "2025-05-26T11:00:00,S1,20.0,0.5,1000.0",
            "05/26/2025 12:00:00,S1,20.0,0.5,1000.0",
            "2025-05-26,S1,20.0,0.5,1000.0",
        ],
    )
    res = run_sensor_batch(spark, str(d))
    assert res.raw.count() == 4  # all formats parse (pd.to_datetime parity)
    times = sorted(str(r.timestamp) for r in res.raw.collect())
    assert times[0] == "2025-05-26 00:00:00"
    assert times[-1] == "2025-05-26 12:00:00"


def test_empty_and_header_only_files(spark, tmp_path):
    from data_pipeline_project_spark.sources.csv_source import empty_files

    d = tmp_path / "data"
    d.mkdir()
    (d / "empty.csv").write_text("")
    (d / "header_only.csv").write_text(HEADER + "\n")
    write_csv(d, "ok.csv", ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0"])
    out = {r.file_name: r.quarantine_reason for r in empty_files(spark, str(d)).collect()}
    assert out == {
        "empty.csv": "File is completely empty.",
        "header_only.csv": "File contains only a header.",
    }


def test_header_mismatch_quarantined_with_reference_message(spark, tmp_path):
    """F1 — a file whose header lacks expected columns is quarantined
    whole with the reference's message (pipeline.py:100-105), and its
    rows never reach the raw table (enforceSchema would otherwise
    positional-map them into the wrong columns)."""
    d = tmp_path / "data"
    d.mkdir()
    write_csv(d, "ok.csv", ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0"])
    # 4-column header: pressure missing entirely
    (d / "short_header.csv").write_text(
        "timestamp,sensor_id,temperature,humidity\n"
        "2025-05-26 10:00:00,S1,20.0,0.5\n"
    )
    # unknown names in place of two expected columns
    (d / "renamed_header.csv").write_text(
        "timestamp,sensor_id,temp_c,hum_pct,pressure\n"
        "2025-05-26 10:00:00,S1,20.0,0.5,1000.0\n"
    )
    res = run_sensor_batch(spark, str(d))
    assert {r.file_name for r in res.raw.collect()} == {"ok.csv"}
    log = {r.file_name: r.quarantine_reason for r in res.quarantine_log.collect()}
    assert log["short_header.csv"] == (
        "File 'short_header.csv': Missing critical columns: pressure. Quarantining."
    )
    assert log["renamed_header.csv"] == (
        "File 'renamed_header.csv': Missing critical columns: "
        "temperature, humidity. Quarantining."
    )


def test_preprocess_job_chunks_and_format(spark, tmp_path):
    """EP2 (P1-P10/K7): rename/project/synthetic-key/UTC-format/dropna
    plus chunked CSV output with headers."""
    import csv as _csv

    from data_pipeline_project_spark.preprocess import run_preprocess_job

    src = tmp_path / "kaggle.csv"
    with open(src, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["Formatted Date", "Summary", "Temperature (C)", "Humidity", "Pressure (millibars)"])
        for i in range(25):
            w.writerow([f"2006-04-{i // 24 + 1:02d} {i % 24:02d}:00:00.000 +02:00",
                        "cloudy", 9.47 + i, 0.89, 1015.13])
        w.writerow(["2006-04-02 01:00:00.000 +02:00", "cloudy", "", 0.5, 1000.0])  # dropna row

    out = run_preprocess_job(spark, str(src), str(tmp_path / "chunks"), chunk_rows=10)
    rows = out.orderBy("timestamp").collect()
    assert len(rows) == 25  # null-temperature row dropped
    # UTC normalize: +02:00 input -> 22:00 previous day UTC
    assert rows[0].timestamp == "2006-03-31 22:00:00"
    assert rows[0].sensor_id == "Kaggle_Weather_01"
    assert rows[1].sensor_id == "Kaggle_Weather_02"  # round-robin

    chunk_files = list((tmp_path / "chunks").glob("*.csv"))
    assert chunk_files
    sizes = []
    for f in chunk_files:
        lines = f.read_text().strip().splitlines()
        assert lines[0] == "timestamp,sensor_id,temperature,humidity,pressure"
        sizes.append(len(lines) - 1)
    assert max(sizes) <= 10  # K7/P10 chunk bound
    assert sum(sizes) == 25


def test_batch_metrics_counts(spark, fixture_dir):
    """K9 — the audit metrics frame mirrors the reference's per-run
    logging as data: on the standard fixture set, 1 file / 3 rows pass
    and 4 files / 7 rows quarantine (strict gate)."""
    from data_pipeline_project_spark.pipeline_batch import batch_metrics, run_sensor_batch

    res = run_sensor_batch(spark, str(fixture_dir))
    m = batch_metrics(res).collect()
    assert len(m) == 1
    row = m[0].asDict()
    assert row == {
        "files_processed": 1,
        "files_quarantined": 4,
        "rows_valid": 3,
        "rows_quarantined": 7,
    }


def test_header_probe_driver_and_executor_paths_agree(spark, tmp_path, monkeypatch):
    """r13 opt regression: _first_lines has a size-gated driver-side
    head-read fast path (<= _DRIVER_HEAD_FILES files) and the original
    executor mapInPandas path above it. Both must return identical
    (file, header) rows — the probe's verdicts cannot depend on which
    side read the bytes."""
    from data_pipeline_project_spark.sources import csv_source

    d = tmp_path / "data"
    d.mkdir()
    write_csv(d, "ok.csv", ["2025-05-26 10:00:00,S1,20.0,0.5,1000.0"])
    (d / "short_header.csv").write_text(
        "timestamp,sensor_id,temperature,humidity\n"
        "2025-05-26 10:00:00,S1,20.0,0.5\n"
    )
    (d / "crlf_header.csv").write_text(
        "timestamp,sensor_id,temperature,humidity,pressure\r\n"
        "2025-05-26 10:00:00,S1,20.0,0.5,1000.0\r\n"
    )

    assert len(list(d.iterdir())) <= csv_source._DRIVER_HEAD_FILES
    driver_rows = sorted(
        (r.file_name, r.header)
        for r in csv_source._first_lines(spark, str(d)).collect()
    )
    monkeypatch.setattr(csv_source, "_DRIVER_HEAD_FILES", 0)
    exec_rows = sorted(
        (r.file_name, r.header)
        for r in csv_source._first_lines(spark, str(d)).collect()
    )
    assert driver_rows == exec_rows
    assert [f for f, _h in driver_rows] == [
        "crlf_header.csv", "ok.csv", "short_header.csv"
    ]


def test_split_matches_broadcast_join_form(spark, tmp_path):
    """The strict split's literal IN-filter returns the same rows as the
    broadcast left_anti/left_semi join on the bad-file set it replaced,
    a row with a NULL file name included (valid, as under the anti-join)."""
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.operators.validation import (
        ERROR_COL,
        sensor_checks,
        sensor_rules,
        split_valid_invalid,
        with_error_reason,
    )
    from data_pipeline_project_spark.sources.csv_source import FILE_COL, read_sensor_csv

    d = tmp_path / "data"
    d.mkdir()
    write_csv(d, "clean1.csv", ["2025-05-26 10:00:00,S1,20.0,0.50,1000.0",
                                "2025-05-26 10:05:00,S2,21.0,0.50,1000.0"])
    write_csv(d, "clean2.csv", ["2025-05-26 11:00:00,S3,22.0,0.50,1000.0"])
    write_csv(d, "poisoned.csv", ["2025-05-26 12:00:00,S1,20.0,0.50,1000.0",
                                  "2025-05-26 12:05:00,S1,abc,0.50,1000.0"])
    write_csv(d, "header_only.csv", [])
    df = read_sensor_csv(spark, str(d))
    null_row = spark.createDataFrame(
        [(None, "2025-05-26 13:00:00", "S4", "20.0", "0.50", "1000.0", 2)],
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema),
    )
    df = df.unionByName(null_row)
    rules = sensor_rules(ValidationBounds())

    valid, invalid, flagged, verdicts = split_valid_invalid(
        df, sensor_checks(rules, FILE_COL)
    )
    ref = with_error_reason(df, rules)
    bad_files = ref.where(F.col(ERROR_COL) != "").select(FILE_COL).distinct()
    ref_valid = ref.join(F.broadcast(bad_files), FILE_COL, "left_anti")
    ref_invalid = ref.join(F.broadcast(bad_files), FILE_COL, "left_semi")

    def rows(frame):
        return sorted(map(tuple, frame.select(*ref.columns).collect()), key=repr)

    try:
        assert rows(valid) == rows(ref_valid)
        assert rows(invalid) == rows(ref_invalid)
        assert {r[FILE_COL] for r in valid.collect()} == {"clean1.csv", "clean2.csv", None}
        assert {r[FILE_COL] for r in invalid.collect()} == {"poisoned.csv"}
        assert invalid.count() == 2
        assert verdicts == {
            "clean1.csv": False, "clean2.csv": False, "poisoned.csv": True, None: False
        }
    finally:
        flagged.unpersist()
