"""Seeded sensor CSV generator with ground truth.

Reproduces the reference generator's taxonomy: 5,000-row weather files
(timestamp, sensor_id, temperature, humidity, pressure), about a fifth
of them carrying 1-3 bad rows drawn from six error types, plus files
whose header lacks a column (the F1 header probe). Every value, bad-row
position and error type comes from the caller's ``random.Random``; the
returned ``FileTruth`` records say what the pipeline must do with each
file.
"""

from __future__ import annotations

import csv
import math
import os
import random
import time
from dataclasses import dataclass

COLUMNS = ("timestamp", "sensor_id", "temperature", "humidity", "pressure")
METRICS = ("temperature", "humidity", "pressure")
SENSORS = ("Kaggle_Sim_A01", "Kaggle_Sim_A02", "Weather_Station_Main", "Kaggle_Weather_01")
ERROR_TYPES = (
    "null_key_sensor_id",
    "null_key_timestamp",
    "bad_type_temp",
    "out_of_range_temp_low",
    "out_of_range_temp_high",
    "null_reading_humidity",
)
# 2025-05-01 00:00:00 UTC; timestamps walk forward from a seeded offset.
_BASE_EPOCH = 1746057600


@dataclass(frozen=True)
class FileTruth:
    name: str
    kind: str  # "valid" | "bad_rows" | "missing_header"
    rows: int
    sensors: int  # distinct sensor ids


def _fmt_ts(epoch: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def _row(rng: random.Random, epoch: int, error: str | None) -> list[str]:
    row = [
        _fmt_ts(epoch),
        rng.choice(SENSORS),
        f"{rng.uniform(-5.0, 35.0):.2f}",
        f"{rng.uniform(0.20, 0.99):.2f}",
        f"{rng.uniform(980.0, 1050.0):.2f}",
    ]
    if error == "null_key_sensor_id":
        row[1] = ""
    elif error == "null_key_timestamp":
        row[0] = "NOT_A_VALID_TIMESTAMP"
    elif error == "bad_type_temp":
        row[2] = "abc"
    elif error == "out_of_range_temp_low":
        row[2] = f"{-50.0 - rng.uniform(5, 20):.2f}"
    elif error == "out_of_range_temp_high":
        row[2] = f"{50.0 + rng.uniform(5, 20):.2f}"
    elif error == "null_reading_humidity":
        row[3] = ""
    return row


def write_file(path: str, rng: random.Random, kind: str, rows: int) -> FileTruth:
    """Write one CSV file of ``kind`` and return its ground truth."""
    errors: dict[int, str] = {}
    if kind == "bad_rows":
        for pos in rng.sample(range(rows), rng.randint(1, 3)):
            errors[pos] = rng.choice(ERROR_TYPES)
    epoch = _BASE_EPOCH + rng.randint(3600, 120 * 3600)
    lines = []
    for i in range(rows):
        epoch += rng.randint(5 * 60, 30 * 60)
        lines.append(_row(rng, epoch, errors.get(i)))
    sensors = len({line[1] for line in lines})
    header = list(COLUMNS)
    if kind == "missing_header":
        drop = rng.randrange(len(COLUMNS))
        header.pop(drop)
        for line in lines:
            line.pop(drop)
    with open(path, "w", newline="") as fh:
        fh.write(",".join(header) + "\n")
        fh.write("\n".join(",".join(line) for line in lines) + "\n")
    return FileTruth(os.path.basename(path), kind, rows, sensors)


def write_batch(
    directory: str,
    rng: random.Random,
    prefix: str,
    n_files: int,
    rows: int,
    n_bad: int,
    n_header: int,
) -> list[FileTruth]:
    """Write ``n_files`` files into ``directory``: ``n_bad`` with bad
    rows, ``n_header`` with a missing header column, the rest valid.
    Which file gets which kind is drawn from ``rng``."""
    os.makedirs(directory, exist_ok=True)
    kinds = ["bad_rows"] * n_bad + ["missing_header"] * n_header
    kinds += ["valid"] * (n_files - len(kinds))
    rng.shuffle(kinds)
    return [
        write_file(os.path.join(directory, f"{prefix}_{i:03d}.csv"), rng, kind, rows)
        for i, kind in enumerate(kinds)
    ]


def expected_counts(truths: list[FileTruth]) -> dict[str, int]:
    """What the strict pipeline must produce for these files."""
    valid = [t for t in truths if t.kind == "valid"]
    bad = [t for t in truths if t.kind == "bad_rows"]
    header = [t for t in truths if t.kind == "missing_header"]
    return {
        "raw_rows": sum(t.rows for t in valid),
        "raw_files": len(valid),
        "quarantined_rows": sum(t.rows for t in bad),
        "quarantined_files": len(bad),
        "quarantine_log_files": len(bad) + len(header),
        # one row per (file, sensor, metric) of every valid file
        "agg_rows": sum(t.sensors * len(METRICS) for t in valid),
    }


def python_aggregates(path: str) -> dict[tuple[str, str], tuple[float, float, float, float, int]]:
    """Pure-Python recompute of one valid file's long-format stats:
    (sensor_id, metric) -> (min, max, avg, sample stddev, count)."""
    values: dict[tuple[str, str], list[float]] = {}
    with open(path, newline="") as fh:
        for rec in csv.DictReader(fh):
            for m in METRICS:
                values.setdefault((rec["sensor_id"], m), []).append(float(rec[m]))
    out = {}
    for key, xs in values.items():
        n = len(xs)
        mean = math.fsum(xs) / n
        var = math.fsum((x - mean) ** 2 for x in xs) / (n - 1) if n > 1 else 0.0
        out[key] = (min(xs), max(xs), mean, math.sqrt(var), n)
    return out
