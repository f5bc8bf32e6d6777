"""The workloads. Each generates its inputs, runs its set-up and
warm-up, then a timed loop of as many passes or rounds as
``ctx.seconds`` calls for, then its output checks, and returns a
``Result``.

Every call into the engine goes through ``ctx.span``, which times it
and, in a traced run, tags its Spark jobs with the job group
``<workload>/<item>#<op>/<phase>``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import gen_sensor
import gen_tables

# corpus_queries: three registered llmops queries whose Python kernels
# hash with functions/md5_batch, on tables at sf 0.03 (1,500 documents,
# ~80k tokens). duplicate_passages then hashes ~72k positional shingles
# per md5 batch, above md5_batch._SMALL_BATCH (32,768); cdc_chunking's
# batches (~25k shingles, ~2.7k chunks) and text_stats' stay below it,
# so both sides of that threshold run.
CORPUS_QUERIES = (
    "duplicate_passages",
    "cdc_chunking",
    "text_stats",
)
CORPUS_SF = 0.03
# Wall time of one pass on a 4-core VM; it sets how many passes fill
# --seconds.
CORPUS_PASS_S = 3.0
ROWS_PER_FILE = 5000
# the closed-loop batch that opens sensor_stream's set-up: 4 files, 1
# with bad rows, 1 with a missing header column
BATCH_FILES, BATCH_BAD, BATCH_HEADER = 4, 1, 1
WARM_FILES = 2  # files of the stream's warm-up epoch, the first with bad rows
# The stream runs a closed loop of rounds: move STREAM_ROUND_FILES files
# into the watched directory at once, wait until their epoch has
# committed, repeat. An epoch pays a fixed commit cost of 3-4 s on a
# 4-core VM however few files it holds. Offered at a fixed rate instead,
# files met epochs running back to back, each one's size and length set
# by the one before, and the quartile spread of mean file latency over
# ten runs was 37% with a 0.5 s trigger, and 56% with a 6 s trigger as
# soon as a slower VM pushed epochs past the interval.
STREAM_ROUND_FILES = 3
# Rounds before timing starts: the first commit after the warm-up epoch
# runs long.
STREAM_RAMP_ROUNDS = 1
# Wall time of one round on a 4-core VM; it sets how many rounds fill
# --seconds.
STREAM_ROUND_S = 4.5
STREAM_TRIGGER = "0.5 seconds"
STREAM_BAD_SHARE = 0.2
STREAM_DRAIN_S = 60.0


@dataclass
class Result:
    op_name: str  # what one operation is: "pass" or "file"
    op_walls: list[float] = field(default_factory=list)
    throughput: float = 0.0  # input rows/s or queries/s
    latency_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # named end-to-end figures
    layers: dict = field(default_factory=dict)  # per-layer figures

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def tail(xs: list[float]) -> tuple[float, int, int]:
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count). With 10 samples or fewer no
    percentile qualifies, and the maximum is reported as p100."""
    n = len(xs)
    if n < 11:
        return max(xs), 100, n
    pct = math.floor(100 * (n - 10) / n)
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], pct, n


# ---------------------------------------------------------------- queries


def run_corpus_queries(ctx) -> Result:
    import duckdb
    from oracle_harness import compare, run_oracle

    from data_pipeline_project_spark.plans.registry import get_oracles, get_queries

    queries, oracles = get_queries(), get_oracles()
    sf_dir = os.path.join(ctx.work, "tables")
    with ctx.untimed():
        gen_tables.write_tables(sf_dir, ctx.seed, CORPUS_SF)
    res = Result("pass")

    def run_pass(op: int) -> dict[str, float]:
        walls = {}
        for name in CORPUS_QUERIES:
            q0 = time.perf_counter()
            try:
                with ctx.span("plans", name, op, "build"):
                    df = queries[name](ctx.spark, sf_dir)
                with ctx.span("query", name, op, "run"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                res.check(False, f"{name}#{op}: {type(exc).__name__}: {exc}"[:300])
                continue
            walls[name] = time.perf_counter() - q0
        return walls

    # pass 0 warms every plan the way the timed passes run it
    run_pass(0)
    ctx.end_setup()
    ctx.timed = True

    # A fixed number of passes for a given --seconds, whatever the speed,
    # so that every run takes the per-query median over as many samples.
    passes = max(3, round(ctx.seconds / CORPUS_PASS_S))
    per_query: dict[str, list[float]] = {n: [] for n in CORPUS_QUERIES}
    for op in range(1, passes + 1):
        p0 = time.perf_counter()
        for name, wall in run_pass(op).items():
            per_query[name].append(wall)
            res.attempted += 1
        res.op_walls.append(time.perf_counter() - p0)
        ctx.load_sample()
    ctx.timed = False

    # after the timed region: every result against its DuckDB oracle (row
    # count plus order-insensitive values)
    con = duckdb.connect()
    for name in CORPUS_QUERIES:
        try:
            with ctx.span("query", name, passes + 1, "check"):
                got = queries[name](ctx.spark, sf_dir).toPandas()
            problems = compare(got, run_oracle(con, oracles[name], sf_dir))
            hard = [p for p in problems if "HASH RISK" not in p]
            res.check(not hard, f"{name}: {hard}")
        except Exception as exc:  # noqa: BLE001
            res.check(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
    con.close()

    medians = {n: statistics.median(v) for n, v in per_query.items() if v}
    res.throughput = sum(len(v) for v in per_query.values()) / sum(res.op_walls)
    res.latency_s = geomean(list(medians.values()))
    res.extra = {
        "passes": (passes, "count"),
        "pass_s": (statistics.median(res.op_walls), "s"),
        "query_geomean_s": (res.latency_s, "s"),
    }
    res.layers = {f"query.{n}.wall_s": m for n, m in medians.items()}
    return res


# ----------------------------------------------------------------- sensor


def _read_head(spark, path: str):
    """The committed rows of a manifest table, as of its newest version."""
    from data_pipeline_project_spark.sinks.manifest import read_snapshot, snapshot_versions

    return read_snapshot(
        spark, os.path.join(path, "_manifests", f"v{snapshot_versions(path)[-1]}.json")
    )


class LakehouseSink:
    """Stream sink that appends each micro-batch to a manifest table
    through ``lakehouse_append_batch_fn`` and counts its commits."""

    def __init__(self, spark, path: str, sink_id: str):
        from data_pipeline_project_spark.streaming.lakehouse_ingest import (
            lakehouse_append_batch_fn,
        )

        self.path = path
        self.append = lakehouse_append_batch_fn(spark, path, sink_id)
        self.retries = 0
        self.files_added = 0

    def write(self, df, epoch_id: int) -> None:
        from data_pipeline_project_spark.sinks.manifest import snapshot_versions

        before = snapshot_versions(self.path)
        self.append(df, epoch_id)
        out = self.append.results[-1]
        self.files_added += out.get("files_added", 0)
        if before and "version" in out:
            # a commit that lost a race rebases and lands further ahead
            self.retries += out["version"] - before[-1] - 1

    def versions(self) -> int:
        from data_pipeline_project_spark.sinks.manifest import snapshot_versions

        return len(snapshot_versions(self.path))


def _check_aggregates(res: Result, spark, agg_path: str, csv_path: str) -> None:
    """One file's committed aggregates against a pure-Python recompute."""
    from pyspark.sql import functions as F

    rows = (
        _read_head(spark, agg_path)
        .where(F.col("file_name") == os.path.basename(csv_path))
        .collect()
    )
    want = gen_sensor.python_aggregates(csv_path)
    got = {
        (r["sensor_id"], r["metric_name"]): (
            r["min_value"], r["max_value"], r["avg_value"], r["std_dev_value"], r["record_count"]
        )
        for r in rows
    }
    ok = got.keys() == want.keys() and all(
        g[0] == w[0] and g[1] == w[1] and g[4] == w[4]
        and math.isclose(g[2], w[2], rel_tol=1e-9)
        and math.isclose(g[3], w[3], rel_tol=1e-9)
        for g, w in ((got[k], want[k]) for k in want)
    )
    res.check(ok, f"aggregates of {os.path.basename(csv_path)} differ from the recompute")


def _sensor_checks(res, spark, rng, raw, agg, directory, truths, quarantine_rows_path) -> None:
    """Exactly-once row counts in the committed tables, per the
    generator's ground truth, plus the aggregates of one file drawn
    from ``rng``."""
    want = gen_sensor.expected_counts(truths)
    res.check(_read_head(spark, raw.path).count() == want["raw_rows"], "raw row count")
    res.check(_read_head(spark, agg.path).count() == want["agg_rows"], "aggregate row count")
    got = spark.read.parquet(quarantine_rows_path)
    res.check(got.count() == want["quarantined_rows"], "quarantined row count")
    res.check(
        got.select("file_name").distinct().count() == want["quarantined_files"],
        "quarantined file count",
    )
    valid = [t for t in truths if t.kind == "valid"]
    pick = rng.choice(valid)
    _check_aggregates(res, spark, agg.path, os.path.join(directory, pick.name))


def _warm_batch(ctx, res: Result, directory: str, truths: list) -> float:
    """One closed-loop ``run_sensor_batch`` over a seeded batch with bad
    rows and missing-header files (the F1 probe), its outputs counted
    against the ground truth. Warms the validation and aggregate plans
    the stream reuses; returns the ``run_sensor_batch`` wall time."""
    from data_pipeline_project_spark.pipeline_batch import run_sensor_batch

    with ctx.span("pipeline_batch", "batch", 0, "run") as span:
        out = run_sensor_batch(ctx.spark, directory)
    want = gen_sensor.expected_counts(truths)
    with ctx.span("query", "batch", 0, "check"):
        got = {
            "raw_rows": out.raw.count(),
            "agg_rows": out.aggregates.count(),
            "quarantined_rows": out.quarantined_rows.count(),
            "quarantine_log_files": out.quarantine_log.count(),
        }
    for key, value in got.items():
        res.check(value == want[key], f"batch {key}: {value} != {want[key]}")
    return span.wall


class _TimedSink:
    """Wraps a sink of the stream: tags and times each epoch's write and
    records when the epoch's last write returned."""

    def __init__(self, ctx, inner, phase: str, last: bool, epochs: dict):
        self.ctx, self.inner, self.phase, self.last, self.epochs = ctx, inner, phase, last, epochs

    def write(self, df, epoch_id: int | None = None) -> None:
        with self.ctx.span("sinks", "epoch", epoch_id, self.phase) as s:
            self.inner.write(df, epoch_id)
        rec = self.epochs.setdefault(epoch_id, {})
        rec[self.phase] = s.wall
        if self.last:
            rec["end"] = time.perf_counter()


def _source_log(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's offset log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "[0-9]*")):
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def run_sensor_stream(ctx) -> Result:
    from data_pipeline_project_spark.sinks.sinks import ParquetAppendSink
    from data_pipeline_project_spark.streaming.sensor_stream import (
        run_sensor_stream as start_stream,
    )

    rng = random.Random(ctx.seed)
    batch_dir = os.path.join(ctx.work, "batch")
    watched = os.path.join(ctx.work, "watched")
    staging = os.path.join(ctx.work, "staging")
    checkpoint = os.path.join(ctx.work, "checkpoint")
    os.makedirs(watched)
    os.makedirs(staging)
    warm = [f"w{i:03d}.csv" for i in range(WARM_FILES)]
    n_rounds = max(3, round(ctx.seconds / STREAM_ROUND_S))
    rounds = [
        [f"r{i:03d}_{k}.csv" for k in range(STREAM_ROUND_FILES)]
        for i in range(STREAM_RAMP_ROUNDS + n_rounds)
    ]
    # every input is written before the engine sees any of it; the loop
    # then only moves finished files into the watched directory
    with ctx.untimed():
        batch_truths = gen_sensor.write_batch(batch_dir, rng, "b", BATCH_FILES, ROWS_PER_FILE,
                                              BATCH_BAD, BATCH_HEADER)
        names = warm + [name for r in rounds for name in r]
        # a fixed share of bad files, placed by the seed, so that every
        # seed gives the stream the same mix
        n_round_files = len(names) - WARM_FILES
        n_bad = round(STREAM_BAD_SHARE * n_round_files)
        round_kinds = ["bad_rows"] * n_bad + ["valid"] * (n_round_files - n_bad)
        rng.shuffle(round_kinds)
        kinds = ["bad_rows"] + ["valid"] * (WARM_FILES - 1) + round_kinds
        truths = [
            gen_sensor.write_file(os.path.join(staging, name), rng, kind, ROWS_PER_FILE)
            for name, kind in zip(names, kinds)
        ]
    raw = LakehouseSink(ctx.spark, os.path.join(ctx.work, "raw"), "raw")
    agg = LakehouseSink(ctx.spark, os.path.join(ctx.work, "agg"), "agg")
    q_rows = os.path.join(ctx.work, "quarantine", "rows")
    epochs: dict[int, dict] = {}
    dropped: dict[str, float] = {}  # timed file -> when it was moved in
    round_walls: list[float] = []
    res = Result("round")
    batch_run_s = _warm_batch(ctx, res, batch_dir, batch_truths)

    def drop(names) -> float:
        at = time.perf_counter()
        for name in names:
            os.rename(os.path.join(staging, name), os.path.join(watched, name))
        return at

    def committed(names) -> bool:
        batches = _source_log(checkpoint)
        return all(n in batches and "end" in epochs.get(batches[n], {}) for n in names)

    def wait_for(names, limit: float) -> bool:
        stop = time.perf_counter() + limit
        while not committed(names):
            if time.perf_counter() > stop:
                return False
            time.sleep(0.02)
        return True

    query = start_stream(
        ctx.spark, watched,
        _TimedSink(ctx, raw, "raw", False, epochs),
        _TimedSink(ctx, agg, "agg", False, epochs),
        _TimedSink(ctx, ParquetAppendSink(q_rows), "quarantine", True, epochs),
        checkpoint,
        trigger={"processingTime": STREAM_TRIGGER},
    )
    try:
        drop(warm)
        if not wait_for(warm, STREAM_DRAIN_S):
            raise RuntimeError("warm-up files were not committed")
        for i, names in enumerate(rounds):
            if i == STREAM_RAMP_ROUNDS:
                ctx.end_setup()
                ctx.timed = True
            at = drop(names)
            if not wait_for(names, STREAM_DRAIN_S):
                res.check(False, f"round {i} was not committed")
                break
            if ctx.timed:
                round_walls.append(time.perf_counter() - at)
                dropped.update(dict.fromkeys(names, at))
            ctx.load_sample()
    finally:
        query.stop()
    ctx.timed = False

    batches = _source_log(checkpoint)
    res.check(sorted(batches) == sorted(t.name for t in truths), "source log lists every file once")
    latency = {n: epochs[batches[n]]["end"] - at for n, at in dropped.items()}
    timed_epochs = {e: epochs[e] for e in {batches[n] for n in dropped}}
    if not latency:
        res.check(False, "no timed round was committed")
        return res
    res.attempted += len(round_walls)
    res.op_walls = round_walls
    res.latency_s = statistics.fmean(latency.values())
    # input rows committed per second of the timed rounds' wall time:
    # trigger waits, listing, offset and commit logs and the sink writes
    # all count
    res.throughput = len(latency) * ROWS_PER_FILE / sum(round_walls)
    handler = {e: r["raw"] + r["agg"] + r["quarantine"] for e, r in timed_epochs.items()}
    value, pct, n = tail(list(latency.values()))
    res.extra = {
        "files_per_round": (STREAM_ROUND_FILES, "count"),
        "latency_mean_s": (res.latency_s, "s"),
        "latency_p50_s": (statistics.median(latency.values()), "s"),
        f"latency_tail_s(p{pct},n={n})": (value, "s"),
        "handler_rows_per_s": (len(latency) * ROWS_PER_FILE / sum(handler.values()), "1/s"),
    }
    n_epochs = len(timed_epochs)
    res.layers = {
        "pipeline_batch.run_s": batch_run_s,
        "sinks.raw_append_s": statistics.fmean(r["raw"] for r in timed_epochs.values()),
        "sinks.agg_append_s": statistics.fmean(r["agg"] for r in timed_epochs.values()),
        "sinks.quarantine_write_s": statistics.fmean(
            r["quarantine"] for r in timed_epochs.values()
        ),
        "sinks.commit_retries": (raw.retries + agg.retries) / len(epochs),
        "sinks.files_added": (raw.files_added + agg.files_added) / len(epochs),
        "sinks.manifest_versions": raw.versions() + agg.versions(),
        "streaming.epochs": n_epochs,
        "streaming.files_per_epoch": len(latency) / n_epochs,
        "streaming.handler_s": statistics.fmean(handler.values()),
        "streaming.gap_s": statistics.fmean(
            lat - handler[batches[name]] for name, lat in latency.items()
        ),
    }
    _sensor_checks(res, ctx.spark, rng, raw, agg, watched, truths, q_rows)
    return res


WORKLOADS = {
    "sensor_stream": run_sensor_stream,
    "corpus_queries": run_corpus_queries,
}
