"""Layered benchmark of the sensor pipeline and query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: sensor_stream and
corpus_queries (see perfbench/README.md). The run
builds its inputs from the seed inside ``.perfbench_work/``, starts a
local Spark session on every core ``nproc`` reports, warms up, checks
outputs, measures for ``--seconds``, and prints a table followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the Spark event log is enabled, jobs are tagged per layer, and the
metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "data_pipeline_project_spark"
DRIVER_MEMORY = "4g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "throughput": "1/s",
    "latency_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, in order."""
    from workloads import CORPUS_QUERIES

    units = {
        "session.start_s": "s",
        "plans.build_s": "s",
        "plans.eager_jobs": "count",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.failed_tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.single_task_stage_s": "s",
        "python.worker_init_s": "s",
        "python.worker_run_s": "s",
        "python.sent_mb": "MB",
        "python.returned_mb": "MB",
        "python.procs_peak": "count",
        "proc.peak_rss_mb": "MB",
        "pipeline_batch.run_s": "s",
        "sinks.raw_append_s": "s",
        "sinks.agg_append_s": "s",
        "sinks.quarantine_write_s": "s",
        "sinks.commit_retries": "count",
        "sinks.files_added": "count",
        "sinks.manifest_versions": "count",
        "streaming.epochs": "count",
        "streaming.files_per_epoch": "count",
        "streaming.handler_s": "s",
        "streaming.gap_s": "s",
    }
    for name in CORPUS_QUERIES:
        units[f"query.{name}.wall_s"] = "s"
    return units


class Span:
    def __init__(self, layer: str, group: str, timed: bool):
        self.layer, self.group, self.timed = layer, group, timed
        self.wall = 0.0


class Context:
    """What a workload needs: the session, its work directory, the run
    parameters, and ``span`` to time (and in a traced run, tag) each
    call into the engine."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.timed = False  # set by the workload around its timed region
        self.spans: list[Span] = []
        self.load: list[float] = []
        self.untimed_s = 0.0  # the benchmark's own work: generators, oracles
        self.setup_s = 0.0

    @contextlib.contextmanager
    def untimed(self):
        """Time spent here (input generation, oracle runs) is not the
        program's and is left out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def end_setup(self) -> None:
        """Set-up is over: record ``setup_s``."""
        self.setup_s = time.perf_counter() - T_START - self.untimed_s

    @contextlib.contextmanager
    def span(self, layer: str, item: str, op: int, phase: str):
        s = Span(layer, f"{self.workload}/{item}#{op}/{phase}", self.timed)
        if self.trace:
            self.spark.sparkContext.setJobGroup(s.group, s.group)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - t0
            self.spans.append(s)

    def load_sample(self) -> None:
        with open("/proc/loadavg") as fh:
            self.load.append(float(fh.read().split()[0]))


def pin_environment(work: str) -> int:
    """Cores from the CPU affinity mask (what ``nproc`` prints), every
    scratch path inside ``work``, and the package on the workers' path."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # no hsperfdata files in /tmp from the spark-submit launcher JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    import tempfile

    tempfile.tempdir = tmp
    return cores


def start_session(ctx: Context):
    from data_pipeline_project_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if ctx.trace:
        os.makedirs(os.path.join(ctx.work, "eventlog"))
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(ctx.work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name=f"perfbench-{ctx.workload}", extra_confs=confs)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every process below us."""
    from procmon import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def layer_metrics(ctx: Context, res, session_s: float, sampler) -> dict[str, float]:
    """Per-layer figures for the timed region, as means per operation
    (query pass or stream epoch)."""
    import eventlog

    log = eventlog.parse(os.path.join(ctx.work, "eventlog"))
    timed = {s.group for s in ctx.spans if s.timed}
    if ctx.workload == "sensor_stream":
        n_ops = max(1, res.layers.get("streaming.epochs", 0))
    else:
        n_ops = max(1, len(res.op_walls))
    spark_all = log.total(lambda g: g in timed)
    build = log.total(lambda g: g in timed and g.endswith("/build"))
    out = {name: 0.0 for name in per_layer_units()}
    out.update(
        {
            "session.start_s": session_s,
            "plans.build_s": sum(s.wall for s in ctx.spans if s.timed and s.layer == "plans")
            / n_ops,
            "plans.eager_jobs": build.jobs / n_ops,
            "spark.jobs": spark_all.jobs / n_ops,
            "spark.stages": spark_all.stages / n_ops,
            "spark.tasks": spark_all.tasks / n_ops,
            "spark.failed_tasks": spark_all.failed_tasks / n_ops,
            "spark.executor_run_s": spark_all.executor_run_s / n_ops,
            "spark.executor_cpu_s": spark_all.executor_cpu_s / n_ops,
            "spark.gc_s": spark_all.gc_s / n_ops,
            "spark.shuffle_read_mb": spark_all.shuffle_read_mb / n_ops,
            "spark.shuffle_write_mb": spark_all.shuffle_write_mb / n_ops,
            "spark.spill_mb": spark_all.spill_mb / n_ops,
            "spark.single_task_stage_s": spark_all.single_task_stage_s / n_ops,
            "python.worker_init_s": spark_all.python_init_s / n_ops,
            "python.worker_run_s": spark_all.python_run_s / n_ops,
            "python.sent_mb": spark_all.python_sent_mb / n_ops,
            "python.returned_mb": spark_all.python_returned_mb / n_ops,
            "python.procs_peak": sampler.peak_python_procs,
            "proc.peak_rss_mb": sampler.peak_rss_mb,
        }
    )
    out.update(res.layers)
    return out


def code_digest() -> str:
    """Digest of the package's and the benchmark's sources: untraced runs
    recorded under one digest measured the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), BENCH_DIR):
        for path in sorted(glob.glob(os.path.join(top, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_baseline(path: str) -> float | None:
    """Median ``latency_s`` of the untraced runs recorded in ``path``."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        values = [json.loads(line)["latency_s"] for line in fh if line.strip()]
    return statistics.median(values) if values else None


def print_table(title: str, rows: dict[str, tuple[float, str]]) -> None:
    print(f"== {title}")
    for name, (value, unit) in rows.items():
        print(f"  {name:42s} {value:14.4f} {unit}")


def main(argv: list[str]) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cores = pin_environment(work)
    ctx = Context(args, work)

    from procmon import ProcSampler

    try:
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx)
        session_s = time.perf_counter() - t0
        sampler = ProcSampler().start()
        ctx.load_sample()
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            sampler.stop()
            sc = ctx.spark.sparkContext
            env = {
                "requested_cpus": cores,
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "driver_memory": DRIVER_MEMORY,
                "loadavg_1m": ctx.load,
            }
            stop_session(ctx.spark)
        setup_s = ctx.setup_s

        print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} {json.dumps(env)}")
        for problem in res.problems:
            print(f"  FAILED: {problem}")
        error_rate = res.failed / max(1, res.attempted)
        print_table(
            f"{args.workload}: {len(res.op_walls)} timed {res.op_name}(s)",
            {
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (sampler.peak_rss_mb, "MB"),
                "error_rate": (error_rate, "ratio"),
                **res.extra,
            },
        )
        e2e = {
            "setup_s": setup_s,
            "throughput": res.throughput,
            "latency_s": res.latency_s,
        }
        record = os.path.join(
            base, f"untraced-{args.workload}-{args.seconds:g}s-{code_digest()}.jsonl"
        )
        if args.trace:
            metrics = layer_metrics(ctx, res, session_s, sampler)
            units = per_layer_units()
            print_table(f"{args.workload}: per layer", {k: (v, units[k]) for k, v in metrics.items()})
            # Traced against untraced latency of the same code, workload
            # and window. Printed only: it exists only once an untraced
            # run has been recorded, so it is not one of the JSON metrics.
            baseline = untraced_baseline(record)
            if baseline:
                print_table("tracing", {"trace.overhead": (res.latency_s / baseline, "ratio")})
            else:
                print("  trace.overhead: no untraced run of this code recorded")
        else:
            metrics, units = e2e, END_TO_END
            if res.failed == 0:
                with open(record, "a") as fh:
                    fh.write(json.dumps(e2e) + "\n")
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
