"""Soak the optimistic-concurrency tier beyond its CI seeds.

Each seed: a fresh range-clustered table and N=3 writers drawn from
the full optimistic op set — merge_upsert, delete_rows_dv,
delete_rows_targeted(commit=True), compact_snapshot, append_snapshot
(r10) — on DISJOINT key windows, interleaved deterministically through
the claim seam as a CHAIN: writer C's first claim runs writer B in
full, whose first claim runs writer A in full, so commits land A, B, C
with B rebasing once and C rebasing across BOTH (multi-commit rebase).
The final head is compared against a sequential reference (same ops,
same order, on a twin table): equality proves the rebases commute.
Every intermediate version is also replayed (time travel over
interleaved commits).

Compaction appears at most once per seed (two compactions share
removed files — a designed conflict, covered by CI's conflict tests).

A second family (same count) runs on HIVE-PARTITIONED tables with
per-shard key ranges: each of the three writers owns one shard and
draws from merge / DV delete / targeted delete / keyed append /
rewrite_partition (OPTIMIZE WHERE) — the nightly-maintenance
interleaving: optimize shard 1 while shard 0 merges and shard 2
ingests. Disjoint shards mean every pair must commute; the chain
forces the multi-commit rebases.

Round 11: every seed also draws a LogStore — even seeds commit
through the default POSIX O_EXCL store, odd seeds through the
external-CAS fake (registry-decided claims, non-atomic slot writes —
the object-store deployment shape). The SAME interleavings must
converge identically under both; a divergence would mean the commit
protocol secretly depends on the claim primitive's side effects.

Usage: python scripts/concurrency_soak.py [n_seeds]
"""

import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _InterposeChain:
    """On each claim attempt of the CURRENTLY-running writer, pop and
    run the next queued writer in full (which may itself trigger the
    next pop — the nesting is what produces the A-inside-B-inside-C
    interleaving). Once the stack drains, claims pass through."""

    def __init__(self, runs):
        self.stack = list(runs)  # popped last-first

    def __call__(self, version, mdir):
        if not self.stack:
            return
        run = self.stack.pop()
        run()


def main():
    from pyspark.sql import SparkSession, functions as F

    from data_pipeline_project_spark.sinks import manifest as M
    from data_pipeline_project_spark.sinks.logstore import (
        ExternalCASLogStore,
        LocalFSLogStore,
    )
    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        compact_snapshot,
        delete_rows_dv,
        delete_rows_targeted,
        merge_upsert,
        read_version,
        snapshot_versions,
        write_versioned_manifest,
    )

    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("concurrency-soak")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="conc_soak_")

    N, FILES = 900, 3

    def fresh(name, small_tail):
        """Range-clustered table; with small_tail, two tiny appended
        files so compaction has bait that no merge window touches."""
        path = os.path.join(work, name)
        df = spark.range(0, N).select(
            F.col("id").alias("k"), ((F.col("id") * 7) % 101).alias("v")
        )
        write_range_clustered(df, path, "k", FILES)
        if small_tail:
            for extra_k in (10_000, 10_001):
                spark.createDataFrame(
                    [(extra_k, -100)], "k long, v long"
                ).coalesce(1).write.mode("append").parquet(path)
        write_versioned_manifest(path)
        return path

    def draw_op(rng, window, fresh_base, allow_compact):
        kinds = ["merge", "dv", "delete", "append"] + (
            ["compact"] if allow_compact else []
        )
        kind = rng.choice(kinds)
        if kind == "append":
            # brand-new keys, outside every window (inserts only)
            n = rng.randrange(1, 4)
            rows = [(fresh_base + i, -7) for i in range(n)]
            return kind, rows
        keys = rng.sample(window, rng.randrange(1, 5))
        if kind == "merge":
            return kind, [(int(k), -rng.randrange(1, 50)) for k in keys]
        if kind == "compact":
            return kind, None
        return kind, [(int(k),) for k in keys]

    def run_op(path, kind, payload):
        if kind == "merge":
            merge_upsert(
                spark, path, "k",
                spark.createDataFrame(payload, "k long, v long"),
            )
        elif kind == "append":
            append_snapshot(
                spark, path,
                spark.createDataFrame(payload, "k long, v long").coalesce(1),
                key_col="k",
            )
        elif kind == "dv":
            delete_rows_dv(
                spark, path, "k",
                spark.createDataFrame(payload, "k long"),
            )
        elif kind == "delete":
            delete_rows_targeted(
                spark, path, "k",
                spark.createDataFrame(payload, "k long"), commit=True,
            )
        else:
            # threshold below the FILES clustered third-of-table files
            # (the largest), from the committed head — the directory
            # may hold a nested writer's in-flight parts
            head = M.read_manifest(
                os.path.join(path, "_manifests", "latest.json")
            )
            sizes = sorted(e["bytes"] for e in head["files"])
            compact_snapshot(spark, path, small_bytes=sizes[-FILES] - 1)

    failures = 0
    for seed in range(500, 500 + n_seeds):
        rng = random.Random(seed)
        windows = [
            list(range(0, N // 3)),
            list(range(N // 3, 2 * N // 3)),
            list(range(2 * N // 3, N)),
        ]
        ops = []
        compact_drawn = False
        for i, window in enumerate(windows):
            kind, pay = draw_op(
                rng, window, 20_000 + 100 * i, allow_compact=not compact_drawn
            )
            compact_drawn = compact_drawn or kind == "compact"
            ops.append((kind, pay))
        small_tail = compact_drawn

        store_name = "posix" if seed % 2 == 0 else "extcas"
        M.set_log_store(
            LocalFSLogStore() if seed % 2 == 0 else ExternalCASLogStore()
        )
        path = fresh(f"t{seed}", small_tail)
        ref = fresh(f"r{seed}", small_tail)

        # chain: C (ops[2]) runs live; its claim fires B (ops[1]);
        # B's claim fires A (ops[0]) — commit order A, B, C
        M._test_claim_interposer = _InterposeChain(
            [lambda: run_op(path, *ops[0]), lambda: run_op(path, *ops[1])]
        )
        try:
            run_op(path, *ops[2])
        finally:
            M._test_claim_interposer = None

        for kind, pay in ops:
            run_op(ref, kind, pay)

        live = sorted(map(tuple, read_version(spark, path).collect()))
        want = sorted(map(tuple, read_version(spark, ref).collect()))
        ok = live == want
        replayable = True
        for v in snapshot_versions(path):
            try:
                read_version(spark, path, v).count()
            except Exception as e:  # noqa: BLE001
                replayable = False
                print(f"  seed {seed}: version {v} unreadable: {e}")
        status = "ok" if ok and replayable else "DIVERGED"
        if status != "ok":
            failures += 1
        names = "+".join(k for k, _ in ops)
        print(f"seed {seed} [{store_name}]: {names} -> {status} "
              f"({len(snapshot_versions(path))} versions)")
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ref, ignore_errors=True)

    # ---- partitioned family: one writer per shard, OPTIMIZE WHERE in
    # the draw — disjoint shards, so every interleaving must commute
    SHARD = N // 3

    def fresh_part(name):
        path = os.path.join(work, name)
        df = spark.range(0, N).select(
            F.col("id").alias("k"),
            ((F.col("id") * 7) % 101).alias("v"),
            F.floor(F.col("id") / SHARD).cast("int").alias("shard"),
        )
        df.repartitionByRange(6, "k").write.partitionBy("shard").parquet(path)
        write_versioned_manifest(path)
        return path

    def draw_op_part(rng, i):
        kind = rng.choice(["merge", "dv", "delete", "append", "optimize"])
        if kind == "optimize":
            return kind, None
        if kind == "append":
            n = rng.randrange(1, 4)
            return kind, [(20_000 + 100 * i + j, -7, i) for j in range(n)]
        keys = rng.sample(range(i * SHARD, (i + 1) * SHARD),
                          rng.randrange(1, 5))
        if kind == "merge":
            return kind, [
                (int(k), -rng.randrange(1, 50), i) for k in keys
            ]
        return kind, [(int(k),) for k in keys]

    def run_op_part(path, i, kind, payload):
        if kind == "merge":
            merge_upsert(
                spark, path, "k",
                spark.createDataFrame(payload, "k long, v long, shard int"),
            )
        elif kind == "append":
            append_snapshot(
                spark, path,
                spark.createDataFrame(
                    payload, "k long, v long, shard int"
                ).coalesce(1),
                key_col="k",
            )
        elif kind == "dv":
            delete_rows_dv(
                spark, path, "k",
                spark.createDataFrame(payload, "k long"),
            )
        elif kind == "delete":
            delete_rows_targeted(
                spark, path, "k",
                spark.createDataFrame(payload, "k long"), commit=True,
            )
        else:
            M.rewrite_partition(spark, path, "k", {"shard": i}, n_files=1)

    for seed in range(900, 900 + n_seeds):
        rng = random.Random(seed)
        ops = [draw_op_part(rng, i) for i in range(3)]
        store_name = "posix" if seed % 2 == 0 else "extcas"
        M.set_log_store(
            LocalFSLogStore() if seed % 2 == 0 else ExternalCASLogStore()
        )
        path = fresh_part(f"p{seed}")
        ref = fresh_part(f"q{seed}")

        M._test_claim_interposer = _InterposeChain(
            [
                lambda: run_op_part(path, 0, *ops[0]),
                lambda: run_op_part(path, 1, *ops[1]),
            ]
        )
        try:
            run_op_part(path, 2, *ops[2])
        finally:
            M._test_claim_interposer = None
        for i, (kind, pay) in enumerate(ops):
            run_op_part(ref, i, kind, pay)

        live = sorted(map(tuple, read_version(spark, path).collect()))
        want = sorted(map(tuple, read_version(spark, ref).collect()))
        ok = live == want
        replayable = True
        for v in snapshot_versions(path):
            try:
                read_version(spark, path, v).count()
            except Exception as e:  # noqa: BLE001
                replayable = False
                print(f"  seed {seed}: version {v} unreadable: {e}")
        status = "ok" if ok and replayable else "DIVERGED"
        if status != "ok":
            failures += 1
        names = "+".join(k for k, _ in ops)
        print(f"seed {seed} (partitioned) [{store_name}]: {names} -> {status} "
              f"({len(snapshot_versions(path))} versions)")
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ref, ignore_errors=True)

    # ---- cross-table transaction family (r11): a raw+agg atomic
    # publish racing a concurrent single-table writer. Even seeds: the
    # writer fires INSIDE the transaction's first claim (before any
    # stage) — the txn rebases and publishes. Odd seeds: the writer
    # fires at the AGG merge's claim, AFTER raw staged — it meets the
    # in-doubt staged version, presumed-aborts the transaction after
    # the grace window, and the coordinator's publish loses; the soak
    # then RERUNS the transaction (the documented recovery) and both
    # outcomes must equal the sequential reference.
    from data_pipeline_project_spark.sinks.txn import (
        TransactionAborted,
        transaction,
    )

    M.TXN_INDOUBT_GRACE_SECS = 0.05

    def fresh_pair(tag):
        raw = os.path.join(work, f"{tag}_raw")
        agg = os.path.join(work, f"{tag}_agg")
        df = spark.range(0, N).select(
            F.col("id").alias("k"), ((F.col("id") * 7) % 101).alias("v")
        )
        write_range_clustered(df, raw, "k", FILES)
        write_versioned_manifest(raw)
        spark.createDataFrame(
            [(i, 0) for i in range(10)], "k long, v long"
        ).coalesce(1).write.parquet(agg)
        write_versioned_manifest(agg)
        return raw, agg

    def run_txn(raw, agg, seed):
        rows = [(50_000 + seed * 10 + j, -9) for j in range(3)]
        aggs = [(seed % 10, seed)]
        with transaction([raw, agg]):
            append_snapshot(
                spark, raw,
                spark.createDataFrame(rows, "k long, v long").coalesce(1),
            )
            merge_upsert(
                spark, agg, "k",
                spark.createDataFrame(aggs, "k long, v long"),
            )

    for seed in range(1300, 1300 + n_seeds):
        rng = random.Random(seed)
        wkind, wpay = draw_op(
            rng, list(range(0, N)), 30_000, allow_compact=False
        )
        raw, agg = fresh_pair(f"x{seed}")
        ref_raw, ref_agg = fresh_pair(f"y{seed}")

        fire_late = seed % 2 == 1
        state = {"claims": 0, "fired": False}

        def interpose(version, mdir):
            state["claims"] += 1
            want = 2 if fire_late else 1
            if state["fired"] or state["claims"] != want:
                return
            state["fired"] = True
            # the concurrent writer is "another process": it must not
            # see this process's active-transaction guard, or it would
            # fail loudly instead of presumed-aborting like a real peer
            saved = M._install_active_txn(None)
            try:
                run_op(raw, wkind, wpay)
            finally:
                M._install_active_txn(saved)

        M._test_claim_interposer = interpose
        reran = False
        try:
            run_txn(raw, agg, seed)
        except TransactionAborted:
            M._test_claim_interposer = None
            reran = True
            run_txn(raw, agg, seed)  # documented recovery: rerun
        finally:
            M._test_claim_interposer = None

        run_op(ref_raw, wkind, wpay)
        run_txn(ref_raw, ref_agg, seed)

        ok = True
        for live_p, want_p in ((raw, ref_raw), (agg, ref_agg)):
            live = sorted(map(tuple, read_version(spark, live_p).collect()))
            want = sorted(map(tuple, read_version(spark, want_p).collect()))
            if live != want:
                ok = False
        status = "ok" if ok else "DIVERGED"
        if not ok:
            failures += 1
        print(
            f"seed {seed} (txn-pair): writer={wkind} "
            f"{'late-abort+rerun' if fire_late else 'early-rebase'}"
            f"{' (reran)' if reran else ''} -> {status}"
        )
        for p_ in (raw, agg, ref_raw, ref_agg):
            shutil.rmtree(p_, ignore_errors=True)

    print(f"\nsoak complete: {3 * n_seeds} seeds, {failures} divergence(s)")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
