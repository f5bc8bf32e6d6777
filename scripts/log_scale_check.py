"""Scale check for snapshot-log compaction and RESTORE.

A. Log compaction — the claim: an uncompacted log on a wide table
   stores one FULL file list per commit (O(versions x files) bytes);
   compact_log shrinks it to O(versions x churn) plus keyframes. A
   400-file table takes 40 one-file appends; measured: log bytes
   before/after, compaction wall, and the read-path tax — time-travel
   walls to a keyframe version vs the deepest delta-chain version
   (the chain is bounded by keep_full_every, so the delta read should
   cost a handful of extra small-JSON loads, not a re-listing).

B. RESTORE — the claim: rollback is pure metadata (file entries taken
   verbatim from the target manifest, ZERO parquet footer reads at any
   width). read_metadata is monkeypatch-counted through a restore on
   the 400-file table; the wall is the two rename passes + one JSON
   commit.

Run solo: python scripts/log_scale_check.py
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession, functions as F

    from data_pipeline_project_spark.sinks import manifest as M

    print("pre-run loadavg:", open("/proc/loadavg").read().strip())
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("log-scale")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="log_scale_")
    path = os.path.join(work, "t")

    n_files, n_appends = 400, 40
    print(f"[log] {n_files}-file table, {n_appends} one-file appends...")
    df = spark.range(0, n_files * 50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    df.repartition(n_files).write.parquet(path)
    M.write_versioned_manifest(path)
    for i in range(n_appends):
        M.append_snapshot(
            spark,
            path,
            spark.range(10**6 + i * 10, 10**6 + i * 10 + 10).select(
                F.col("id").alias("k"), F.lit(-1).alias("v")
            ),
        )
    versions = M.snapshot_versions(path)

    def read_wall(v):
        t0 = time.monotonic()
        n = M.read_version(spark, path, v).count()
        return time.monotonic() - t0, n

    # pre-compaction read walls (warm the reader first)
    read_wall(versions[-1])
    w_old_full, n_old = read_wall(versions[5])

    t0 = time.monotonic()
    res = M.compact_log(path, keep_full_every=16, keep_recent=2)
    w_compact = time.monotonic() - t0
    print(
        f"[log] compact_log: {res['compacted']}/{res['versions']} versions "
        f"delta-encoded in {w_compact:.2f}s; log bytes "
        f"{res['log_bytes_before']:,} -> {res['log_bytes_after']:,} "
        f"({res['log_bytes_before'] / max(1, res['log_bytes_after']):.1f}x)"
    )

    # deepest chain = the version just before a keyframe
    mdir = os.path.join(path, "_manifests")
    deltas = [
        v for v in versions
        if "files_delta" in json.load(open(os.path.join(mdir, f"v{v}.json")))
    ]
    deep = max(deltas)
    w_deep, n_deep = read_wall(deep)
    w_key, _ = read_wall(versions[0])
    print(
        f"[log] time travel: keyframe v{versions[0]} {w_key:.2f}s, "
        f"deep-chain v{deep} {w_deep:.2f}s "
        f"(pre-compaction old-version read {w_old_full:.2f}s)"
    )
    assert n_deep > 0 and n_old > 0

    # B. RESTORE: zero footer reads, metadata-only wall
    calls = []
    real = pq.read_metadata
    pq.read_metadata = lambda f, *a, **k: (calls.append(f), real(f, *a, **k))[1]
    try:
        t0 = time.monotonic()
        r = M.restore_table(path, version=versions[len(versions) // 2])
        w_restore = time.monotonic() - t0
    finally:
        pq.read_metadata = real
    print(
        f"[restore] to v{r['restored_to']} ({r['n_files']} files): "
        f"{w_restore:.2f}s wall, {len(calls)} footer reads, "
        f"{r['tombstoned']} tombstoned, {r['untombstoned']} un-tombstoned"
    )
    assert calls == [], "restore must not read parquet footers"

    # C. stats-in-the-log planning: zone maps from the manifest vs the
    # pyarrow footer reads of a stats-stripped copy of the same head,
    # value-identical — the claim is that targeted-writer PLANNING
    # stops scaling with file count
    head = M.read_manifest(os.path.join(mdir, "latest.json"))
    t0 = time.monotonic()
    fast, _, _b = M._snapshot_zone_maps(head, "k")
    w_fast = time.monotonic() - t0
    stripped = dict(head)
    stripped["files"] = [
        {k: v for k, v in f.items() if k != "stats"} for f in head["files"]
    ]
    t0 = time.monotonic()
    slow, _, _b2 = M._snapshot_zone_maps(stripped, "k")
    w_slow = time.monotonic() - t0
    assert fast == slow, "stats-path zone maps diverge from the footers"
    print(
        f"[stats] zone maps for {len(fast)} files: log path {w_fast*1e3:.0f}ms"
        f" vs footer reads {w_slow*1e3:.0f}ms "
        f"({w_slow / max(w_fast, 1e-9):.0f}x) — value-identical"
    )

    print("post-run loadavg:", open("/proc/loadavg").read().strip())
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
