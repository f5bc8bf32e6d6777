"""Scale envelopes for the round-11 surfaces.

1. CROSS-TABLE TXN OVERHEAD: the same raw-append + agg-merge pair
   committed (a) as two independent commits and (b) inside one atomic
   transaction. The delta is the protocol cost — one marker write +
   two latest heals — and must be O(1), independent of table size
   (measured at two table scales to show flatness).

2. NDV SKETCH COMMIT COST: append commit wall with
   ``append_snapshot(..., collect_ndv=...)`` on vs off at 1x and 8x
   file sizes. The sketch is an executor-side Spark job that reads
   back the just-written file — cost scales with the ADDED bytes (the
   envelope), never the table.

3. PARTITION-EVOLUTION PRUNING: a day-era + hour-era mixed table;
   read_time_range must plan strictly fewer files than the full scan
   on both eras (counted from prune_snapshot_files), and equal the
   unpruned read + where() exactly.

Usage: python scripts/txn_scale_check.py
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    from pyspark.sql import SparkSession, functions as F

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        append_snapshot,
        append_time_partitioned,
        merge_upsert,
        prune_snapshot_files,
        read_manifest,
        read_time_range,
        read_version,
        set_partition_granularity,
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.sinks.txn import transaction

    print("pre-run loadavg:", open("/proc/loadavg").read().strip())
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("txn-scale")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="txn_scale_")

    # warm the JVM/py4j/commit paths once so the first timed sample
    # is not the session's cold start
    wpath = os.path.join(work, "warm")
    spark.range(0, 10_000).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    ).coalesce(1).write.parquet(wpath)
    write_versioned_manifest(wpath)
    append_snapshot(
        spark, wpath,
        spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ).coalesce(1),
    )

    # ---- 1. txn overhead at two table scales -------------------------
    for rows, files in ((200_000, 16), (2_000_000, 64)):
        raw_a = os.path.join(work, f"rawA{rows}")
        agg_a = os.path.join(work, f"aggA{rows}")
        raw_b = os.path.join(work, f"rawB{rows}")
        agg_b = os.path.join(work, f"aggB{rows}")
        base = spark.range(0, rows).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        aggbase = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit(0).alias("total")
        )
        for raw, agg in ((raw_a, agg_a), (raw_b, agg_b)):
            write_range_clustered(base, raw, "k", files)
            write_versioned_manifest(raw)
            aggbase.coalesce(1).write.parquet(agg)
            write_versioned_manifest(agg)

        batch = spark.range(10_000_000, 10_002_000).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ).coalesce(1)
        aggs = spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit(7).alias("total")
        )

        t0 = time.time()
        append_snapshot(spark, raw_a, batch)
        merge_upsert(spark, agg_a, "k", aggs)
        plain = time.time() - t0

        t0 = time.time()
        with transaction([raw_b, agg_b]):
            append_snapshot(spark, raw_b, batch)
            merge_upsert(spark, agg_b, "k", aggs)
        txn = time.time() - t0
        print(
            f"txn overhead @ {rows} rows/{files} files: plain={plain:.2f}s "
            f"txn={txn:.2f}s delta={txn - plain:+.2f}s"
        )

    # ---- 2. NDV sketch commit cost vs added bytes ---------------------
    for mult in (1, 8):
        path = os.path.join(work, f"ndv{mult}")
        spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
            F.lit("seed").alias("s"),
        ).coalesce(1).write.parquet(path)
        write_versioned_manifest(path)
        add = spark.range(0, 250_000 * mult).select(
            (F.col("id") + 20_000_000).alias("k"),
            (F.col("id") % 1000).alias("v"),
            F.format_string("s-%d", F.col("id") % 5000).alias("s"),
        ).coalesce(1)
        t0 = time.time()
        append_snapshot(spark, path, add, collect_ndv=False)
        off = time.time() - t0
        t0 = time.time()
        append_snapshot(spark, path, add, collect_ndv=True)
        on = time.time() - t0
        m = read_manifest(os.path.join(path, "_manifests", "latest.json"))
        added_bytes = max(f["bytes"] for f in m["files"])
        print(
            f"ndv commit cost @ {250_000 * mult} added rows "
            f"(~{added_bytes >> 20} MB file): off={off:.2f}s on={on:.2f}s "
            f"sketch={on - off:+.2f}s"
        )

    # ---- 3. era-mixed pruning -----------------------------------------
    path = os.path.join(work, "era")
    ev = spark.range(0, 43_200).select(
        F.col("id").alias("k"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(mins=(F.col("id") % 14_400).cast("int"))
        ).alias("ts"),
        (F.col("id") % 7).alias("v"),
    )
    ev = ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    ev.repartition(2, "dt").write.partitionBy("dt").parquet(path)
    write_versioned_manifest(path)
    set_partition_granularity(spark, path, "ts", "day")
    set_partition_granularity(spark, path, "ts", "hour")
    append_time_partitioned(
        spark,
        path,
        spark.range(50_000, 64_400).select(
            F.col("id").alias("k"),
            (
                F.to_timestamp(F.lit("2024-03-11 00:00:00"))
                + F.make_interval(mins=((F.col("id") - 50_000)).cast("int"))
            ).alias("ts"),
            (F.col("id") % 7).alias("v"),
        ),
    )
    m = read_manifest(os.path.join(path, "_manifests", "latest.json"))
    lo, hi = "2024-03-05 00:00:00", "2024-03-11 05:30:00"
    pruned, skipped = prune_snapshot_files(
        m, col="dt", lo="2024-03-05", hi="2024-03-11-05"
    )
    t0 = time.time()
    got = read_time_range(spark, path, lo, hi).count()
    pruned_wall = time.time() - t0
    t0 = time.time()
    want = (
        read_version(spark, path)
        .where(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") <= F.lit(hi).cast("timestamp"))
        )
        .count()
    )
    full_wall = time.time() - t0
    print(
        f"era-mixed prune: files {m['n_files']} -> {len(pruned['files'])} "
        f"(skipped {skipped}); rows {got} == {want}: {got == want}; "
        f"wall pruned={pruned_wall:.2f}s full={full_wall:.2f}s"
    )
    assert got == want

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
