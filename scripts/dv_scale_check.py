"""Scale check: deletion-vector DELETE vs copy-on-write DELETE.

Shape: 4M rows / 32 range-clustered files; 5k keys scattered uniformly
so EVERY file matches (the worst case for copy-on-write — all 32 files
rewritten — and the motivating case for merge-on-read). Measures:

- delete wall: delete_rows_dv vs delete_rows_targeted on identical
  twin tables;
- the read tax: full-scan wall clean vs after 1 and after 8 stacked
  vectors (the anti-join price merge-on-read pays until compaction);
- materialization: rewrite_table wall (pays the rewrite ONCE for all
  stacked vectors).

Run solo: python scripts/dv_scale_check.py [n_rows]
"""

import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    from pyspark.sql import SparkSession, functions as F

    from data_pipeline_project_spark.sinks.layout import write_range_clustered
    from data_pipeline_project_spark.sinks.manifest import (
        delete_rows_dv,
        delete_rows_targeted,
        read_version,
        rewrite_table,
        write_versioned_manifest,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("dv-scale")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="dv_scale_")
    rng = random.Random(8)

    def build(path):
        df = spark.range(0, n).select(
            F.col("id").alias("k"), ((F.col("id") * 7) % 100_003).alias("v")
        )
        write_range_clustered(df, path, "k", 32)
        write_versioned_manifest(path)

    t_dv, t_cow = os.path.join(work, "dv"), os.path.join(work, "cow")
    try:
        build(t_dv)
        build(t_cow)
        keys = rng.sample(range(0, n), 5_000)  # uniform: every file matches
        kdf = lambda: spark.createDataFrame([(k,) for k in keys], "k long")

        t0 = time.monotonic()
        res_dv = delete_rows_dv(spark, t_dv, "k", kdf())
        w_dv = time.monotonic() - t0
        t0 = time.monotonic()
        res_cow = delete_rows_targeted(spark, t_cow, "k", kdf())
        write_versioned_manifest(t_cow)
        w_cow = time.monotonic() - t0
        assert res_dv["rows_deleted"] == res_cow["rows_deleted"] == 5_000

        a = read_version(spark, t_dv).agg(F.sum("v"), F.count("v")).collect()
        b = read_version(spark, t_cow).agg(F.sum("v"), F.count("v")).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], "divergence"

        def scan(path):
            t0 = time.monotonic()
            read_version(spark, path).agg(F.sum("v")).collect()
            return time.monotonic() - t0

        scan_1dv = scan(t_dv)
        for i in range(7):  # stack 7 more vectors
            more = rng.sample(range(0, n), 2_000)
            delete_rows_dv(
                spark, t_dv, "k",
                spark.createDataFrame([(k,) for k in more], "k long"),
            )
        scan_8dv = scan(t_dv)
        scan_cow = scan(t_cow)

        t0 = time.monotonic()
        rewrite_table(spark, t_dv, "k")
        w_mat = time.monotonic() - t0
        scan_mat = scan(t_dv)

        print(
            f"\nrows={n} files=32 churn=5k uniform (all files match)\n"
            f"delete dv         : {w_dv:.2f}s ({res_dv['rows_deleted']} rows, 0 files rewritten)\n"
            f"delete cow        : {w_cow:.2f}s ({res_cow['files_rewritten']} files rewritten)\n"
            f"scan clean (cow)  : {scan_cow:.2f}s\n"
            f"scan 1 vector     : {scan_1dv:.2f}s\n"
            f"scan 8 vectors    : {scan_8dv:.2f}s\n"
            f"rewrite_table     : {w_mat:.2f}s (materializes all vectors once)\n"
            f"scan materialized : {scan_mat:.2f}s"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
