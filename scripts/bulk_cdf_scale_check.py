"""Scale check: bulk-MERGE crossover and change-data-feed step cost.

Recreates SCALE_r08 §6 and §8's headline points so each round can diff
them (the recurring scale gate):

A. Bulk crossover — 4M-row / 64-file range-clustered table:
   - 2M-key uniform change batch (+100k inserts): targeted (zone-map
     copy-on-write, forced) vs bulk (one shuffle_hash anti-join +
     re-clustered rewrite). Table-scale selectivity is where bulk wins.
   - Final states compared exactly (sorted rows equal).

B. CDF step cost — same table shape, one commit per step:
   - 0.1% churn commit and 1% churn commit: the step's wall must track
     the commit's REWRITE FOOTPRINT (non-shared file bytes), not the
     table;
   - full-history read (v1 inserts + both commits).

Run solo: python scripts/bulk_cdf_scale_check.py [n_rows]
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
        merge_bulk,
        merge_upsert,
        read_version,
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    files = 64
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(TableChangesDataSource)
    work = tempfile.mkdtemp(prefix="bulk_cdf_scale_")

    def fresh(name):
        path = os.path.join(work, name)
        df = spark.range(0, n).select(
            F.col("id").alias("k"), ((F.col("id") * 7) % 101).alias("v")
        )
        write_range_clustered(df, path, "k", files)
        write_versioned_manifest(path)
        return path

    rng = random.Random(9)
    big_keys = rng.sample(range(n), n // 2)
    updates = spark.createDataFrame(
        [(k, -1) for k in big_keys]
        + [(n + i, -2) for i in range(100_000)],
        "k long, v long",
    ).repartition(32).localCheckpoint()

    print(f"rows={n} files={files} batch={len(big_keys)}+100k inserts")

    t_path = fresh("targeted")
    t0 = time.time()
    merge_upsert(spark, t_path, "k", updates, rewrite="targeted")
    t_targeted = time.time() - t0
    print(f"targeted CoW merge : {t_targeted:.1f}s")

    b_path = fresh("bulk")
    t0 = time.time()
    merge_bulk(spark, b_path, "k", updates)
    t_bulk = time.time() - t0
    print(f"bulk shuffle merge : {t_bulk:.1f}s ({t_targeted / t_bulk:.0f}x)")

    a = sorted(map(tuple, read_version(spark, t_path).collect()))
    b = sorted(map(tuple, read_version(spark, b_path).collect()))
    assert a == b, "targeted and bulk final states diverged"
    print("final states equal :", len(a), "rows")
    shutil.rmtree(t_path, ignore_errors=True)

    # ---- B. CDF step cost over commit-sized churn ----
    path = fresh("cdf")
    for frac, tag in ((0.001, "0.1%"), (0.01, "1%")):
        ks = rng.sample(range(n), int(n * frac))
        upd = spark.createDataFrame([(k, -3) for k in ks], "k long, v long")
        merge_upsert(spark, path, "k", upd)
    feed = spark.read.format("tablechanges").option("path", path)

    t0 = time.time()
    c2 = feed.option("from_version", 1).option("to_version", 2).load().count()
    s2 = time.time() - t0
    print(f"CDF step 0.1% churn: {s2:.1f}s ({c2} change rows)")

    t0 = time.time()
    c3 = feed.option("from_version", 2).option("to_version", 3).load().count()
    s3 = time.time() - t0
    print(f"CDF step 1% churn  : {s3:.1f}s ({c3} change rows)")

    t0 = time.time()
    call = feed.option("from_version", 0).option("to_version", 3).load().count()
    sall = time.time() - t0
    print(f"CDF full history   : {sall:.1f}s ({call} change rows)")

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
