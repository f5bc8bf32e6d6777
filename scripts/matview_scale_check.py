"""Scale check: materialized-view maintenance cost vs recomputation.

Two churn shapes against a 4M-row source (400 contiguous key-range
groups, range-clustered on the row key):

A. DESIGN CASE — range-local churn: 10k changed keys inside a 200k-key
   span (~20 groups, ~2/32 files). The merge stays targeted, the feed
   step is O(churn), and refresh cost must sit far under a full
   rebuild.

B. WORST CASE — uniform churn: 500k keys spread over the whole key
   space. The merge auto-flips to the bulk plan (every file rewritten),
   so the CDF step's footprint is the WHOLE table; refresh survives by
   sharding the feed diff, but this shape is documented as the case
   where rebuilding the view outright is competitive.

Also times the payoff side: reading the view vs running the GROUP BY
over the source.

Run solo: python scripts/matview_scale_check.py [n_rows]
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
        merge_upsert,
        write_versioned_manifest,
    )
    from data_pipeline_project_spark.sinks.matview import (
        create_agg_view,
        read_agg_view,
        refresh_agg_view,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    group_span = 10_000  # g = k // span -> contiguous groups
    rng = random.Random(8)

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("matview-scale")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def build_source(src):
        df = spark.range(0, n).select(
            F.col("id").alias("k"),
            (F.col("id") / group_span).cast("long").alias("g"),
            F.when(F.col("id") % 97 == 0, F.lit(None))
            .otherwise((F.col("id") * 7) % 100_003)
            .cast("long")
            .alias("v"),
        )
        write_range_clustered(df, src, "k", 32)
        write_versioned_manifest(src)

    def churn_rows(keys):
        return [
            (k, k // group_span, rng.randrange(0, 100_003)) for k in keys
        ]

    def scenario(tag, keys, work, modes):
        src = os.path.join(work, f"src_{tag}")
        build_source(src)
        views = {m: os.path.join(work, f"{tag}_{m}") for m in modes}
        t0 = time.monotonic()
        create_agg_view(spark, src, views[modes[0]], ["g"], "v")
        t_create = time.monotonic() - t0
        create_agg_view(spark, src, views[modes[1]], ["g"], "v")

        t0 = time.monotonic()
        merge_upsert(
            spark, src, "k",
            spark.createDataFrame(churn_rows(keys), "k long, g long, v long"),
        )
        t_merge = time.monotonic() - t0

        walls, results = {}, {}
        for mode, view in views.items():
            t0 = time.monotonic()
            results[mode] = refresh_agg_view(spark, view, mode=mode)
            walls[mode] = time.monotonic() - t0

        a = sorted(map(tuple, read_agg_view(spark, views[modes[0]]).collect()))
        b = sorted(map(tuple, read_agg_view(spark, views[modes[1]]).collect()))
        assert a == b, f"{tag}: modes diverged"

        t0 = time.monotonic()
        read_agg_view(spark, views[modes[0]]).collect()
        t_view = time.monotonic() - t0
        t0 = time.monotonic()
        spark.read.parquet(src).groupBy("g").agg(
            F.count("v"), F.sum("v"), F.min("v"), F.max("v"), F.avg("v")
        ).collect()
        t_direct = time.monotonic() - t0

        print(
            f"\n[{tag}] rows={n} churn={len(keys)} "
            f"touched_groups={results[modes[0]]['groups_changed']}\n"
            f"  full build        : {t_create:.2f}s\n"
            f"  source MERGE      : {t_merge:.2f}s\n"
            + "".join(
                f"  refresh {m:10}: {walls[m]:.2f}s"
                f" (resolved {results[m]['mode']})\n" for m in modes
            )
            + f"  read view         : {t_view:.2f}s\n"
            f"  direct GROUP BY   : {t_direct:.2f}s"
        )

    work = tempfile.mkdtemp(prefix="matview_scale_")
    try:
        local = rng.sample(range(0, 200_000), 10_000)  # ~20 groups, ~2 files
        scenario("range-local", local, work, ("recompute", "delta"))
        uniform = rng.sample(range(0, n + n // 10), 500_000)  # bulk plan
        scenario("uniform-bulk", uniform, work, ("delta", "auto"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
