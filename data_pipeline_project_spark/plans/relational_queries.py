"""Relational-completeness queries (SURVEY.md §7 M4).

The reference implements none of these (SURVEY.md §2.6 gap list); they
are required engine surface for a complete analytics engine and are all
pure Catalyst-optimized DataFrame plans — broadcast hints where the dim
side is small, decimal-cast sums where cross-engine float summation
order would break value-hash equality, explicit tie-breaks wherever a
LIMIT or window rank could otherwise be nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_project_spark.functions.positions import with_row_position
from data_pipeline_project_spark.plans.registry import register
from data_pipeline_project_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# --- TPC-H-style aggregates -------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate. Decimal-cast sums are
    exact regardless of partial-aggregation order, so results are
    engine-independent; the final double cast keeps the output dtype
    hash-identical to DuckDB's (which renders decimal sums as float64).
    The filter pushes to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,6)"
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(dec)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(dec)).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey, CAST(revenue AS DOUBLE) AS revenue, o_orderdate FROM (
    SELECT l.l_orderkey,
           sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
)
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k.
    customer (filtered) broadcasts; orderkey tie-break makes the LIMIT
    deterministic. TakeOrderedAndProject avoids a global sort."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", F.col("revenue").cast("double").alias("revenue"), "o_orderdate")
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE)
           AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. All dims broadcast (region/
    nation/supplier/customer are tiny relative to the facts at every
    SF); only orders⋈lineitem shuffles, on the join key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --- join family ------------------------------------------------------------

@register(
    "join_broadcast_dim",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner fact⋈dim with an explicit broadcast hint — no shuffle of
    the fact side at any scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total_price"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders
    (count(col) skips the null-extended rows)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi_anti",
    oracle="""
SELECT 'semi' AS rel, c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
UNION ALL
SELECT 'anti' AS rel, c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (customers with >=1 finished order) and left-anti
    (customers with no pending 'P' order) in one tagged union. Semi and
    anti joins never duplicate or widen rows — the probe side streams.
    The anti side filters on 'P' rather than "no orders at all", which
    is empty in this data and would make the check vacuous."""
    c = _t(spark, sf_dir, "customer")
    of = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    op = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    semi = (
        c.join(of, c.c_custkey == of.o_custkey, "left_semi")
        .select(F.lit("semi").alias("rel"), "c_custkey", "c_name")
    )
    anti = (
        c.join(op, c.c_custkey == op.o_custkey, "left_anti")
        .select(F.lit("anti").alias("rel"), "c_custkey", "c_name")
    )
    return semi.unionAll(anti)


@register(
    "join_full_outer",
    oracle="""
SELECT coalesce(s.s_nationkey, c.c_nationkey) AS nationkey,
       count(DISTINCT s.s_suppkey) AS n_suppliers,
       count(DISTINCT c.c_custkey) AS n_customers
FROM supplier s FULL OUTER JOIN customer c ON s.s_nationkey = c.c_nationkey
GROUP BY coalesce(s.s_nationkey, c.c_nationkey)
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join on a non-unique key + distinct counts."""
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    return (
        s.join(c, s.s_nationkey == c.c_nationkey, "full_outer")
        .select(
            F.coalesce(s.s_nationkey, c.c_nationkey).alias("nationkey"),
            "s_suppkey",
            "c_custkey",
        )
        .groupBy("nationkey")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


# --- window functions -------------------------------------------------------

@register(
    "window_topk_per_group",
    oracle="""
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           RANK() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC) AS price_dense_rank
    FROM orders
) WHERE rn <= 3
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number, with rank/dense_rank
    beside it (ties share a rank, so the un-tiebroken window is still
    deterministic). One shuffle on the group key serves all three
    ranking functions — the standard per-group top-k at scale, no
    global sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wt = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(wt).alias("price_rank"),
            F.dense_rank().over(wt).alias("price_dense_rank"),
        )
        .where(F.col("rn") <= 3)
    )


# Not driver-registered (slot ceded in round 4 to the hash-checkable
# training_shard_assignment / similarity_topk_ivf_fullprobe rows):
# frame-window machinery stays driver-checked inside asof_join_last_click
# (rowsBetween unboundedPreceding window) and lag/lead inside
# sessionization; this query's own oracle parity is pinned in
# tests/test_queries_vs_duckdb.py::test_deregistered_queries_still_match.
WINDOW_RUNNING_SUM_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       lag(o_totalprice)  OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_price,
       lead(o_totalprice) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS next_price
FROM orders
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + lag/lead over each customer's order history —
    explicit ROWS frame and full tie-break (orderdate alone is not a
    total order; a frame over a partial order is nondeterministic).
    All three window functions share one shuffle on the partition key.
    (lag/lead over raw event time is exercised inside sessionization.)"""
    o = _t(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
        F.lag("o_totalprice").over(wo).alias("prev_price"),
        F.lead("o_totalprice").over(wo).alias("next_price"),
    )


# --- sorts / limits / set ops ----------------------------------------------
# (Global ORDER BY + LIMIT → TakeOrderedAndProject is exercised by
# q3_shipping_priority / q10_returned_items.)


@register(
    "set_union_intersect_except",
    oracle="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     with_f   AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'),
     u AS (SELECT c_custkey FROM building UNION SELECT c_custkey FROM with_f),
     i AS (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM with_f),
     e AS (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM with_f)
SELECT 'union' AS op, count(*) AS n FROM u
UNION ALL SELECT 'intersect', count(*) FROM i
UNION ALL SELECT 'except', count(*) FROM e
""",
)
def set_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except (distinct set semantics) summarized
    as counts so the result is scale-stable.

    r13 opt: the redundant .distinct() on the already-distinct with_f
    side is gone (a full extra exchange for a no-op) — paired A/B
    0.78 -> 0.65 s median. Persisting the two key sets was ALSO tried
    (the three ops re-scan each side) and measured SLOWER (0.94 s):
    at these sizes cache materialization costs more than the repeated
    pushed-down scans, so the scans stay.

    EXCEPT is ``DataFrame.subtract`` (SQL EXCEPT DISTINCT): Spark
    rewrites it into a distinct + null-safe LEFT ANTI hash join (keys
    ``coalesce(k, 0), isnull(k)``), so there is no sort-based
    replicate-rows Generate (exceptAll's plan), and a NULL key on both
    sides is removed as SQL EXCEPT removes it. A plain equi anti join
    (``k = k``) never matches NULL and would keep it."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_f = (
        o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    u = building.union(with_f).distinct()
    i = building.intersect(with_f)
    e = building.subtract(with_f)
    return (
        u.agg(F.count(F.lit(1)).alias("n")).select(F.lit("union").alias("op"), "n")
        .unionAll(i.agg(F.count(F.lit(1)).alias("n")).select(F.lit("intersect").alias("op"), "n"))
        .unionAll(e.agg(F.count(F.lit(1)).alias("n")).select(F.lit("except").alias("op"), "n"))
    )


# --- grouping sets ----------------------------------------------------------

@register(
    "rollup_revenue",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals incl. grand total (null-filled
    grouping columns)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double").alias("total_price"),
        F.count(F.lit(1)).alias("n"),
    )


# --- distinct / conditional / pivot -----------------------------------------

# Deregistered in round 6 second swap (slot ceded to the corpus tier);
# full oracle parity continues via tests/conftest.py EXTRA_ORACLE_QUERIES.
PIVOT_EVENT_VALUES_ORACLE = """
SELECT user_id,
       round(avg(CASE WHEN event_type = 'click'    THEN value END), 6) AS click_avg,
       round(avg(CASE WHEN event_type = 'view'     THEN value END), 6) AS view_avg,
       round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase_avg
FROM events GROUP BY user_id
"""


def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with an explicit value list (single-pass
    conditional aggregation; no second job to discover pivot values)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 6).alias("click_avg"),
        F.round(F.avg(F.when(F.col("event_type") == "view", F.col("value"))), 6).alias("view_avg"),
        F.round(F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 6).alias(
            "purchase_avg"
        ),
    )


@register(
    "value_bucket_stats",
    oracle="""
SELECT CASE WHEN value < 10 THEN 'low'
            WHEN value < 100 THEN 'mid'
            ELSE 'high' END AS bucket,
       count(*) AS n,
       round(avg(value), 6) AS avg_value,
       round(quantile_cont(value, 0.5), 6) AS median_value,
       round(quantile_cont(value, 0.95), 6) AS p95_value
FROM events GROUP BY 1
""",
)
def value_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + exact percentiles per bucket in one agg.
    Spark's percentile() uses the same continuous-interpolation
    definition as DuckDB's quantile_cont, so the exact path is
    oracle-checkable (approx_percentile is the sketch alternative at
    scale, rows-only like approx_distinct_sketch)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 10, "low").when(F.col("value") < 100, "mid").otherwise("high")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
    )


# --- scalar function library ------------------------------------------------

SCALAR_FUNCTIONS_ORACLE = """
SELECT o_orderkey,
       upper(o_orderpriority) AS prio_upper,
       length(o_orderpriority) AS prio_len,
       substring(o_orderpriority, 1, 1) AS prio_code,
       replace(o_orderpriority, ' ', '_') AS prio_snake,
       concat(o_orderstatus, ':', o_orderpriority) AS status_prio,
       CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1 ELSE 0 END AS is_urgent,
       split_part(o_orderpriority, '-', 1) AS prio_rank,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INT)
           AS days_to_2002
FROM orders
"""


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function library — string (upper/length/substr/replace/
    concat/LIKE/split) and date (year/month/date_trunc/datediff) in one
    per-row pass over orders; all JVM-side codegen, no UDFs.
    (Consolidates the former string_functions + date_functions slots.)"""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.replace(F.col("o_orderpriority"), F.lit(" "), F.lit("_")).alias("prio_snake"),
        F.concat_ws(":", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.when(F.col("o_orderpriority").like("%URGENT%"), 1).otherwise(0).alias("is_urgent"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1)).alias("prio_rank"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_to_2002"),
    )


JSON_EXTRACTION_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
"""


def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events.props string column
    (get_json_object — no schema needed, JVM-side)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


# --- preprocessing equivalents (reference P1-P10) ---------------------------

# Deregistered in round 6 (driver board slot ceded to the corpus tier);
# full oracle parity continues via tests/conftest.py EXTRA_ORACLE_QUERIES.
PREPROCESS_RENAME_ORACLE = """
SELECT event_id AS record_id, ts AS event_time, value AS reading
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
"""


def preprocess_rename_project_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P8 — the Kaggle preprocessor's rename -> project -> dropna
    (preprocessing_kaggle_dataset.py:25-46) as pure projections."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumnsRenamed({"event_id": "record_id", "ts": "event_time", "value": "reading"})
        .select("record_id", "event_time", "reading")
        .na.drop("any", subset=["event_time", "reading"])
    )


# Deregistered in round 6 (driver board slot ceded to the corpus tier);
# full oracle parity continues via tests/conftest.py EXTRA_ORACLE_QUERIES.
ROUND_ROBIN_KEY_ORACLE = """
SELECT event_id,
       CASE (ROW_NUMBER() OVER (ORDER BY event_id) - 1) % 3
            WHEN 0 THEN 'Kaggle_Weather_01'
            WHEN 1 THEN 'Kaggle_Weather_02'
            ELSE 'Kaggle_Weather_03' END AS sensor_id
FROM events
"""


def round_robin_synthetic_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — round-robin synthetic key by deterministic row position
    (preprocessing_kaggle_dataset.py:36; order pinned to event_id since
    'file order' is not a Spark-scale concept). Row position comes from
    the bucketed ``with_row_position`` (range buckets + per-bucket
    window), not a partition-less global window — the global window
    collapses the table into one task at scale."""
    import os

    from data_pipeline_project_spark.functions.positions import parquet_key_stats

    ev = _t(spark, sf_dir, "events").select("event_id")
    ids = ["Kaggle_Weather_01", "Kaggle_Weather_02", "Kaggle_Weather_03"]
    # persist=False: a pruned parquet scan is deterministic, so extra
    # reads rescan one column instead of caching the table. key_stats
    # from parquet footers (driver-side ms) removes the min/max Spark
    # job entirely; None on any stats gap falls back to that job.
    stats = parquet_key_stats(os.path.join(sf_dir, "events.parquet"), "event_id")
    pos = with_row_position(
        ev, "event_id", col_name="_rn", persist=False, key_stats=stats
    )
    sensor = F.element_at(
        F.array(*[F.lit(i) for i in ids]), ((F.col("_rn") - 1) % 3 + 1).cast("int")
    )
    return pos.select("event_id", sensor.alias("sensor_id"))


# --- subqueries -------------------------------------------------------------

@register(
    "subquery_exists_correlated",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_totalprice > 300000
)
""",
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — planned by Catalyst as a left-semi join on
    the correlation key (same physical shape as join_semi, proving the
    subquery surface decorrelates instead of re-executing per row)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cust.createOrReplaceTempView("v_customer")
    orders.createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM v_customer c
        WHERE EXISTS (
            SELECT 1 FROM v_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 300000
        )
        """
    )


# Not driver-registered (round-4 slot swap, see WINDOW_RUNNING_SUM_ORACLE
# note): Catalyst rewrites IN to the same left-semi machinery the
# driver-checked subquery_exists_correlated row exercises; oracle parity
# pinned in tests/test_queries_vs_duckdb.py.
SUBQUERY_IN_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
"""


def subquery_in_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN-subquery — left-semi join after Catalyst's
    rewrite; the segment filter pushes into the inner scan."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    orders.createOrReplaceTempView("v_orders2")
    cust.createOrReplaceTempView("v_customer2")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM v_orders2
        WHERE o_custkey IN (
            SELECT c_custkey FROM v_customer2 WHERE c_mktsegment = 'BUILDING'
        )
        """
    )


# Deregistered in round 6 (slot ceded to watermark_late_events; the
# other two subquery rows keep correlated-subquery coverage on the
# board); full oracle parity continues via EXTRA_ORACLE_QUERIES.
SUBQUERY_SCALAR_AVG_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
"""


def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery — the single-row aggregate is computed once and
    broadcast into the filter (no per-row re-evaluation). Float avg is
    safe here as a filter threshold: rows near the 2x-avg boundary are
    far sparser than double-summation divergence."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_orders3")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM v_orders3
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM v_orders3)
        """
    )


@register(
    "grouping_sets_revenue",
    oracle="""
SELECT n_name, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority), ())
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS covering every subset of the two dims —
    semantically CUBE(n_name, o_orderpriority), spelled as sets so the
    general mechanism (and the grand-total () set) is exercised; all
    groupings aggregate in one expand+hash-agg pass, not four scans."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders.createOrReplaceTempView("v_orders4")
    cust.createOrReplaceTempView("v_customer4")
    nation.createOrReplaceTempView("v_nation4")
    return spark.sql(
        """
        SELECT n_name, o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM v_orders4
        JOIN v_customer4 ON o_custkey = c_custkey
        JOIN v_nation4 ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority), ())
        """
    )


@register(
    "approx_distinct_accuracy",
    oracle="""
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_custkeys,
       TRUE AS approx_within_bounds
FROM orders GROUP BY o_orderpriority
""",
)
def approx_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per order priority — the
    sketch path a 100 TB engine uses when exact distinct's shuffle is
    the bottleneck. HLL register values are not cross-engine
    reproducible, so the driver-checkable surface is the ACCURACY
    CONTRACT: the exact distinct plus a Spark-computed boolean that the
    estimate lands within 5% of it (rsd=0.02, so 5% is comfortably
    outside the sketch's documented error); the oracle supplies exact
    counts and literal TRUE. Every output column is deterministic and
    hash-checked; the tighter 2% error is additionally pinned in
    tests/test_llmops.py::test_approx_distinct_within_tolerance.

    r13 opt: mixing count_distinct with approx_count_distinct made the
    distinct-rewrite plan evaluate partial_approx_count_distinct BELOW
    the (priority, custkey) grouping — every stage and exchange of the
    chain carried the HLL's 410-register partial buffer as 410 long
    columns PER GROUP ROW (412-wide rows in the before-plan, ~3.3 KB
    per distinct pair). HLL++ registers depend only on the SET of
    values — duplicates hash to the same register update — so
    deduplicating (priority, custkey) first (narrow 2-column rows,
    map-side partial count) and sketching the deduped keys in the
    final tiny aggregate yields bit-identical outputs; the 410-long
    buffer now exists only in the last per-partition merge (rows =
    groups x partitions). Paired A/B 1.43 -> 0.63 s median."""
    orders = _t(spark, sf_dir, "orders")
    # a (priority, NULL) pair survives the dedup, so every priority
    # group is emitted; count(o_custkey) and the HLL both skip it, as
    # COUNT(DISTINCT o_custkey) does (an all-NULL group gives 0, TRUE)
    pairs = orders.groupBy("o_orderpriority", "o_custkey").agg(
        F.lit(1).alias("_one")
    )
    n = F.count("o_custkey")
    return pairs.groupBy("o_orderpriority").agg(
        n.alias("exact_custkeys"),
        (
            F.abs(F.approx_count_distinct("o_custkey", 0.02) - n)
            <= n * F.lit(0.05)
        ).alias("approx_within_bounds"),
    )


@register(
    "subquery_correlated_agg",
    oracle="""
WITH tot AS (
    SELECT c_nationkey, o_custkey,
           sum(CAST(o_totalprice AS DECIMAL(38,6))) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, o_custkey
)
SELECT c_nationkey, o_custkey, CAST(total AS DOUBLE) AS total
FROM tot t1
WHERE total = (SELECT max(total) FROM tot t2
               WHERE t2.c_nationkey = t1.c_nationkey)
""",
)
def subquery_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery (TPC-H Q2/Q17 shape): per nation,
    the customer(s) with the maximum order total. The ORACLE keeps the
    correlated-subquery SQL; Spark-side this is executed as a window
    max over ONE pass of the per-customer aggregate (r13 — Catalyst's
    decorrelation computed the orders-join-customer aggregate TWICE:
    once for the outer t1 rows and once for the per-nation max; the
    window form is row-for-row equivalent — `total = max(total) OVER
    nation` keeps exactly the rows the correlated predicate keeps,
    ties included — and reuses the aggregate's exchange for the
    window, so the whole query is one join + one shuffle lighter)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    tot = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("total")
        )
    )
    w = Window.partitionBy("c_nationkey")
    return (
        # null-nation guard (r13 advice): the correlated predicate
        # t2.c_nationkey = t1.c_nationkey drops NULL-nation rows
        # (NULL = NULL is not true), while partitionBy groups NULLs
        # into one partition and would keep their max rows. TPC-H
        # nationkeys are non-null, so this is a no-op on the fixture —
        # it pins the rewrite to the subquery's semantics on ANY input.
        tot.where(F.col("c_nationkey").isNotNull())
        .withColumn("_mx", F.max("total").over(w))
        .where(F.col("total") == F.col("_mx"))
        .select(
            "c_nationkey",
            "o_custkey",
            F.col("total").cast("double").alias("total"),
        )
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, CAST(revenue AS DOUBLE) AS revenue, c_acctbal FROM (
    SELECT c_custkey, c_name,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS revenue,
           c_acctbal
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
)
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    The returnflag filter pushes to the lineitem scan; orders/customer
    broadcast against the big fact; the global top-20 is a
    TakeOrderedAndProject (no full sort), tie-broken on c_custkey for
    determinism."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(F.sum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", F.col("revenue").cast("double").alias("revenue"), "c_acctbal")
    )


# Deregistered in round 8 (slot ceded to table_checksum_digest: this
# query returns ONE row per distinct prop key — 3 at every SF — so its
# driver-board hash signal was minimal, while the 64-bucket digest both
# hashes harder and promotes the anti-entropy tier onto the board).
# Full oracle parity continues via tests/conftest.py
# EXTRA_ORACLE_QUERIES.
MAP_EXPLODE_PROPS_ORACLE = """
SELECT k.key AS prop_key,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.' || k.key) AS BIGINT)) AS BIGINT) AS total
FROM events, unnest(json_keys(props::JSON)) AS k(key)
GROUP BY 1
"""


def map_explode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props JSON -> MapType -> explode -> per-key aggregate
    (SURVEY §1.3's map-typed surface): schema-on-read with from_json,
    entries exploded JVM-side, one shuffle on the key."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.select(F.explode(m).alias("prop_key", "v"))
        .groupBy("prop_key")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("total"))
    )


# Round-9 registry swap: q14_promo_revenue (1 row — the weakest
# value-hash signal on the board) ceded its driver slot to
# stat_correlations (3 groups x 8 nontrivial float statistics). Full
# oracle parity continues via tests/conftest.py EXTRA_ORACLE_QUERIES.
Q14_PROMO_REVENUE_ORACLE = """
SELECT round(
    100.0 * sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                     ELSE 0 END)
    / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 6)
    AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact-dim join —
    date range pushes to the lineitem scan, part broadcasts, decimal
    sums keep the ratio engine-exact."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,6)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6).alias("promo_revenue_pct")
        )
    )


# Not driver-registered (the 50-slot registry is full): SCD2 merge —
# oracle parity pinned in tests/test_queries_vs_duckdb.py::
# test_deregistered_queries_still_match; the generic operator is
# operators/scd.scd2_merge with its own unit coverage in
# tests/test_scd.py.
SCD2_ORACLE = """
WITH touched AS (SELECT DISTINCT o_custkey FROM orders),
base AS (
    SELECT c_custkey, 'NONE' AS prio, TIMESTAMP '1990-01-01' AS _ts,
           0 AS _src, NULL::BIGINT AS _o
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM touched)
),
chg AS (
    SELECT o_custkey AS c_custkey, o_orderpriority AS prio,
           CAST(o_orderdate AS TIMESTAMP) AS _ts, 1 AS _src, o_orderkey AS _o
    FROM orders
),
seq AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
lagged AS (
    SELECT *, lag(prio) OVER (PARTITION BY c_custkey
                              ORDER BY _ts, _src, _o) AS _prev
    FROM seq
),
dedup AS (SELECT * FROM lagged WHERE _prev IS DISTINCT FROM prio),
versioned AS (
    SELECT c_custkey, prio, _ts AS valid_from,
           lead(_ts) OVER (PARTITION BY c_custkey
                           ORDER BY _ts, _src, _o) AS valid_to
    FROM dedup
),
untouched AS (
    SELECT c_custkey, 'NONE' AS prio, TIMESTAMP '1990-01-01' AS valid_from,
           NULL::TIMESTAMP AS valid_to
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM touched)
)
SELECT * FROM versioned UNION ALL SELECT * FROM untouched
"""


def scd2_customer_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge exercised on driver data: customers start as one open
    'NONE' version; each order is a CDC change of the customer's
    priority at its order date (orderkey tiebreak). Output is the full
    validity-interval history — consecutive same-priority orders
    collapse, each key's last version stays open. See operators/scd.py
    for the one-shuffle plan shape."""
    from data_pipeline_project_spark.operators.scd import scd2_merge

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dim = cust.select(
        "c_custkey",
        F.lit("NONE").alias("prio"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("timestamp").alias("change_ts"),
        "o_orderkey",
    )
    return scd2_merge(
        dim, changes,
        key_col="c_custkey", attr_cols=["prio"], change_ts_col="change_ts",
        order_cols=["o_orderkey"],
    )


# Not driver-registered (50-slot window full): RANGE-interval frame —
# oracle parity via test_deregistered_queries_still_match. ROWS frames
# are driver-checked inside asof_join_last_click; this pins the
# value-based frame variant (peers included by ORDER-BY value distance,
# not row position).
WINDOW_RANGE_FRAME_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
            PARTITION BY o_custkey
            ORDER BY epoch(o_orderdate)
            RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_30d_total,
       count(*) OVER (
            PARTITION BY o_custkey
            ORDER BY epoch(o_orderdate)
            RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS trailing_30d_orders
FROM orders
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day totals per customer via a RANGE frame: the frame
    is bounded by ORDER-BY-value distance (epoch seconds), so same-day
    orders are peers and always aggregate together — semantics a ROWS
    frame cannot express. One shuffle on the partition key, both
    aggregates share the frame."""
    from data_pipeline_project_spark.operators.temporal import _epoch_us

    o = _t(spark, sf_dir, "orders")
    # epoch SECONDS on both sides (oracle uses epoch()); _epoch_us is
    # the NTZ-safe micros helper, integer-divided down.
    w = (
        Window.partitionBy("o_custkey")
        .orderBy((_epoch_us(F.col("o_orderdate")) / F.lit(1_000_000)).cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_total"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


# Not driver-registered: referential-integrity audit — oracle parity
# via test_deregistered_queries_still_match.
REFERENTIAL_AUDIT_ORACLE = """
SELECT 'lineitem.l_orderkey -> orders' AS fk, count(*) AS n_rows,
       CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM lineitem l
UNION ALL
SELECT 'orders.o_custkey -> customer', count(*),
       CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey)
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders o
UNION ALL
SELECT 'customer.c_nationkey -> nation', count(*),
       CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM nation n
                                      WHERE n.n_nationkey = c.c_nationkey)
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM customer c
"""


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: per foreign-key relationship, total rows and
    orphan rows (fk value absent from the parent). The validation-
    pipeline idea (F-rules) lifted to CROSS-TABLE contracts — the check
    a warehouse runs after every load. Each relationship is one
    left-anti probe; parents broadcast when small (dimension tables),
    and the orphan count aggregates map-side, so the audit costs one
    scan per child table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def probe(child, fk_col, parent, pk_col, label):
        orphans = child.join(
            parent.select(pk_col),
            child[fk_col] == parent[pk_col],
            "left_anti",
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    return (
        probe(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey -> orders")
        .unionByName(
            probe(o, "o_custkey", c, "c_custkey", "orders.o_custkey -> customer")
        )
        .unionByName(
            probe(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey -> nation")
        )
    )


# Not driver-registered: per-group feature normalization — oracle
# parity via test_deregistered_queries_still_match.
FEATURE_ZSCORE_ORACLE = """
WITH stats AS (
    SELECT event_type,
           round(avg(value), 6) AS mu,
           round(stddev_samp(value), 6) AS sigma
    FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round((e.value - s.mu) / nullif(s.sigma, 0), 6) AS z_value
FROM events e JOIN stats s USING (event_type)
WHERE e.value IS NOT NULL
"""


def feature_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (feature prep for training):
    group stats as ONE small aggregate broadcast back onto the fact
    scan — never a window over the full data (a per-row window
    re-sorts the whole table; the stats table is |groups| rows).
    Stats are rounded to 6dp BEFORE the ratio so both engines divide
    identical doubles; sigma=0 groups yield null, not inf."""
    ev = _t(spark, sf_dir, "events")
    nn = ev.where(F.col("value").isNotNull())
    stats = nn.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    return (
        nn.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("value") - F.col("mu"))
                / F.when(F.col("sigma") != 0, F.col("sigma")),
                6,
            ).alias("z_value"),
        )
    )


# Not driver-registered: winsorization — oracle parity via
# test_deregistered_queries_still_match.
WINSORIZE_ORACLE = """
WITH bounds AS (
    SELECT event_type,
           round(quantile_cont(value, 0.01), 6) AS p01,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(least(greatest(e.value, b.p01), b.p99), 6) AS clipped_value,
       (e.value < b.p01 OR e.value > b.p99) AS was_clipped
FROM events e JOIN bounds b USING (event_type)
WHERE e.value IS NOT NULL
"""


def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip values to the group's [p01, p99]
    band — the outlier-taming pass feature pipelines run before
    normalization. Exact percentiles as ONE small per-group aggregate
    (Spark's percentile == DuckDB quantile_cont, continuous
    interpolation) broadcast back onto the fact scan; a was_clipped
    audit flag rides along. At 100 TB swap the exact percentile for
    approx_percentile — same plan shape, sketch-sized state."""
    ev = _t(spark, sf_dir, "events")
    nn = ev.where(F.col("value").isNotNull())
    bounds = nn.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.01)), 6).alias("p01"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )
    return (
        nn.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")), 6
            ).alias("clipped_value"),
            ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias(
                "was_clipped"
            ),
        )
    )


# The quantile-sketch accuracy contract (same pattern as the
# approx_distinct_accuracy registry row): sketch outputs are not
# cross-engine reproducible, so the driver-checkable surface is the
# exact statistic plus a Spark-computed boolean that the sketch meets
# its documented error bound; the oracle supplies the exact values and
# literal TRUE.
APPROX_QUANTILE_ORACLE = """
SELECT l_returnflag,
       count(*)::BIGINT AS n_rows,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median,
       TRUE AS rank_ok
FROM lineitem GROUP BY l_returnflag
"""


def approx_quantile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna) accuracy contract per
    return flag — the quantile-sketch path a 100 TB engine takes when
    exact percentile's full-sort-per-group is the bottleneck. The
    sketch guarantees RANK error <= 1/accuracy regardless of partition
    merge order, so the checkable invariant is: the true rank of the
    returned value stays within 0.5 +/- 5x the documented bound
    (accuracy=100 -> eps=0.01, bar at 0.05). Exact median (continuous
    interpolation, == DuckDB quantile_cont) rides along so the row
    also hash-pins the exact-percentile surface. Plan: tiny per-group
    sketch aggregate broadcast back onto the fact scan for the exact
    rank count — two scans, no global sort."""
    li = _t(spark, sf_dir, "lineitem")
    appx = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 100)").alias("appx")
    )
    return (
        li.join(F.broadcast(appx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias(
                "exact_median"
            ),
            (
                F.abs(
                    F.sum(
                        F.when(
                            F.col("l_extendedprice") <= F.col("appx"), 1
                        ).otherwise(0)
                    )
                    / F.count(F.lit(1))
                    - F.lit(0.5)
                )
                <= F.lit(0.05)
            ).alias("rank_ok"),
        )
    )


# Skew-mitigation parity: the two-phase salted aggregation must equal
# the plain GROUP BY exactly (integer aggregates -> reassociation-safe).
SKEW_SALTED_AGG_ORACLE = """
SELECT l_returnflag,
       count(l_orderkey)::BIGINT AS l_orderkey_count,
       min(l_partkey) AS l_partkey_min,
       max(l_suppkey) AS l_suppkey_max,
       sum(l_linenumber)::BIGINT AS l_linenumber_sum
FROM lineitem GROUP BY l_returnflag
"""


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key aggregation path (functions/skew.salted_sum) under
    oracle eyes: phase 1 aggregates on (key, random salt) so a skewed
    key's work spreads over n_salts tasks, phase 2 merges partials on
    the key alone. l_returnflag is exactly the skew shape AQE's
    statistics miss (3 values over 60k+ rows); integer aggregates keep
    the reassociated sums bit-equal to the plain GROUP BY."""
    from data_pipeline_project_spark.functions.skew import salted_sum

    li = _t(spark, sf_dir, "lineitem")
    return salted_sum(
        li,
        ["l_returnflag"],
        {
            "l_orderkey": "count",
            "l_partkey": "min",
            "l_suppkey": "max",
            "l_linenumber": "sum",
        },
        n_salts=16,
    ).select(
        "l_returnflag",
        F.col("l_orderkey_count").cast("bigint").alias("l_orderkey_count"),
        "l_partkey_min",
        "l_suppkey_max",
        F.col("l_linenumber_sum").cast("bigint").alias("l_linenumber_sum"),
    )


# Data-quality profiling: per-column row/null/distinct counts + min/max
# rendered as strings (int/string/formatted-date columns only — float
# renderings are not cross-engine stable).
_PROFILE_COLS = ("l_orderkey", "l_linenumber", "l_returnflag", "l_ship_day")

TABLE_PROFILE_ORACLE = """
WITH t AS (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           strftime(l_shipdate, '%Y-%m-%d') AS l_ship_day
    FROM lineitem
)
SELECT 'l_orderkey' AS col_name, count(*)::BIGINT AS n_rows,
       (count(*) - count(l_orderkey))::BIGINT AS n_nulls,
       count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
       min(l_orderkey)::VARCHAR AS min_str, max(l_orderkey)::VARCHAR AS max_str
FROM t
UNION ALL
SELECT 'l_linenumber', count(*)::BIGINT, (count(*) - count(l_linenumber))::BIGINT,
       count(DISTINCT l_linenumber)::BIGINT,
       min(l_linenumber)::VARCHAR, max(l_linenumber)::VARCHAR
FROM t
UNION ALL
SELECT 'l_returnflag', count(*)::BIGINT, (count(*) - count(l_returnflag))::BIGINT,
       count(DISTINCT l_returnflag)::BIGINT,
       min(l_returnflag), max(l_returnflag)
FROM t
UNION ALL
SELECT 'l_ship_day', count(*)::BIGINT, (count(*) - count(l_ship_day))::BIGINT,
       count(DISTINCT l_ship_day)::BIGINT,
       min(l_ship_day), max(l_ship_day)
FROM t
"""


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile (the first query run against any
    new 100 TB dataset): per column, rows / nulls / exact distincts /
    min / max, computed in a SINGLE aggregate over one scan and
    unpivoted to a row per column. The only exchange carries the
    partial-agg rows of that one aggregate; output is bounded by the
    column list. min/max render as strings so heterogeneous column
    types share one schema."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_ship_day"),
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.count_distinct(c).alias(f"{c}_nd"),
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
        ]
    one = li.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col("_n").cast("bigint").alias("n_rows"),
                        (F.col("_n") - F.col(f"{c}_nn")).cast("bigint").alias("n_nulls"),
                        F.col(f"{c}_nd").cast("bigint").alias("n_distinct"),
                        F.col(f"{c}_min").alias("min_str"),
                        F.col(f"{c}_max").alias("max_str"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")


# ---- incremental aggregate maintenance (deregistered-parity) ---------------

INCREMENTAL_AGG_ORACLE = """
SELECT o_custkey,
       count(o_totalprice) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       min(o_totalprice) AS min_value,
       max(o_totalprice) AS max_value,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             / count(o_totalprice), 6) AS avg_value
FROM orders
GROUP BY o_custkey
"""


@register("incremental_agg_merge", oracle=INCREMENTAL_AGG_ORACLE)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance
    (operators/incremental.aggregate_state / merge_aggregate_states):
    the orders table is split into a historical slice plus two ingest
    deltas; per-custkey mergeable states (count, decimal-exact sum,
    min, max) are computed per slice and merged. The oracle is a
    ONE-SHOT GROUP BY over the whole table — parity proves the merged
    state is exactly the full recompute, which is what lets a 100 TB
    pipeline update per-group stats by scanning only the delta. The
    merge shuffles state rows (one per group per slice), never facts.
    """
    from data_pipeline_project_spark.operators.incremental import (
        aggregate_state,
        finalize_aggregate_state,
        merge_aggregate_states,
    )

    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    slices = [
        o.where(d < "1999-01-01"),
        o.where((d >= "1999-01-01") & (d < "2000-06-01")),
        o.where(d >= "2000-06-01"),
    ]
    states = [
        aggregate_state(s, ["o_custkey"], "o_totalprice") for s in slices
    ]
    return finalize_aggregate_state(merge_aggregate_states(*states))


# ---- declarative data-quality expectations (deregistered-parity) -----------

DATA_EXPECTATIONS_ORACLE = """
WITH m AS (
    SELECT
        coalesce(avg(CASE WHEN l_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 1.0) AS m0,
        coalesce(avg(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1.0 ELSE 0.0 END), 1.0) AS m1,
        coalesce(avg(CASE WHEN l_returnflag IN ('A','N','R') THEN 1.0 ELSE 0.0 END), 1.0) AS m2,
        coalesce(avg(CASE WHEN regexp_matches(l_linestatus, '^[OF]$') THEN 1.0 ELSE 0.0 END), 1.0) AS m3,
        coalesce(count(DISTINCT (l_orderkey, l_linenumber)) / count(*), 1.0) AS m4,
        coalesce(avg(CASE WHEN l_discount BETWEEN 0.0 AND 0.08 THEN 1.0 ELSE 0.0 END), 1.0) AS m5
    FROM lineitem
)
-- passed compares the RAW fraction (a 1-in-10M violation must fail a
-- strict gate); the displayed metric is rounded for hash stability.
SELECT 'l_orderkey_not_null' AS rule_name, round(m0, 6) AS metric, m0 >= 1.0 AS passed FROM m
UNION ALL
SELECT 'l_quantity_between', round(m1, 6), m1 >= 1.0 FROM m
UNION ALL
SELECT 'l_returnflag_in_set', round(m2, 6), m2 >= 1.0 FROM m
UNION ALL
SELECT 'l_linestatus_matches_regex', round(m3, 6), m3 >= 1.0 FROM m
UNION ALL
SELECT 'unique_l_orderkey_l_linenumber', round(m4, 6), m4 >= 1.0 FROM m
UNION ALL
SELECT 'l_discount_between', round(m5, 6), m5 >= 0.8 FROM m
"""


def data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality suite (operators/expectations.py): six named
    constraints — completeness, bounds, accepted set, regex shape,
    key uniqueness, and a thresholded tolerance rule — folded into ONE
    aggregate scan of lineitem (Deequ's shape). The synthetic data
    genuinely fails the uniqueness and strict-bounds rules, so the
    report exercises both verdicts.

    Uniqueness goes through :func:`expect_unique_auto`: exact
    count_distinct below 2M rows (which is what the sf0.01 oracle run
    exercises — identical to the SQL oracle), HLL above it (the 100x
    scale sweep showed the exact struct-distinct is the engine's worst
    scaling term at 6.5x wall per 10x rows; the sketch keeps the suite
    one scan-bound map-side aggregate at any size)."""
    from data_pipeline_project_spark.operators.expectations import (
        expect_between,
        expect_in,
        expect_not_null,
        expect_regex,
        expect_unique_auto,
        expectation_report,
    )

    li = _t(spark, sf_dir, "lineitem")
    return expectation_report(
        li,
        [
            expect_not_null("l_orderkey"),
            expect_between("l_quantity", 1, 50),
            expect_in("l_returnflag", ["A", "N", "R"]),
            expect_regex("l_linestatus", "^[OF]$"),
            expect_unique_auto(li, ["l_orderkey", "l_linenumber"]),
            expect_between("l_discount", 0.0, 0.08, threshold=0.8),
        ],
    )


# ---- aggregate retraction / bounded repair (deregistered-parity) -----------

INCREMENTAL_RETRACT_ORACLE = """
SELECT o_custkey,
       count(o_totalprice) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       min(o_totalprice) AS min_value,
       max(o_totalprice) AS max_value,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             / count(o_totalprice), 6) AS avg_value
FROM orders
WHERE o_orderkey % 7 <> 0
GROUP BY o_custkey
"""


def incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC DELETE maintenance (operators/incremental.retract_aggregate_state
    / repair_aggregate_state): the full-table state has a delete batch
    (every 7th orderkey) retracted — count/sum subtracted exactly
    (invertible, decimal-exact), min/max repaired by rescanning ONLY
    the groups whose extremes the deletes touched (broadcast semi-join
    prune). The oracle is a one-shot GROUP BY over the surviving rows:
    parity proves delete maintenance is exact with a bounded, not
    full, rescan."""
    from data_pipeline_project_spark.operators.incremental import (
        aggregate_state,
        finalize_aggregate_state,
        repair_aggregate_state,
        retract_aggregate_state,
    )

    o = _t(spark, sf_dir, "orders")
    deletes = o.where(F.col("o_orderkey") % 7 == 0)
    remaining = o.where(F.col("o_orderkey") % 7 != 0)

    full_state = aggregate_state(o, ["o_custkey"], "o_totalprice")
    del_state = aggregate_state(deletes, ["o_custkey"], "o_totalprice")
    adjusted = retract_aggregate_state(full_state, del_state)
    repaired = repair_aggregate_state(adjusted, remaining, "o_totalprice")
    return finalize_aggregate_state(repaired)


# ---- per-group rank / quantile normalization (deregistered-parity) ---------

FEATURE_RANK_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       round(percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey), 6)
           AS price_pct_rank,
       (cume_dist() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey)
        <= 0.25) AS bottom_quartile
FROM orders
"""


def feature_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group rank transform — the third member of the feature-
    normalization family beside feature_zscore and winsorize_values:
    percent_rank maps each value to its within-group quantile
    (distribution-free normalization for heavy-tailed features), with
    a cume_dist bottom-quartile flag. Orderkey tiebreak makes ranks
    deterministic; windows partition by the group key, never global."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        (F.cume_dist().over(w) <= 0.25).alias("bottom_quartile"),
    )


# ---- cohort retention (deregistered-parity) ---------------------------------

COHORT_RETENTION_ORACLE = """
WITH firsts AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY 1
),
activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
    FROM events
)
SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', f.cohort_week, a.active_week) / 7)::BIGINT AS week_offset,
       count(DISTINCT a.user_id) AS n_active
FROM firsts f JOIN activity a USING (user_id)
GROUP BY 1, 2
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by the week of
    their first event; per (cohort, week offset), how many are still
    active. Two narrow aggregates + one join keyed by user — shuffle
    bounded by |users|, never |events|, and the matrix itself is
    weeks x weeks rows."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            # formatted string: dates cross the pandas/DuckDB hash
            # boundary as objects vs datetime64 otherwise
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


# ---- funnel conversion (deregistered-parity) --------------------------------

FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
    GROUP BY 1
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > s1.t1
    GROUP BY 1
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    GROUP BY 1
)
SELECT 'step1_view' AS step, count(*) AS n_users FROM s1
UNION ALL SELECT 'step2_click', count(*) FROM s2
UNION ALL SELECT 'step3_purchase', count(*) FROM s3
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: a user converts at
    step N only with an event strictly AFTER their previous step's
    first event (the ordering is the analysis — unordered presence
    counting over-reports). Each stage is one filtered aggregate plus a
    user-keyed join: shuffles bounded by |users|."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        s1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("step1_view").alias("step"), "n_users"
        ),
        s2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("step2_click").alias("step"), "n_users"
        ),
        s3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("step3_purchase").alias("step"), "n_users"
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# ---- trailing-window anomaly z-score (deregistered-parity) ------------------

ANOMALY_ZSCORE_ORACLE = """
WITH w AS (
    SELECT event_id, user_id, value, ts,
           avg(value) OVER tw AS mu,
           stddev_samp(value) OVER tw AS sigma,
           count(*) OVER tw AS n_prev
    FROM events
    WINDOW tw AS (PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                            AND INTERVAL 1 MICROSECOND PRECEDING)
)
SELECT event_id,
       round((value - mu) / sigma, 6) AS zscore
FROM w
WHERE n_prev >= 3 AND sigma > 0
"""


def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event anomaly score against the SAME USER's trailing hour
    (exclusive of the current event): the streaming-monitor shape a
    sensor pipeline alarms on. RANGE frame over event-time per user —
    per-key parallel windows, no global sort; events with fewer than 3
    trailing points or zero variance are unscored rather than
    fake-scored."""
    from pyspark.sql import Window

    from data_pipeline_project_spark.operators.temporal import _epoch_us

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "value", "ts"
    )
    us = _epoch_us(F.col("ts"))
    tw = (
        Window.partitionBy("user_id")
        .orderBy(us.cast("bigint"))
        .rangeBetween(-3_600_000_000, -1)
    )
    w = ev.select(
        "event_id",
        "value",
        F.avg("value").over(tw).alias("mu"),
        F.stddev_samp("value").over(tw).alias("sigma"),
        F.count(F.lit(1)).over(tw).alias("n_prev"),
    )
    return w.where((F.col("n_prev") >= 3) & (F.col("sigma") > 0)).select(
        "event_id",
        F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
    )


# ---- join-key skew diagnosis (deregistered-parity) ---------------------------

JOIN_SKEW_ORACLE = """
WITH f AS (
    SELECT o_custkey AS key, count(*) AS n FROM orders
    WHERE o_custkey IS NOT NULL GROUP BY 1
),
s AS (
    SELECT count(*) AS n_keys, sum(n)::BIGINT AS n_rows,
           max(n) AS max_n,
           round(avg(n::DOUBLE), 6) AS mean_n,
           round(quantile_cont(n, 0.99), 6) AS p99_n
    FROM f
),
top AS (
    SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rk FROM f
)
SELECT t.rk AS hot_rank, t.key AS hot_key, t.n AS hot_rows,
       s.n_keys, s.n_rows,
       round(t.n::DOUBLE / s.mean_n, 6) AS x_mean,
       round(t.n::DOUBLE * s.n_keys / s.n_rows, 6) AS share_x_keys,
       t.n::DOUBLE > 4.0 * s.p99_n AS needs_salt
FROM top t, s
WHERE t.rk <= 10
"""


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnosis for a join/agg key: the top-10 hottest
    key values with their multiple of the mean and a needs-salt verdict
    (hot row count > 4x the p99 key count — the shape AQE's runtime
    skew split handles, but that a planner wants to know BEFORE
    shuffling 100 TB; feed flagged keys to functions/skew.salted_sum).
    One key-count aggregate, then window + scalar join over the
    key-count table — the raw table is scanned once."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    f = (
        o.where(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = f.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.round(F.avg(F.col("n").cast("double")), 6).alias("mean_n"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99_n"),
    )
    # top-10 via orderBy+limit compiles to TakeOrderedAndProject (a
    # per-partition heap + driver merge of 10-row tops) — no global
    # sort, no full-key-table single-partition window; the rank window
    # then runs over exactly 10 rows.
    top10 = f.orderBy(F.desc("n"), F.asc("key")).limit(10)
    top = top10.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key")))
    )
    return top.crossJoin(F.broadcast(s)).select(
        F.col("rk").alias("hot_rank"),
        F.col("key").alias("hot_key"),
        F.col("n").alias("hot_rows"),
        "n_keys",
        "n_rows",
        F.round(F.col("n").cast("double") / F.col("mean_n"), 6).alias("x_mean"),
        F.round(
            F.col("n").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
        ).alias("share_x_keys"),
        (F.col("n").cast("double") > 4.0 * F.col("p99_n")).alias("needs_salt"),
    )


# ---- TPC-H q8: national market share (deregistered-parity) ------------------

Q8_MARKET_SHARE_ORACLE = """
WITH volumes AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS volume,
           n2.n_name AS supp_nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'EUROPE'
      AND p_type = 'ECONOMY'
      AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM volumes GROUP BY o_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adapted to the synthetic dims (reference scope: the
    LLM-ops extension's relational tier): NATION_7's share of ECONOMY-
    part revenue sold into EUROPE, by order year — the 8-table join
    that exercises join ORDERING (the dims prune the fact before the
    big joins when the optimizer orders them right) plus decimal-exact
    conditional aggregation. All five dims broadcast; lineitem and
    orders carry the only shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_natkey"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")

    dec = "decimal(38,6)"
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)
    volumes = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_natkey"))
        .where(
            F.col("o_orderdate").between("1995-01-01", "1996-12-31")
        )
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast(dec)
    return volumes.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# ---- TPC-H q19: disjunctive predicate pushdown (deregistered-parity) --------

Q19_DISJUNCTIVE_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 25 AND 50)
"""


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape: a fact-dim join under a DISJUNCTION of
    conjunctive predicate branches — the query pattern that punishes
    engines which can't push the per-side residuals (p_* terms prune
    the broadcast part side; the l_quantity envelope 1..50 subsumes all
    branches so the fact filter stays post-join, exactly as TPC-H
    intends)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(25, 50)
        )
    )
    dec = "decimal(38,6)"
    return j.where(cond).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---- TPC-H completion tier (deregistered-parity) ----------------------------
# The remaining classic TPC-H shapes, adapted to the synthetic star schema
# (no partsupp / commit-receipt dates / shipmode / phone — each adaptation
# keeps the PLANNER shape that makes the query interesting: correlated
# min/avg subqueries, non-equi EXISTS, multi-EXISTS anti chains, scalar-
# subquery HAVING, two-level aggregation). All money sums are decimal-cast
# before aggregation so partial-aggregation order can't move the value.

Q2_MIN_COST_SUPPLIER_ORACLE = """
WITH pe AS (
    SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size < 16
),
rk AS (
    SELECT *, max(s_acctbal) OVER (PARTITION BY p_partkey) AS best_bal
    FROM pe
)
SELECT p_partkey, p_name, s_name, n_name, s_acctbal
FROM rk WHERE s_acctbal = best_bal
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape — the correlated-min subquery ("the supplier
    with the best cost for each part") — adapted to the synthetic
    schema: no partsupp table, so the part-supplier relationship comes
    from lineitem (distinct pairs) and "best" is max s_acctbal among
    the part's EUROPE suppliers. The correlated subquery is expressed
    as a window max over the distinct pair table — ONE extra shuffle on
    p_partkey instead of a self-join, and the pair table is bounded by
    |part|x|supplier| combinations, orders of magnitude under lineitem,
    so the window input stays small at any fact scale. All dims
    broadcast; lineitem is never shuffled (the distinct reduces it
    first, keyed by the projected columns only)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 16)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    pe = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .distinct()
    )
    w = Window.partitionBy("p_partkey")
    return (
        pe.withColumn("best_bal", F.max("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("best_bal"))
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
    )


Q4_ORDER_PRIORITY_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's shape: a correlated EXISTS with a NON-EQUI residual
    (the classic uses l_commitdate < l_receiptdate; the synthetic
    schema has neither, so lateness is l_shipdate > o_orderdate + 30
    days — a residual that references BOTH sides, which is the planner
    property Q4 tests: the semi join must carry the cross-side
    predicate, it cannot be pushed to either scan alone). Spark plans
    the left_semi with the equi key driving the shuffle/broadcast and
    the residual evaluated per matched pair; the date window prunes the
    orders scan at the parquet footer."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q6_FORECAST_REVENUE_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure pushdown probe. No join, no group — the whole
    query is a parquet scan whose THREE predicates (date range, discount
    band, quantity cap) must all reach PushedFilters, followed by one
    map-side-combinable global aggregate. At 100 TB this is the query
    where scan pruning is the entire cost model: footer min/max on
    l_shipdate skips whole row groups outside 1996."""
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,6)"
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(dec))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q7_VOLUME_SHIPPING_ORACLE = """
SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
  AND ((n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_3')
    OR (n2.n_name = 'NATION_3' AND n1.n_name = 'NATION_2'))
GROUP BY n2.n_name, n1.n_name, CAST(year(l_shipdate) AS BIGINT)
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional nation-pair trade volume. The planner
    shape is the SAME dimension table joined twice under different
    roles (supplier nation vs customer nation) with a disjunctive
    cross-alias filter that only becomes evaluable after BOTH joins —
    so join ordering matters: the two nation broadcasts are nearly free
    and the pair filter then prunes before the group-by. The only
    shuffle is lineitem-orders; everything else broadcasts."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_natkey"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_natkey"), F.col("n_name").alias("supp_nation")
    )
    dec = "decimal(38,6)"
    pair = (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_3")
    ) | ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_2"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_natkey") == c.c_nationkey)
        .join(F.broadcast(n2), F.col("s_natkey") == s.s_nationkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))
            .cast("double")
            .alias("revenue")
        )
    )


Q9_PRODUCT_PROFIT_ORACLE = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     - 0.4 * p_retailprice * l_quantity
                     AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: product-line profit by supplier nation and year. The
    synthetic schema has no ps_supplycost, so cost is modeled as
    0.4 * p_retailprice * l_quantity (same arithmetic shape: a
    dim-attribute x fact-measure product inside the profit sum). The
    planner property is a LIKE filter on a dim attribute (p_name)
    pruning the broadcast side before the fact join, plus a profit
    expression whose inputs span three tables — it can only fold after
    the joins, so expression placement (project-after-join, before the
    aggregate) is what keeps the shuffle narrow: only (nation, year,
    profit) reaches the exchange."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    dec = "decimal(38,6)"
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.4) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(dec)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit").cast("double").alias("sum_profit"))
    )


Q11_IMPORTANT_STOCK_ORACLE = """
WITH pv AS (
    SELECT l_partkey AS partkey,
           sum(CAST(l_quantity * p_retailprice AS DECIMAL(38,6))) AS value_dec
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY l_partkey
)
SELECT partkey, CAST(value_dec AS DOUBLE) AS stock_value
FROM pv
WHERE CAST(value_dec AS DOUBLE)
      > (SELECT CAST(sum(value_dec) AS DOUBLE) FROM pv) * 0.001
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: per-part "stock value" filtered by a SCALAR-subquery
    threshold (a fraction of the grand total) — the HAVING-against-a-
    global-aggregate shape. No partsupp in the synthetic schema, so
    value = sum(l_quantity * p_retailprice) over lines shipped by ASIA
    suppliers. The per-part aggregate is computed ONCE and reused for
    both the rows and the grand total (scoped persist); the total is a
    1-row broadcast cross join, never a re-scan. Both sides of the
    threshold comparison are doubles derived from exact decimal sums,
    so the cutoff is engine-independent."""
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    dec = "decimal(38,6)"
    pv = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum((F.col("l_quantity") * F.col("p_retailprice")).cast(dec)).alias("value_dec"))
    )
    pv = scoped_persist(pv)
    total = pv.agg(F.sum("value_dec").cast("double").alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(total))
        .where(F.col("value_dec").cast("double") > F.col("total_value") * 0.001)
        .select("partkey", F.col("value_dec").cast("double").alias("stock_value"))
    )


Q12_LATE_SHIPMENTS_ORACLE = """
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
GROUP BY l_returnflag
"""


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: late-shipment accounting by ship class (l_returnflag
    stands in for the missing l_shipmode). Two planner properties: a
    cross-table residual (l_shipdate vs o_orderdate + 45 days) that
    must ride the join, and the CASE-sum pivot that folds both output
    columns into ONE pass over the joined rows. The shipdate year
    window prunes the lineitem scan before the join shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


Q13_CUSTOMER_DISTRIBUTION_ORACLE = """
WITH co AS (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
                    AND o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM co GROUP BY c_count
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the order-count histogram — TWO stacked aggregations
    where the first must be a LEFT OUTER join (customers with zero
    qualifying orders land in the c_count=0 bucket; an inner join
    silently erases them) and the join-side filter must stay ON the
    join (moving o_orderpriority <> ... into a WHERE would turn the
    outer join inner). count(o_orderkey) skips the null-extended rows,
    which is the whole trick. First aggregate shuffles on c_custkey;
    the second input is |customers| rows, the third is tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
        "left_outer",
    )
    co = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q15_TOP_SUPPLIER_ORACLE = """
WITH rev AS (
    SELECT l_suppkey AS suppkey,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev_dec
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
FROM rev
JOIN supplier ON s_suppkey = suppkey
WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the revenue view + scalar-max filter. The per-supplier
    revenue aggregate is computed ONCE (scoped persist stands in for
    the CREATE VIEW the benchmark spells) and reused for both the max
    and the rows; the max is a 1-row broadcast. The equality compares
    DECIMAL sums, not doubles — exact regardless of partial-agg order,
    so "the" top supplier is engine-independent even under ties."""
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    dec = "decimal(38,6)"
    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)).alias(
                "rev_dec"
            )
        )
    )
    rev = scoped_persist(rev)
    top = rev.agg(F.max("rev_dec").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .where(F.col("rev_dec") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .select("s_suppkey", "s_name", F.col("rev_dec").cast("double").alias("total_revenue"))
    )


Q16_SUPPLIER_PART_COUNT_ORACLE = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
"""


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct-supplier counts per part class with a NOT IN
    exclusion subquery (suppliers "with complaints" — s_name ending in
    7 stands in for the comment scan). The planner shapes: the NOT IN
    becomes a broadcast left_anti join (s_suppkey is never null here,
    so anti-join and NOT IN agree — the null-semantics trap the classic
    query sets is sidestepped by construction and documented), the IN
    size list prunes the broadcast part side, and count(DISTINCT)
    plans as the two-level partial-distinct aggregate, never a global
    sort."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_name").like("%7")).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q17_SMALL_QTY_REVENUE_ORACLE = """
WITH pa AS (
    SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0, 6)
       AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON pk = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < 0.5 * avg_qty
"""


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: the correlated-average subquery ("lines below half
    the part's average quantity"). Decorrelated the way a 100 TB plan
    must: the per-part average is ONE aggregate (|parts| rows), joined
    back to the fact — never a per-row re-scan. The brand filter
    broadcasts and prunes before the avg join. The avg itself is a
    double, but both engines compute avg(l_quantity) over the same
    per-part value set with the same final division, and the 0.5*avg
    threshold sits far from any stored value (quantities are integers),
    so the cutoff is stable cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    dec = "decimal(38,6)"
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, F.col("pk") == li.l_partkey)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(dec)).cast("double") / 7.0, 6
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q18_LARGE_VOLUME_CUSTOMER_ORACLE = """
WITH big AS (
    SELECT l_orderkey AS bok, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 280
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       o_totalprice, sum_qty
FROM orders
JOIN big ON bok = o_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — the IN-over-grouped-HAVING
    shape. The inner aggregate (sum of quantities per order) runs over
    the full fact table FIRST and its survivors (> 280 units: 84 orders
    at sf0.01) drive everything after, so the expensive join sees only
    the qualifying keys; quantities are integer-valued doubles, so the
    sum and the threshold are exact. Dates are emitted as formatted
    strings (cross-engine hash rule for DATE columns)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("bok"))
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 280)
    )
    return (
        o.join(big, F.col("bok") == o.o_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_totalprice",
            "sum_qty",
        )
    )


Q20_EXCESS_SUPPLIERS_ORACLE = """
SELECT s_name, n_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'AFRICA'
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 400
  )
"""


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: the nested IN-over-aggregate semi join ("suppliers
    who shipped an excess of a part class"). The inner block — PROMO
    lines in 1997, grouped per supplier, HAVING a quantity floor —
    reduces the fact table to a key list BEFORE touching the supplier
    dim; the outer query is then a broadcast left_semi against that
    list plus two dim broadcasts. At scale the only heavy operation is
    the inner aggregate's one shuffle on l_suppkey."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    excess = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 400)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .join(F.broadcast(excess), F.col("l_suppkey") == s.s_suppkey, "left_semi")
        .select("s_name", "n_name")
    )


Q21_WAITING_SUPPLIERS_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: "the supplier who alone held up a multi-supplier
    order" — the EXISTS + NOT-EXISTS chain, the hardest decorrelation
    in the suite. Planned as a left_semi (another supplier exists on
    the order) followed by a left_anti (no OTHER supplier was also
    late), both keyed on l_orderkey with the supplier-inequality and
    lateness residuals riding the join. Lateness is l_shipdate >
    o_orderdate + 60 days (the synthetic schema's stand-in for
    receipt-after-commit). The SQL implies THREE lineitem scans and two
    lineitem-orders joins; the plan materializes the late-lines table
    ONCE (scoped persist — it is small: only late lines survive) and
    derives both the probe side (status-F lines) and the anti side from
    it, so the fact join runs once and the semi/anti shuffles share the
    l_orderkey key."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4")

    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    late = scoped_persist(
        li.join(_t(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderstatus")
    )
    l1 = late.where(F.col("o_orderstatus") == "F").select("l_orderkey", "l_suppkey")
    # Any line of the order by a different supplier (order status is a
    # property of the order, so l2 needs no orders join).
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    # A DIFFERENT supplier's line on the same order that was ALSO late.
    l3 = late.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3"))
    waiting = (
        l1.join(
            l2,
            (F.col("k2") == F.col("l_orderkey")) & (F.col("sk2") != F.col("l_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("k3") == F.col("l_orderkey")) & (F.col("sk3") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q22_GLOBAL_SALES_ORACLE = """
WITH cohort AS (
    SELECT right(c_name, 1) AS code, c_acctbal, c_custkey
    FROM customer
    WHERE right(c_name, 1) IN ('1', '3', '5')
)
SELECT code, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
FROM cohort c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cohort WHERE c_acctbal > 0)
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c.c_custkey AND o_orderdate >= DATE '1999-01-01'
  )
GROUP BY code
"""


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: dormant high-balance customers — scalar-average
    subquery + anti join. The cohort (c_name last digit stands in for
    the phone country code) is filtered by an average computed over the
    SAME cohort (1-row broadcast, computed once off a scoped persist)
    and anti-joined against recent orders ("no order since 1999"
    replaces the classic 7-year dormancy — the synthetic customer base
    has no fully order-less customers). The cohort is the anti join's
    LEFT (preserved) side; the orders side is projected to o_custkey
    before the join so the anti shuffle carries one column."""
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    c = _t(spark, sf_dir, "customer").where(
        F.expr("right(c_name, 1)").isin("1", "3", "5")
    ).select(
        F.expr("right(c_name, 1)").alias("code"), "c_acctbal", "c_custkey"
    )
    c = scoped_persist(c)
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    dec = "decimal(38,6)"
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(dec)).cast("double").alias("totacctbal"),
        )
    )


# ---- Multiset (ALL) set operations (deregistered-parity) --------------------

SET_OPS_ALL_ORACLE = """
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
SELECT 'union_all' AS op, count(*) AS n FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
UNION ALL
SELECT 'intersect_all' AS op, count(*) AS n FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
UNION ALL
SELECT 'except_all' AS op, count(*) AS n FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
"""


def set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) semantics for the set operators — UNION ALL /
    INTERSECT ALL / EXCEPT ALL — beside the DISTINCT variants already
    covered by set_union_intersect_except. INTERSECT ALL and EXCEPT ALL
    preserve duplicate MULTIPLICITY (min / left-minus-right of per-row
    counts), which Spark plans as a count-aggregated join, not a
    distinct — the semantics ETL dedup logic gets wrong most often.
    Summarized as counts so the result is scale-stable."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    rows = [
        a.unionAll(b).agg(F.count(F.lit(1)).alias("n")).select(F.lit("union_all").alias("op"), "n"),
        a.intersectAll(b).agg(F.count(F.lit(1)).alias("n")).select(F.lit("intersect_all").alias("op"), "n"),
        a.exceptAll(b).agg(F.count(F.lit(1)).alias("n")).select(F.lit("except_all").alias("op"), "n"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---- Window value functions (deregistered-parity) ---------------------------

WINDOW_VALUE_FUNCTIONS_ORACLE = """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS quartile,
       first_value(amt IGNORE NULLS) OVER wf AS first_amt,
       last_value(amt IGNORE NULLS) OVER wf AS last_amt,
       nth_value(amt, 2 IGNORE NULLS) OVER wf AS second_amt
FROM (SELECT *, CASE WHEN o_orderstatus = 'P' THEN NULL
                     ELSE o_totalprice END AS amt FROM orders)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VALUE window-function family beside the rank family
    (window_topk_per_group) and frames (window_range_frame): ntile
    bucketing, first_value / last_value / nth_value with IGNORE NULLS
    over an explicit full-partition ROWS frame. The null-skipping
    variants are the ones reporting code reaches for ("latest non-null
    reading per key") and the classic trap is last_value under the
    DEFAULT frame (RANGE ... CURRENT ROW — returns the current row, not
    the partition's last): the frame is spelled explicitly in both
    engines. One shuffle on o_custkey shared by both window specs; the
    full tie-break (o_orderdate, o_orderkey) makes ntile's bucket
    boundaries engine-independent."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "amt",
        F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
            F.col("o_totalprice")
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.first("amt", ignorenulls=True).over(wf).alias("first_amt"),
        F.last("amt", ignorenulls=True).over(wf).alias("last_amt"),
        F.nth_value("amt", 2, ignoreNulls=True).over(wf).alias("second_amt"),
    )


# ---- Array higher-order functions (deregistered-parity) ---------------------

ARRAY_FUNCTIONS_ORACLE = """
WITH qs AS (
  SELECT l_orderkey, list_sort(list(l_quantity)) AS q
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey, len(q) AS n_items,
       CAST(list_aggregate(q, 'sum') AS DOUBLE) AS qty_total,
       CAST(len(list_filter(q, x -> x >= 25)) AS BIGINT) AS n_big,
       list_contains(q, 40.0) AS has_forty,
       q[-1] - q[1] AS spread
FROM qs
"""


def array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array / higher-order-function surface (SURVEY §1.3's
    array-typed columns beyond embeddings): per order, the sorted
    quantity array is folded (aggregate), filtered (filter + size),
    probed (array_contains), and indexed from both ends (element_at
    with a negative index). Everything after the one collect_list
    shuffle is JVM-side codegen over the array — zero Python, zero
    extra exchange; the array_sort makes the collect_list order
    irrelevant (the only way a collected array is deterministic under
    partitioning). Quantities are integer-valued doubles, so the fold
    sum is exact cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    qs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_quantity")).alias("q")
    )
    return qs.select(
        "l_orderkey",
        F.size("q").alias("n_items"),
        F.aggregate(
            "q", F.lit(0.0), lambda acc, x: acc + x
        ).alias("qty_total"),
        F.size(F.filter("q", lambda x: x >= 25)).cast("bigint").alias("n_big"),
        F.array_contains("q", 40.0).alias("has_forty"),
        (F.element_at("q", -1) - F.element_at("q", 1)).alias("spread"),
    )


# ---- Null-semantics contract (deregistered-parity) --------------------------

NULL_SEMANTICS_ORACLE = """
WITH t AS (
  SELECT nullif(o_orderstatus, 'P') AS x, nullif(o_orderstatus, 'F') AS y
  FROM orders
)
SELECT coalesce(x, '<null>') AS grp,
       count(*) AS n_rows, count(y) AS n_y,
       count(DISTINCT y) AS n_distinct_y,
       CAST(sum(CASE WHEN x IS NOT DISTINCT FROM y THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nullsafe_eq
FROM t GROUP BY x
"""


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-handling contract in one query — the semantics ETL
    bugs live in: count(*) vs count(col) (null-skipping), DISTINCT
    skipping nulls, GROUP BY producing a NULL group (displayed via
    coalesce AFTER grouping on the nullable key), and null-safe
    equality (Spark's <=> / ANSI IS NOT DISTINCT FROM) vs plain = —
    which returns NULL, not false, when either side is null, silently
    dropping rows from a WHERE. Pinning these cross-engine guards the
    exact traps a migration from the reference's pandas semantics
    (NaN-skipping) would hit."""
    o = _t(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("x"),
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("y"),
    )
    return (
        o.groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("y").alias("n_y"),
            F.countDistinct("y").alias("n_distinct_y"),
            F.sum(F.when(F.col("x").eqNullSafe(F.col("y")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nullsafe_eq"),
        )
        .select(
            F.coalesce(F.col("x"), F.lit("<null>")).alias("grp"),
            "n_rows",
            "n_y",
            "n_distinct_y",
            "n_nullsafe_eq",
        )
    )


# ---- Statistical moments from exact sums (deregistered-parity) --------------

STAT_MOMENTS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS sxxx,
         CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxxxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS sxy,
         CAST(median(l_quantity) AS DOUBLE) AS med
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS corr_qty_price,
       round((sxxx / n - 3 * (sx / n) * (sxx / n) + 2 * (sx / n) * (sx / n) * (sx / n))
             / pow(sxx / n - (sx / n) * (sx / n), 1.5), 6) AS skew_qty,
       round((sxxxx / n - 4 * (sx / n) * (sxxx / n)
              + 6 * (sx / n) * (sx / n) * (sxx / n)
              - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
             / pow(sxx / n - (sx / n) * (sx / n), 2) - 3, 6) AS kurt_qty,
       round(med, 6) AS median_qty
FROM s
"""


def stat_moments(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Higher statistical moments per group — Pearson correlation,
    population skewness, excess kurtosis, exact median — computed FROM
    POWER SUMS with the textbook formulas spelled identically in both
    engines, NOT from the engines' corr()/skewness()/kurtosis()
    built-ins: those differ across engines in bias correction (sample
    vs population) and in accumulation order, which is exactly the
    cross-engine drift a migration must pin down.

    ``exact=True`` (the oracle row's contract) sums in DECIMAL(38,6):
    quantities are <= 50, so even the 4th-power sums are exact, and the
    moment formulas then run on identical doubles in both engines.
    ``exact=False`` is the PRODUCTION path: sum doubles directly —
    JVM-native accumulation with no 128-bit decimal arithmetic per row,
    which SCALE_r06 measured as a 5.1x-per-10x tax at 60M rows
    (3.1s -> 16.1s); the doubles path removes it. The two paths agree
    to ~1e-9 relative here (values are small and same-signed); at
    genuinely adversarial cancellation a single-pass power-sum formula
    is the wrong tool in ANY type — use a streaming Welford/merge
    formulation instead.

    One map-side-combinable aggregate either way; the median is the
    only sort-requiring term (exact percentile per group — swap for
    approx_percentile at 100 TB, the approx_quantile_accuracy query
    pins that path's error contract)."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    if exact:
        dec = "decimal(38,6)"

        def _s(e):
            return F.sum(e.cast(dec)).cast("double")
    else:

        def _s(e):
            return F.sum(e.cast("double"))

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _s(q).alias("sx"),
        _s(q * q).alias("sxx"),
        _s(q * q * q).alias("sxxx"),
        _s(q * q * q * q).alias("sxxxx"),
        _s(p).alias("sy"),
        _s(p * p).alias("syy"),
        _s(q * p).alias("sxy"),
        F.percentile(q, F.lit(0.5)).alias("med"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sxxx, sxxxx = F.col("sxxx"), F.col("sxxxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    mu = sx / n
    m2 = sxx / n - mu * mu
    m3 = sxxx / n - 3 * mu * (sxx / n) + 2 * mu * mu * mu
    m4 = (
        sxxxx / n
        - 4 * mu * (sxxx / n)
        + 6 * mu * mu * (sxx / n)
        - 3 * mu * mu * mu * mu
    )
    return s.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skew_qty"),
        F.round(m4 / F.pow(m2, 2) - 3, 6).alias("kurt_qty"),
        F.round(F.col("med"), 6).alias("median_qty"),
    )


# ---- Null-preserving generate (deregistered-parity) -------------------------

EXPLODE_OUTER_ORACLE = """
WITH qs AS (
  SELECT l_orderkey, list_sort(list(l_quantity) FILTER (l_quantity >= 48)) AS big
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       u.x AS big_qty
FROM qs, unnest(CASE WHEN big IS NULL OR len(big) = 0
                     THEN [NULL]::DOUBLE[] ELSE big END) u(x)
"""


def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-preserving generate: explode_outer keeps a row (with
    NULL) for every parent whose array is empty or null, where plain
    explode silently DROPS the parent — losing "orders with no large
    items" from any downstream left-side count, the classic generate
    bug. Most orders have no quantity >= 48, so the outer semantics
    carry real weight here (the oracle replicates by substituting a
    [NULL] array before unnest). One collect_list shuffle; the
    generate itself is pipelined."""
    li = _t(spark, sf_dir, "lineitem")
    qs = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("l_quantity") >= 48, F.col("l_quantity")))
        ).alias("big")
    )
    return qs.select(
        "l_orderkey", F.explode_outer("big").alias("big_qty")
    )


# ---- ANSI-safe arithmetic / try_* family (deregistered-parity) --------------

TRY_ARITHMETIC_ORACLE = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice / nullif(l_discount, 0), 6) AS price_per_disc,
       CAST(try_cast(l_returnflag AS BIGINT) AS BIGINT) AS flag_as_int,
       try_cast('20' || CAST(l_linenumber AS VARCHAR) AS BIGINT) AS synth_int
FROM lineitem
"""


def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-safe arithmetic family — what keeps a 100 TB batch job
    from dying at hour six on one bad row: try_divide (division by zero
    -> NULL, not an exception or Inf; the oracle spells it nullif),
    try_cast on a non-numeric string (-> NULL, never a parse error),
    and try_cast on a string that DOES parse. This is the engine-level
    contract under operators/validation.py's numeric casting (P5) —
    pinned here as a standalone query so the semantics can't drift."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide(F.col("l_extendedprice"), F.nullif(F.col("l_discount"), F.lit(0.0))), 6).alias(
            "price_per_disc"
        ),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("flag_as_int"),
        F.expr("try_cast(concat('20', cast(l_linenumber as string)) AS BIGINT)").alias(
            "synth_int"
        ),
    )


# ---- Histogram-interpolated quantiles (deregistered-parity) -----------------

HISTOGRAM_QUANTILES_ORACLE = """
WITH binned AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / 1.0), 0), 499) AS BIGINT) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum_c,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM counts
),
qs AS (SELECT unnest([50, 95]) AS q),
hit AS (
  SELECT DISTINCT event_type, q, n,
         min(CASE WHEN cum_c >= q * n / 100.0 THEN bin END)
             OVER (PARTITION BY event_type, q) AS qbin
  FROM cum, qs
)
SELECT h.event_type, CAST(h.q AS BIGINT) AS q, CAST(h.n AS BIGINT) AS n,
       round(h.qbin * 1.0 +
             ((h.q * h.n / 100.0 - (c2.cum_c - c2.c)) / c2.c) * 1.0, 6)
           AS q_est
FROM hit h
JOIN cum c2 ON c2.event_type = h.event_type AND c2.bin = h.qbin
"""


def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width-histogram quantile estimation — the BATCH twin of
    streaming/quantiles_stream.py, oracle-checked so the estimator's
    arithmetic (bin clamp, cumulative rank, within-bin linear
    interpolation) is pinned cross-engine. This is the quantile path
    whose cost at 100 TB is ONE aggregation over (group, bin) — no
    per-group sort like the exact percentile, no sketch merge like
    approx_percentile; precision is the declared bin width, the right
    trade for dashboards over metrics with known ranges. Estimates
    here land within one bin width of quantile_cont (the
    approx_quantile_accuracy query pins the GK sketch's contract the
    same way)."""
    ev = _t(spark, sf_dir, "events")
    width, n_bins = 1.0, 500
    binned = ev.select(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value") / width), F.lit(0)),
            F.lit(n_bins - 1),
        )
        .cast("bigint")
        .alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "bin",
        "c",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    qs = spark.range(0, 1).select(
        F.explode(F.array(F.lit(50), F.lit(95))).alias("q")
    )
    w_q = Window.partitionBy("event_type", "q")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .select(
            "event_type",
            "q",
            "n",
            F.min(
                F.when(
                    F.col("cum_c") >= F.col("q") * F.col("n") / 100.0, F.col("bin")
                )
            )
            .over(w_q)
            .alias("qbin"),
        )
        .distinct()
    )
    c2 = cum.select(
        F.col("event_type").alias("et2"),
        F.col("bin").alias("b2"),
        F.col("c").alias("c2"),
        F.col("cum_c").alias("cum2"),
    )
    return (
        hit.join(
            c2,
            (F.col("et2") == F.col("event_type")) & (F.col("b2") == F.col("qbin")),
        )
        .select(
            "event_type",
            F.col("q").cast("bigint").alias("q"),
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("qbin") * width
                + (
                    (F.col("q") * F.col("n") / 100.0 - (F.col("cum2") - F.col("c2")))
                    / F.col("c2")
                )
                * width,
                6,
            ).alias("q_est"),
        )
    )


# ---- Table checksum digest (driver-registered in round 8; it ceded
# its round-4 slot and re-entered when map_explode_props ceded hers —
# 64 digest rows hash far harder than a 3-row key aggregate) ----------

TABLE_DIGEST_ORACLE = """
WITH rows_h AS (
  SELECT ('0x' || substr(md5(
           o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
           o_orderstatus || '|' || o_totalprice::VARCHAR || '|' ||
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' || o_orderpriority
         ), 1, 15))::BIGINT AS h
  FROM orders
)
SELECT CAST(h % 64 AS BIGINT) AS bucket,
       count(*) AS n_rows,
       CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS digest
FROM rows_h GROUP BY 1
"""


@register("table_checksum_digest", oracle=TABLE_DIGEST_ORACLE)
def table_checksum_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table digest — the cheap replica-reconciliation
    primitive: every row's CONTENT hashes to one bigint, rows bucket by
    hash, and each bucket's digest is the exact decimal SUM of its row
    hashes — order-independent and mergeable, so two clusters (or a
    table and its backup, or pre/post-migration copies) compare 64
    digest rows instead of 60k data rows, and a mismatched bucket
    narrows the diff to 1/64th of the table per level (Merkle-style
    descent by re-digesting the hot bucket with a deeper modulus).
    Engines disagree on nothing here by construction: md5 content hash
    (the engine-wide mechanism), decimal-exact sums. Floats are
    canonicalized through their string forms — both engines render
    these double values identically (the reference's totalprice is
    2-decimal money); fixed-point formatting is the general answer."""
    o = _t(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("string"),
                    F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
                    F.col("o_orderpriority"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        o.select(h.alias("h"))
        .groupBy((F.col("h") % 64).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("digest"),
        )
    )


# ---- Calendar function matrix (deregistered-parity) -------------------------

TIME_FUNCTIONS_ORACLE = """
SELECT event_id,
       CAST(hour(ts) AS INT) AS hr,
       CAST(minute(ts) AS INT) AS mi,
       CAST(dayofweek(ts) AS INT) AS dow_sun0,
       CAST(isodow(ts) AS INT) AS dow_iso,
       CAST(weekofyear(ts) AS INT) AS iso_week,
       CAST(quarter(ts) AS INT) AS qtr,
       strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
       strftime(CAST(ts AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo
FROM events
"""


def time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calendar-function matrix with its CONVENTION TRAPS aligned
    explicitly — the classic migration bug family: Spark's dayofweek is
    1=Sunday while DuckDB's is 0=Sunday (aligned here as dow_sun0 =
    Spark-1), ISO day-of-week is Spark weekday()+1 vs DuckDB isodow,
    ISO week numbers agree (both ISO-8601, including the year-boundary
    weeks this data crosses), and month arithmetic CLAMPS identically
    (Jan 31 + 3 months = Apr 30 in both — the events span month ends,
    so the clamp rows are exercised, not vacuous). Dates emitted as
    strings per the cross-engine hash rule."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.hour("ts").cast("int").alias("hr"),
        F.minute("ts").cast("int").alias("mi"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow_sun0"),
        (F.weekday("ts") + 1).cast("int").alias("dow_iso"),
        F.weekofyear("ts").cast("int").alias("iso_week"),
        F.quarter("ts").cast("int").alias("qtr"),
        F.date_format(F.last_day("ts"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months("ts", 3), "yyyy-MM-dd").alias("plus3mo"),
    )


# ---- VARIANT semi-structured extraction (deregistered-parity) ---------------

VARIANT_JSON_PATH_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(sum(CAST(json_extract(
             '{"w": {"arr": [' || CAST(json_extract(props, '$.k') AS VARCHAR)
             || ',' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS VARCHAR)
             || ']}}', '$.w.arr[1]') AS BIGINT)) AS BIGINT) AS sum_nested,
       CAST(count(*) FILTER (json_extract(props, '$.absent') IS NULL) AS BIGINT)
           AS n_missing
FROM events
GROUP BY event_type
"""


def variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's VARIANT type as the semi-structured fast path:
    ``parse_json`` decodes the props JSON ONCE into the binary variant
    encoding, then ``variant_get`` path extractions read sub-fields
    without re-parsing text — the engine surface that replaces repeated
    ``get_json_object`` string scans at 100 TB (one decode, many typed
    reads; predicate pushdown into shredded variants arrives with the
    parquet variant spec). Exercises a top-level typed read, a NESTED
    path with an array index built from the data itself, and the
    missing-path -> NULL contract via try_variant_get. Oracle uses
    DuckDB's json_extract over the same constructed document — numeric
    results are engine-independent, so the hash compare pins the PATH
    SEMANTICS (indexing base, missing-key nulls), which is exactly
    where JSON engines usually disagree."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    nested_doc = F.concat(
        F.lit('{"w": {"arr": ['),
        k.cast("string"),
        F.lit(","),
        (k * 2).cast("string"),
        F.lit("]}}"),
    )
    nested = F.variant_get(F.parse_json(nested_doc), "$.w.arr[1]", "bigint")
    missing = F.try_variant_get(v, "$.absent", "bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.sum(nested).alias("sum_nested"),
        F.count(F.when(missing.isNull(), 1)).cast("bigint").alias("n_missing"),
    )


# Driver-registered since round 9 (took q14_promo_revenue's slot).
STAT_CORRELATIONS_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_quantity), 6) AS covar_price_qty,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_discount, 0.25), 6) AS p25_discount
FROM lineitem
GROUP BY l_returnflag
"""


@register("stat_correlations", oracle=STAT_CORRELATIONS_ORACLE)
def stat_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample
    covariance, and the least-squares line (slope/intercept) of price
    on quantity, plus interpolated percentiles — the feature-screening
    aggregates a training pipeline runs before fitting anything
    (collinearity checks, target-leakage triage, quantile caps).

    All are single-pass partial-aggregatable JVM built-ins (Spark's
    CentralMomentAgg family), so the plan is one hash aggregate with
    map-side combine — flat per-core at any scale, no window, no
    second scan. Results round to 6dp: the underlying double moments
    drift only in the last bits across partial-agg merge orders (both
    engines use the same textbook corrected-two-pass-free update
    formulas), far inside the rounding guard — the determinism suite
    pins this layout-invariance for the same reason it holds for
    feature_zscore. regr_slope/regr_intercept take (y, x) in BOTH
    engines; corr is symmetric so argument order is free there."""
    li = _t(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.corr(y, x), 6).alias("corr_price_qty"),
        F.round(F.covar_samp(y, x), 6).alias("covar_price_qty"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.percentile(x, F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile(F.col("l_discount"), F.lit(0.25)), 6).alias("p25_discount"),
    )
