"""Physical-plan regression tests — the 100 TB readiness gate.

Correctness says what a query returns; these pin HOW: filters reach the
parquet scan, column pruning holds, small dims broadcast, nothing
degenerates into a cartesian product. A plan regression here would be
invisible at sf0.01 and catastrophic at scale.
"""

import re

import pytest

from pyspark.sql import functions as F

from data_pipeline_project_spark.plans.registry import get_queries
from tests.conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    """Formatted physical plan of a query — registry first, then the
    plans modules (covers queries deregistered from the 50-slot driver
    board that still have dedicated plan tests here)."""
    queries = get_queries()
    if name in queries:
        fn = queries[name]
    else:
        import importlib

        from data_pipeline_project_spark.functions.persist_scope import (
            release_scoped_persists,
        )

        release_scoped_persists()
        fn = None
        for mod_name in ("relational_queries", "llmops_queries", "temporal_queries"):
            mod = importlib.import_module(
                f"data_pipeline_project_spark.plans.{mod_name}"
            )
            if hasattr(mod, name):
                fn = getattr(mod, name)
                break
        if fn is None:
            raise KeyError(name)
    df = fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p for p in pushed), plan


def test_column_pruning_narrow_scan(spark):
    """q1 touches 7 of lineitem's 16 columns; the scan must not read
    the rest."""
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "l_comment" not in cols and "l_partkey" not in cols, cols
    assert cols <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }, cols


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume",
                                  "join_broadcast_dim", "subquery_exists_correlated"])
def test_dims_broadcast_no_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_strict_gate_broadcasts_bad_file_set(spark):
    """F7: the per-file gate must broadcast the tiny bad-file set, not
    shuffle the full scan."""
    plan = plan_of(spark, "strict_file_gate")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan, plan


def test_exists_subquery_decorrelates_to_semi_join(spark):
    plan = plan_of(spark, "subquery_exists_correlated")
    assert "LeftSemi" in plan, plan


def test_minhash_band_join_not_cartesian(spark):
    """The LSH candidate join must be an equi-join on (band, key)."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_aggregates_partial_then_final(spark):
    """Map-side partial aggregation (two HashAggregate phases around
    the exchange) — the shape that bounds shuffle volume at scale."""
    plan = plan_of(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_row_position_no_single_partition_window(spark):
    """P7's global row position must never be a partition-less window
    OVER THE DATA (collapses the table into one task at scale). Two
    acceptable shapes: the dense-key fast path (footer statistics prove
    row_count == max-min+1 with no nulls, so position is the pure
    projection key-min+1 — no window, no exchange at all), else the
    bucketed path whose only SinglePartition is the prefix-sum window
    over the PER-BUCKET AGGREGATE (<= 65536 rows by construction)."""
    plan = plan_of(spark, "round_robin_synthetic_key")
    if "Window" not in plan:
        # Dense fast path: a pure projection must not shuffle at all.
        assert "Exchange" not in plan, plan
    else:
        # The main row_number window must be hash-partitioned by bucket.
        assert "hashpartitioning(_rp_bucket" in plan, plan
        # formatted mode puts the partitioning on an Arguments: line, so
        # count the bare token: exactly the offsets branch, nothing else.
        assert plan.count("SinglePartition") <= 1, plan
        if "SinglePartition" in plan:
            # It must be fed by the per-bucket count aggregate (the only
            # producer of _rp_cnt), i.e. bounded rows — not raw data.
            assert "_rp_cnt" in plan, plan


def test_row_position_general_path_plan(spark):
    """The bucketed general path (no statistics supplied): the
    row_number window must run on hashpartitioning(bucket), and the
    only SinglePartition may be the bounded per-bucket-aggregate
    prefix sum — never a window over the raw data."""
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.functions.positions import with_row_position

    # Non-dense keys (gaps) so no fast path can ever apply.
    df = spark.range(0, 1000).select((F.col("id") * 7).alias("k"))
    out = with_row_position(df, "k", col_name="pos", persist=False)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "hashpartitioning(_rp_bucket" in plan, plan
    assert plan.count("SinglePartition") <= 1, plan
    if "SinglePartition" in plan:
        assert "_rp_cnt" in plan, plan

    # And it is exact: identical to the global-window positions.
    from pyspark.sql import Window

    expect = df.withColumn("pos", F.row_number().over(Window.orderBy("k")))
    assert sorted((r.k, r.pos) for r in out.collect()) == sorted(
        (r.k, r.pos) for r in expect.collect()
    )


def test_clean_corpus_no_corpus_sized_broadcast(spark):
    """Keeper selection must be a window over the content hash — a
    broadcast of the corpus-sized keeper set would OOM the driver at
    scale, and a global window would serialize."""
    plan = plan_of(spark, "clean_corpus_pipeline")
    assert "BroadcastExchange" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(md5" in plan or "hashpartitioning(_w" in plan, plan
    # the window ships md5(text), never the text itself
    exchanged = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert exchanged and not any("text#" in x for x in exchanged), plan


def test_bucketed_join_removes_shuffle(spark, tmp_path):
    """Fact-fact joins on the bucket key read co-located buckets: no
    Exchange on either side of the SortMergeJoin."""
    from data_pipeline_project_spark.sinks.sinks import write_bucketed
    from data_pipeline_project_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'")
    try:
        orders = load_table(spark, "orders", SF_ORACLE)
        cust = load_table(spark, "customer", SF_ORACLE)
        write_bucketed(orders, "bdemo.orders_b", ["o_custkey"], 8)
        write_bucketed(cust, "bdemo.customer_b", ["c_custkey"], 8)

        joined = spark.table("bdemo.orders_b").join(
            spark.table("bdemo.customer_b").hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: result matches the unbucketed join
        plain = orders.join(cust, F.col("o_custkey") == F.col("c_custkey")).count()
        assert joined.count() == plain
    finally:
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")


def test_asof_join_union_window_no_join_node(spark):
    """The as-of join's union-window rewrite must plan as exactly one
    hash shuffle (the per-key window) with NO join node — run against
    driver-typed parquet (TIMESTAMP_NTZ), the type combination the
    fixture-only tests missed in round 3."""
    plan = plan_of(spark, "asof_join_last_click")
    assert "Join" not in plan, plan
    # formatted mode lists each Exchange as a numbered node with its
    # partitioning on a separate Arguments: line
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_range_join_bucketed_equi_rewrite(spark):
    """The interval range join must plan as an equi join on
    (keys, bucket) — never a nested-loop or cartesian fallback."""
    plan = plan_of(spark, "range_join_error_windows")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def _split_top_level(s: str) -> list[str]:
    """The comma-separated items of the bracketed list that opens
    ``s`` (commas nested in ()/[] belong to their item)."""
    items, depth, start = [], 0, 1
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth == 0:
                items.append(s[start:i].strip())
                return [x for x in items if x]
        elif ch == "," and depth == 1:
            items.append(s[start:i].strip())
            start = i + 1
    return items


def duplicate_python_evals(plan: str) -> list[str]:
    """Python UDFs that two distinct eval nodes of a formatted plan
    both compute. A UDF prints as ``name(inputs)#resultId``, so two
    nodes listing the same string run the same kernel over the same
    input attributes twice — what Catalyst produces when it pushes a
    filter on a UDF result below the projection that computes it."""
    nodes: dict[str, set[str]] = {}
    node = None
    for line in plan.splitlines():
        m = re.match(r"\((\d+)\) (ArrowEvalPython|BatchEvalPython)\b", line)
        if m:
            node = m.group(1)
        elif line.startswith("(") or not line.strip():
            node = None
        elif node and line.startswith("Arguments: "):
            for udf in _split_top_level(line[len("Arguments: "):]):
                nodes.setdefault(udf, set()).add(node)
    return sorted(udf for udf, ids in nodes.items() if len(ids) > 1)


def test_duplicate_python_evals_detector():
    """The sweep's detector on a hand-written plan: the pushed-down
    twin of one UDF is flagged, two different UDFs are not."""
    plan = "\n".join([
        "(7) ArrowEvalPython",
        "Input [2]: [doc_id#0L, text#1]",
        "Arguments: [kernel(text#1)#5, f(struct(a, b#2, c#3))#6], [pythonUDF0#12], 200",
        "",
        "(10) ArrowEvalPython",
        "Input [2]: [doc_id#0L, text#1]",
        "Arguments: [kernel(text#1)#5], [pythonUDF0#13], 200",
        "",
        "(11) ArrowEvalPython",
        "Arguments: [kernel(text#9)#8], [pythonUDF0#14], 200",
    ])
    assert duplicate_python_evals(plan) == ["kernel(text#1)#5"]


# Queries whose physical plan legitimately contains a broadcast
# nested-loop join: each broadcasts a bounded side by design.
_BNLJ_BY_DESIGN = {
    "similarity_topk_bruteforce", # bounded query set broadcast against the corpus scan
    "tfidf_top_terms",            # single-row corpus-size scalar cross join
    "bigram_logprob_score",       # 1-row train-corpus-size (N) scalar cross joins
}

# Queries whose plan legitimately contains an Exchange SinglePartition:
# all are global scalar reductions where only map-side PARTIAL aggregate
# rows (one per upstream partition) reach the single-partition final
# agg — bounded by partition count, not data size. The anti-pattern
# this sweep hunts is a full-data global window/sort.
_SINGLE_PARTITION_BY_DESIGN = {
    "set_union_intersect_except",  # 3-row set-op cardinality summary
    "tfidf_top_terms",             # single-row corpus-size scalar
    "watermark_late_events",       # prefix max over the per-bucket
                                   # aggregate: <= 4096 rows by construction
    "bigram_logprob_score",        # the 1-row N aggregate feeding the scalars
}


def test_registry_wide_plan_sweep(spark):
    """Every registered query's physical plan is free of the patterns
    that are invisible at sf0.01 and catastrophic at 100 TB:

    - CartesianProduct (unbounded pairwise blowup)
    - BroadcastNestedLoopJoin outside the documented allowlist
    - BatchEvalPython (row-at-a-time Python UDF — all Python here must
      be Arrow-batched)
    - Exchange SinglePartition (a global window/sort collapsing the
      dataset into one task)
    """
    problems = []
    for name, fn in sorted(get_queries().items()):
        df = fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_BY_DESIGN:
            problems.append(f"{name}: BroadcastNestedLoopJoin (not allowlisted)")
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-at-a-time Python UDF")
        for udf in duplicate_python_evals(plan):
            problems.append(f"{name}: {udf} evaluated by two Python nodes")
        if "SinglePartition" in plan and name not in _SINGLE_PARTITION_BY_DESIGN:
            problems.append(f"{name}: SinglePartition exchange (not allowlisted)")
    assert not problems, problems


def test_deregistered_query_plan_sweep(spark):
    """The same 100 TB anti-pattern sweep, over the oracle-checked
    queries OUTSIDE the driver registry (tests/conftest.py
    EXTRA_ORACLE_QUERIES) — extension operators must meet the same
    plan bar as registry rows."""
    import importlib

    from tests.conftest import EXTRA_ORACLE_QUERIES

    # Single-row scalar cross joins (bounded by partial-agg rows):
    bnlj_ok = {
        "heavy_hitter_terms",
        "referential_integrity_audit",
        "unigram_logprob_score",  # corpus-size scalar onto the vocab agg
        "dedup_ngram_jaccard",  # sampled quadratic baseline — the cross join IS the op
        "shard_mixing_quality",  # single-row corpus-total scalar cross join
        "join_skew_report",  # 10-row top-keys x 1-row stats cross join
        "hard_negatives_topk",  # bounded query-set broadcast, same as
                                # similarity_topk_bruteforce
        "distribution_drift_psi",  # 7-bucket x 1-row totals cross join
        "temperature_mixture_budgets",  # two bounded scalar cross joins
        "q11_important_stock",  # 1-row grand-total scalar cross join
        "q15_top_supplier",  # 1-row max-revenue scalar cross join
        "q22_global_sales",  # 1-row cohort-average scalar cross join
        "histogram_quantiles",  # 2-row quantile list broadcast onto the
                                # (group, bin)-bounded cumulative table
        "minhash_lsh_recall",  # bounded 500-doc exact-truth window (the
                               # same deliberate quadratic as
                               # dedup_ngram_jaccard) + 1-row scalar join
        "bigram_logprob_score",  # 1-row corpus-total (N) scalar cross joins
    }
    single_ok = {
        "heavy_hitter_terms",
        "referential_integrity_audit",
        "unigram_logprob_score",
        "table_profile",  # one bounded global aggregate IS the query
        "data_expectations",  # same shape: one bounded global aggregate
        "round_robin_synthetic_key",  # prefix-sum window over the per-bucket
                                      # aggregate: <= 65536 rows by construction
                                      # (pinned by its dedicated plan test)
        "subquery_scalar_avg",  # scalar AVG subquery value
        "shard_mixing_quality",  # bounded (shard x source) aggregate total
        "temperature_mixture_budgets",  # source-count-bounded normalizer
        "funnel_conversion",  # three global step COUNTS: only map-side
                              # partial-agg rows reach the final agg
        "join_skew_report",  # scalar stats row + rank window over the
                             # 10-row TakeOrdered result
        "distribution_drift_psi",  # bounded 7-bucket aggregate totals
        "q19_disjunctive_predicates",  # single-row global revenue scalar:
                                       # only partial-agg rows reach it
        "q6_forecast_revenue",  # single-row global revenue scalar
        "q11_important_stock",  # 1-row grand total off the persisted agg
        "q15_top_supplier",  # 1-row max off the persisted revenue agg
        "q17_small_qty_revenue",  # single-row global revenue scalar
        "q14_promo_revenue",  # single-row promo-revenue ratio (r9 swap-out)
        "q22_global_sales",  # 1-row cohort average off the persisted cohort
        "set_ops_all_variants",  # three global scalar counts (one per set op):
                                 # only partial-agg rows reach each final agg
        "minhash_lsh_recall",  # two scalar pair counts
        "bigram_logprob_score",  # the 1-row N aggregate feeding the scalars
        "token_entropy",  # (deregistered twin check) none expected — safe
        "zipf_fit",  # the rank window runs over the VOCABULARY (corpus-
                     # bounded aggregate, not the corpus) + 1-row
                     # regression scalars; at warehouse scale shard the
                     # rank with the positions bucketing if vocab > 1e8
    }

    from data_pipeline_project_spark.functions.persist_scope import (
        release_scoped_persists,
    )

    problems = []
    for mod_name, fn_name, _ in EXTRA_ORACLE_QUERIES:
        release_scoped_persists()
        mod = importlib.import_module(
            f"data_pipeline_project_spark.plans.{mod_name}"
        )
        df = getattr(mod, fn_name)(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        if "CartesianProduct" in plan:
            problems.append(f"{fn_name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and fn_name not in bnlj_ok:
            problems.append(f"{fn_name}: BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:
            problems.append(f"{fn_name}: row-at-a-time Python UDF")
        for udf in duplicate_python_evals(plan):
            problems.append(f"{fn_name}: {udf} evaluated by two Python nodes")
        if "SinglePartition" in plan and fn_name not in single_ok:
            problems.append(f"{fn_name}: SinglePartition exchange")
    assert not problems, problems


def test_q8_all_dims_broadcast_one_exchange(spark):
    """The 8-table q8 must resolve every dim join as a broadcast (no
    SortMergeJoin at this scale) with filters pushed to the scans and
    exactly one Exchange (the final year aggregate)."""
    plan = plan_of(spark, "q8_market_share")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_type" in x for x in pushed), plan
    assert any("o_orderdate" in x for x in pushed), plan


def test_runtime_bloom_filter_injected_on_shuffle_join(spark):
    """Engine-level runtime filtering: when a selective dim filters a
    shuffle join, Catalyst's InjectRuntimeFilter should plant a bloom
    filter on the fact side (BloomFilterMightContain / bloom_filter_agg
    in the plan), so fact rows that cannot match die at the scan
    instead of crossing the exchange — at 100 TB that is the
    difference between shuffling the table and shuffling the match
    set. Thresholds are forced to zero because the oracle-SF tables sit
    below the production defaults (10 MB creation side)."""
    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creationSideThreshold must ADMIT the small build side…
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        # …and the probe-side floor must not reject the small fact
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, "lineitem", SF_ORACLE)
        o = load_table(spark, "orders", SF_ORACLE).where(
            F2.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan.lower() or "bloomfilter" in plan.lower(), plan
        # and the filter run produces correct results
        assert joined.collect()[0]["count"] > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bulk_merge_anti_join_never_broadcasts_keys(spark):
    """merge_bulk exists BECAUSE the update keys exceed broadcast scale:
    its whole-table left_anti must be a shuffle join (shuffle_hash hint)
    even when the key side is tiny enough that Spark would otherwise
    broadcast it. A BroadcastHashJoin here means the hint regressed and
    a 10^8-key change batch would OOM the driver at scale."""
    from data_pipeline_project_spark.sinks.manifest import bulk_merge_frame

    target = spark.range(0, 100_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    updates = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    df = bulk_merge_frame(target, updates, "k", ["k", "v"])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan, plan
