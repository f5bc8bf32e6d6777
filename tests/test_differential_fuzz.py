"""Differential query fuzzing: seeded random plans run on BOTH engines.

Beyond the fixed 50-query oracle board, every seed here builds a random
filter/join/group-by/having plan (tests/differential_gen.py) and
asserts Spark == DuckDB on row count, column names, dtype class, and
order-insensitive values — the exact compare the driver's correctness
gate applies. The grammar is integer-exact by construction (no float
aggregation order to diverge), so ANY mismatch is a real bug in either
an engine translation or this repo's expression semantics.

A fixed seed range keeps the suite deterministic and CI-fast; bump
N_SEEDS locally for a deeper soak.
"""

from __future__ import annotations

import pytest

from tests.differential_gen import (
    generate,
    generate_asof,
    generate_cc,
    generate_date,
    generate_ewma,
    generate_gen,
    generate_null,
    generate_range,
    generate_session,
    generate_setop,
    generate_str,
    generate_window,
    render_asof_spark,
    render_cc_spark,
    render_date_spark,
    render_ewma_spark,
    render_gen_spark,
    render_null_spark,
    render_range_spark,
    render_session_spark,
    render_setop_spark,
    render_spark,
    render_str_spark,
    render_window_spark,
)
from tests.oracle_harness import compare, run_oracle

from tests.conftest import SF_ORACLE, SF_SMALL

N_SEEDS = 60
# A handful of seeds re-checked at 10x the data (different group
# cardinalities and join fan-outs) to catch volume-dependent drift.
DEEP_SEEDS = [3, 11, 17, 29, 42]


@pytest.mark.parametrize("seed", range(N_SEEDS))
def test_random_plan_parity(spark, duck, seed):
    plan, sql = generate(seed)
    spark_pd = render_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"seed {seed}: {problems}\nSQL: {sql}"


@pytest.mark.parametrize("seed", DEEP_SEEDS)
def test_random_plan_parity_at_oracle_sf(spark, duck, seed):
    plan, sql = generate(seed)
    spark_pd = render_spark(plan, spark, SF_ORACLE).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_ORACLE)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"seed {seed}: {problems}\nSQL: {sql}"


N_WINDOW_SEEDS = 30


@pytest.mark.parametrize("seed", range(N_WINDOW_SEEDS))
def test_random_window_plan_parity(spark, duck, seed):
    plan, sql = generate_window(seed)
    spark_pd = render_window_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"window seed {seed}: {problems}\nSQL: {sql}"


N_DATE_SEEDS = 25


@pytest.mark.parametrize("seed", range(N_DATE_SEEDS))
def test_random_date_plan_parity(spark, duck, seed):
    plan, sql = generate_date(seed)
    spark_pd = render_date_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"date seed {seed}: {problems}\nSQL: {sql}"


N_NULL_SEEDS = 25


@pytest.mark.parametrize("seed", range(N_NULL_SEEDS))
def test_random_null_semantics_parity(spark, duck, seed):
    """Three-valued logic as the fuzz subject: nullif-injected nulls
    through NULL-propagating arithmetic, UNKNOWN predicates, IS [NOT]
    NULL, null-safe equality, null-skipping aggregates, and NULL group
    keys."""
    plan, sql = generate_null(seed)
    spark_pd = render_null_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"null seed {seed}: {problems}\nSQL: {sql}"


def test_null_generator_exercises_every_shape():
    kinds, preds = set(), set()
    grouped = 0
    for seed in range(N_NULL_SEEDS * 2):
        plan, _ = generate_null(seed)
        grouped += plan["group_key"] is not None
        kinds.update(k for k, _, _ in plan["aggs"])

        def walk(n):
            preds.add(type(n).__name__)
            for v in vars(n).values():
                if hasattr(v, "sql"):
                    walk(v)

        walk(plan["where"])
    assert kinds == {
        "count_star", "count_expr", "count_distinct", "sum", "min", "max"
    }
    assert {"IsNullP", "NullSafeEq", "NullIfLeaf", "Cmp"} <= preds
    assert grouped >= 10


N_SESSION_SEEDS = 15


@pytest.mark.parametrize("seed", range(N_SESSION_SEEDS))
def test_random_sessionization_parity(spark, duck, seed):
    """Gap-based sessionization across gap thresholds, key remappings,
    and filters; epoch-microsecond gap compares (unix_timestamp would
    truncate sub-seconds on the Spark side only)."""
    plan, sql = generate_session(seed)
    spark_pd = render_session_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, (
        f"session seed {seed} (gap={plan['gap_s']}s, m={plan['m']}, "
        f"agg={plan['agg']}): {problems}"
    )


def test_session_generator_exercises_every_shape():
    gaps, ms, aggs = set(), set(), set()
    for seed in range(N_SESSION_SEEDS * 3):
        plan, _ = generate_session(seed)
        gaps.add(plan["gap_s"])
        ms.add(plan["m"])
        aggs.add(plan["agg"])
    assert len(gaps) == 4 and ms == {1, 3, 7, 15} and aggs == {True, False}


N_EWMA_SEEDS = 15


@pytest.mark.parametrize("seed", range(N_EWMA_SEEDS))
def test_random_ewma_plan_parity(spark, duck, seed):
    """Fuzzes the per-partition stateful EWMA kernel against a DuckDB
    recursive CTE replaying the identical float64 recurrence, across
    alphas, merged-key cardinalities, and filters."""
    plan, sql = generate_ewma(seed)
    spark_pd = render_ewma_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, (
        f"ewma seed {seed} (alpha={plan['alpha']}, m={plan['m']}): {problems}"
    )


def test_ewma_generator_exercises_every_shape():
    alphas, ms = set(), set()
    for seed in range(N_EWMA_SEEDS * 3):
        plan, _ = generate_ewma(seed)
        alphas.add(plan["alpha"])
        ms.add(plan["m"])
    assert len(alphas) >= 5 and ms == {1, 3, 7, 15}


N_CC_SEEDS = 10  # iterative operator, ~3 s/seed — keep CI bounded


@pytest.mark.parametrize("seed", range(N_CC_SEEDS))
def test_random_connected_components_parity(spark, duck, seed):
    """Fuzzes connected_components, union-find side and distributed
    rounds, against a recursive-CTE transitive closure over
    hash/chain/star graph topologies."""
    plan, sql = generate_cc(seed)
    spark_pd = render_cc_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    # an empty pair list takes the union-find side whatever the gate
    assert plan["ran"] == plan["side"] or spark_pd.empty, plan
    problems = compare(spark_pd, oracle_pd)
    assert not problems, (
        f"cc seed {seed} ({plan['mode']}, side={plan['side']}, n={plan['n']}): {problems}"
    )


def test_cc_generator_exercises_every_shape():
    shapes = set()
    for seed in range(N_CC_SEEDS):
        plan, _ = generate_cc(seed)
        shapes.add((plan["mode"], plan["side"]))
    assert {m for m, _ in shapes} == {"hash", "chain", "star"}
    assert ("chain", "rounds") in shapes and ("chain", "union_find") in shapes


N_RANGE_SEEDS = 20


@pytest.mark.parametrize("seed", range(N_RANGE_SEEDS))
def test_random_range_join_parity(spark, duck, seed):
    """Fuzzes the repo's bucketed interval_range_join /
    interval_overlap_join against DuckDB's direct inequality joins."""
    plan, sql = generate_range(seed)
    spark_pd = render_range_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"range seed {seed}: {problems}\nSQL: {sql}"


def test_range_generator_exercises_every_shape():
    modes, buckets = set(), set()
    keyless = 0
    for seed in range(N_RANGE_SEEDS * 2):
        plan, _ = generate_range(seed)
        modes.add(plan["mode"])
        buckets.add(plan["bucket_seconds"])
        keyless += plan["m"] is None
    assert modes == {"range", "overlap"}
    assert buckets == {3600, 86400, 7 * 86400}
    assert keyless >= 3


N_GEN_SEEDS = 25


@pytest.mark.parametrize("seed", range(N_GEN_SEEDS))
def test_random_generate_plan_parity(spark, duck, seed):
    plan, sql = generate_gen(seed)
    spark_pd = render_gen_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"generate seed {seed}: {problems}\nSQL: {sql}"


def test_generate_generator_exercises_every_shape():
    kinds = set()
    for seed in range(N_GEN_SEEDS):
        plan, _ = generate_gen(seed)
        kinds.add(plan["kind"])
    assert kinds == {"explode", "posexplode", "explode_group", "hof_scalar"}


# One volume re-check per new family at 10x data (join fan-outs, group
# cardinalities, and as-of window sizes all change with volume).
@pytest.mark.parametrize(
    "gen,render,seed",
    [
        (generate_str, render_str_spark, 7),
        (generate_setop, render_setop_spark, 11),
        (generate_asof, render_asof_spark, 5),
        (generate_gen, render_gen_spark, 3),
    ],
    ids=["str", "setop", "asof", "generate"],
)
def test_new_family_parity_at_oracle_sf(spark, duck, gen, render, seed):
    plan, sql = gen(seed)
    spark_pd = render(plan, spark, SF_ORACLE).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_ORACLE)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"{gen.__name__} seed {seed} at sf0.01: {problems}\nSQL: {sql}"


N_ASOF_SEEDS = 20


@pytest.mark.parametrize("seed", range(N_ASOF_SEEDS))
def test_random_asof_plan_parity(spark, duck, seed):
    """Unlike the other families (Spark built-ins), this one fuzzes the
    repo's OWN asof_join operator against DuckDB's native ASOF JOIN."""
    plan, sql = generate_asof(seed)
    spark_pd = render_asof_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"asof seed {seed}: {problems}\nSQL: {sql}"


def test_asof_generator_exercises_every_shape():
    dirs, ms = set(), set()
    tols = 0
    for seed in range(N_ASOF_SEEDS):
        plan, _ = generate_asof(seed)
        dirs.add(plan["direction"])
        ms.add(plan["m"])
        tols += plan["tolerance_days"] is not None
    assert dirs == {"backward", "forward"}
    assert len(ms) >= 3  # hot single-key AND spread-key shapes both appear
    assert tols >= 3


N_SETOP_SEEDS = 30


@pytest.mark.parametrize("seed", range(N_SETOP_SEEDS))
def test_random_setop_plan_parity(spark, duck, seed):
    plan, sql = generate_setop(seed)
    spark_pd = render_setop_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"setop seed {seed}: {problems}\nSQL: {sql}"


def test_setop_generator_exercises_every_shape():
    ops, subs = set(), set()
    outer_aggs = 0
    for seed in range(60):  # CI range x2: shape coverage needs the tail
        plan, _ = generate_setop(seed)
        if plan["kind"] == "setop":
            ops.add(plan["op_name"])
            outer_aggs += plan["outer_agg"]
        else:
            subs.add(plan["sub"])
    assert ops == {
        "union_all", "union", "intersect", "intersect_all", "except", "except_all"
    }, ops
    assert subs == {"in", "not_in", "exists", "not_exists", "scalar"}, subs
    assert outer_aggs >= 3


N_STR_SEEDS = 30


@pytest.mark.parametrize("seed", range(N_STR_SEEDS))
def test_random_str_plan_parity(spark, duck, seed):
    plan, sql = generate_str(seed)
    spark_pd = render_str_spark(plan, spark, SF_SMALL).toPandas()
    oracle_pd = run_oracle(duck, sql, SF_SMALL)
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"str seed {seed}: {problems}\nSQL: {sql}"


def test_str_generator_exercises_every_shape():
    groups, tables, node_types = set(), set(), set()
    having = 0
    for seed in range(N_STR_SEEDS):
        plan, _ = generate_str(seed)
        groups.add(plan["group"])
        tables.add(plan["table"])
        having += plan["having"] is not None

        def walk(n):
            node_types.add(type(n).__name__)
            for v in vars(n).values():
                if hasattr(v, "sql"):
                    walk(v)

        walk(plan["where"])
        for _, expr, _ in plan["aggs"]:
            if expr is not None:
                walk(expr)
    assert groups == {"none", "first_char", "len_mod", "enum"}
    assert tables == {"part", "customer"}
    assert having >= 3
    # every string node class must appear somewhere in the seed range
    expected = {
        "StrLeaf", "StrCase", "SubstrS", "ConcatS", "ReplaceS", "PadS",
        "SideS", "TranslateS", "SplitPartS", "LengthS", "InstrS", "LikeS",
    }
    assert expected <= node_types, expected - node_types


def test_date_generator_exercises_every_shape():
    groups = set()
    preds = set()
    shifted = 0
    tables = set()
    for seed in range(N_DATE_SEEDS):
        plan, _ = generate_date(seed)
        groups.add(plan["group"])
        preds.update(p[0] for p in plan["preds"])
        shifted += plan["shift_days"] is not None
        tables.add(plan["table"])
    assert groups == {"year", "year_month", "trunc_month", "quarter", "none"}
    assert preds == {"year_cmp", "month_in", "between"}
    assert shifted >= 3 and tables == {"orders", "lineitem"}


def test_window_generator_exercises_every_shape():
    shapes = {"partitioned": 0, "global": 0, "bucketed": 0, "topk": 0, "sorted_expr": 0}
    kinds = set()
    for seed in range(N_WINDOW_SEEDS):
        plan, _ = generate_window(seed)
        shapes["partitioned" if (plan["parts"] or plan["part_bucket"]) else "global"] += 1
        shapes["bucketed"] += plan["part_bucket"] is not None
        shapes["topk"] += plan["topk"] is not None
        shapes["sorted_expr"] += plan["sort_expr"] is not None
        kinds.update(k for k, _, _ in plan["funcs"])
    assert all(v >= 3 for v in shapes.values()), shapes
    assert kinds == {
        "row_number", "rank", "dense_rank", "running_sum",
        "lag", "lead", "running_count",
    }


def test_generator_exercises_every_shape():
    """The seed range actually covers the grammar: joins, global aggs,
    grouped aggs, having, buckets, every aggregate kind. Guards against
    a generator regression quietly narrowing fuzz coverage."""
    shapes = {"joined": 0, "global": 0, "grouped": 0, "having": 0, "bucket": 0}
    agg_kinds = set()
    for seed in range(N_SEEDS):
        plan, _ = generate(seed)
        shapes["joined"] += plan["joined"]
        shapes["grouped" if plan["keys"] else "global"] += 1
        shapes["having"] += plan["having"] is not None
        shapes["bucket"] += plan["bucket"] is not None
        agg_kinds.update(kind for kind, _, _ in plan["aggs"])
    assert all(v >= 3 for v in shapes.values()), shapes
    assert agg_kinds == {"sum", "min", "max", "count", "count_distinct"}


def test_generator_is_deterministic():
    """Same seed → byte-identical SQL (replays must reproduce)."""
    for seed in (0, 7, 31):
        assert generate(seed)[1] == generate(seed)[1]


# ---------------------------------------------------------------------------
# Three-way parity: the SQL front door on machine-generated queries
# ---------------------------------------------------------------------------
# Families A (group-by) and E (set-op/subquery) render ENGINE-NEUTRAL
# ANSI SQL, so the same text runs through spark.sql over temp views —
# extending tests/test_sql_api.py's 11 curated shapes with fuzz
# breadth: spark.sql(sql) == DataFrame twin == DuckDB, per seed.

N_SQL3_SEEDS = 15


_SQL_VIEW_TABLES = ("lineitem", "orders", "part", "customer")


@pytest.fixture()
def sql_views(spark):
    from data_pipeline_project_spark.sources.tables import load_table

    for t in _SQL_VIEW_TABLES:
        load_table(spark, t, SF_SMALL).createOrReplaceTempView(t)
    yield
    for t in _SQL_VIEW_TABLES:
        spark.catalog.dropTempView(t)


@pytest.mark.parametrize("seed", range(N_SQL3_SEEDS))
def test_sql_front_door_three_way_parity(spark, duck, sql_views, seed):
    plan, sql = generate(seed)
    via_sql = spark.sql(sql).toPandas()
    via_df = render_spark(plan, spark, SF_SMALL).toPandas()
    via_duck = run_oracle(duck, sql, SF_SMALL)
    assert not compare(via_sql, via_duck), f"seed {seed} spark.sql vs duckdb\n{sql}"
    assert not compare(via_sql, via_df), f"seed {seed} spark.sql vs DataFrame\n{sql}"


@pytest.mark.parametrize("seed", range(N_SQL3_SEEDS))
def test_sql_front_door_setop_parity(spark, duck, sql_views, seed):
    plan, sql = generate_setop(seed)
    via_sql = spark.sql(sql).toPandas()
    via_duck = run_oracle(duck, sql, SF_SMALL)
    assert not compare(via_sql, via_duck), f"setop seed {seed} spark.sql vs duckdb\n{sql}"


@pytest.mark.parametrize("seed", range(N_SQL3_SEEDS))
def test_sql_front_door_null_parity(spark, duck, sql_views, seed):
    """Family L's SQL is engine-neutral (nullif, IS NOT DISTINCT FROM):
    three-valued logic through spark.sql too."""
    plan, sql = generate_null(seed)
    via_sql = spark.sql(sql).toPandas()
    via_duck = run_oracle(duck, sql, SF_SMALL)
    assert not compare(via_sql, via_duck), f"null seed {seed} spark.sql vs duckdb\n{sql}"


@pytest.mark.parametrize("seed", range(N_SQL3_SEEDS))
def test_sql_front_door_string_parity(spark, duck, sql_views, seed):
    """Family D's SQL is engine-neutral too (ANSI position(x IN y)
    instead of strpos): string kernels through spark.sql."""
    plan, sql = generate_str(seed)
    via_sql = spark.sql(sql).toPandas()
    via_duck = run_oracle(duck, sql, SF_SMALL)
    assert not compare(via_sql, via_duck), f"str seed {seed} spark.sql vs duckdb\n{sql}"
