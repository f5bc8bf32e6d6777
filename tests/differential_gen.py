"""Seeded random-plan generator for differential (Spark vs DuckDB)
query fuzzing.

Each seed deterministically builds ONE logical plan as a small AST and
renders it twice: as a PySpark DataFrame expression tree and as ANSI
SQL for DuckDB. The two engines run the *same* logical query over the
same parquet tables; any value divergence is an engine-semantics or
translation bug. This extends the fixed 50-query oracle board with an
unbounded family of machine-generated shapes (filter / join /
group-by / having over arithmetic, CASE, string and comparison
expressions).

Cross-engine value-domain rules (why the grammar looks restricted):
- Integer-only arithmetic. Float aggregation order differs between
  engines (and between Spark partition counts), so sums over doubles
  are not hash-stable. Every numeric leaf is ``col % K`` (K <= 997),
  bounding magnitudes so products stay far from BIGINT overflow —
  Spark runs ANSI mode where overflow *throws* rather than wraps.
- ``%`` keeps C/Java remainder semantics (sign of dividend) in both
  engines; divisors are positive literals only, never 0.
- Every CASE has an ELSE and every aggregate is wrapped in
  ``coalesce`` so the all-rows-filtered edge cannot produce a NULL
  BIGINT column (pandas would widen it to float64 on one side only).
- DuckDB ``sum(BIGINT)`` returns HUGEINT (→ float64 in pandas); the
  SQL side casts back to BIGINT. Spark's sum(BIGINT) is BIGINT.
- String predicates use only =/<>/IN on single ASCII chars, so
  collation differences cannot surface.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
FLAG_VALUES = ["A", "N", "R"]
STATUS_VALUES = ["O", "F"]
ORDER_INT_COLS = ["o_orderkey", "o_custkey"]
PRIORITY_VALUES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class Node:
    def sql(self) -> str:
        raise NotImplementedError

    def spark(self) -> Column:
        raise NotImplementedError


class IntLeaf(Node):
    """Bounded integer leaf: ``col % k`` (k positive → result sign of
    dividend; all source columns are non-negative, so non-negative)."""

    def __init__(self, col: str, k: int):
        self.col, self.k = col, k

    def sql(self) -> str:
        return f"({self.col} % {self.k})"

    def spark(self) -> Column:
        return F.col(self.col) % F.lit(self.k)


class IntLit(Node):
    def __init__(self, v: int):
        self.v = v

    def sql(self) -> str:
        return str(self.v)

    def spark(self) -> Column:
        return F.lit(self.v)


class BinOp(Node):
    def __init__(self, op: str, a: Node, b: Node):
        self.op, self.a, self.b = op, a, b

    def sql(self) -> str:
        return f"({self.a.sql()} {self.op} {self.b.sql()})"

    def spark(self) -> Column:
        x, y = self.a.spark(), self.b.spark()
        return {"+": x + y, "-": x - y, "*": x * y}[self.op]


class Func2(Node):
    def __init__(self, fn: str, a: Node, b: Node):
        self.fn, self.a, self.b = fn, a, b

    def sql(self) -> str:
        return f"{self.fn}({self.a.sql()}, {self.b.sql()})"

    def spark(self) -> Column:
        f = {"least": F.least, "greatest": F.greatest}[self.fn]
        return f(self.a.spark(), self.b.spark())


class Abs(Node):
    def __init__(self, a: Node):
        self.a = a

    def sql(self) -> str:
        return f"abs({self.a.sql()})"

    def spark(self) -> Column:
        return F.abs(self.a.spark())


class CaseWhen(Node):
    def __init__(self, pred: "Pred", a: Node, b: Node):
        self.pred, self.a, self.b = pred, a, b

    def sql(self) -> str:
        return f"(CASE WHEN {self.pred.sql()} THEN {self.a.sql()} ELSE {self.b.sql()} END)"

    def spark(self) -> Column:
        return F.when(self.pred.spark(), self.a.spark()).otherwise(self.b.spark())


class Pred(Node):
    pass


class Cmp(Pred):
    def __init__(self, op: str, a: Node, b: Node):
        self.op, self.a, self.b = op, a, b

    def sql(self) -> str:
        sql_op = "<>" if self.op == "!=" else self.op
        return f"({self.a.sql()} {sql_op} {self.b.sql()})"

    def spark(self) -> Column:
        x, y = self.a.spark(), self.b.spark()
        return {
            "<": x < y, "<=": x <= y, "=": x == y,
            "!=": x != y, ">": x > y, ">=": x >= y,
        }[self.op]


class StrEq(Pred):
    def __init__(self, col: str, value: str, negate: bool):
        self.col, self.value, self.negate = col, value, negate

    def sql(self) -> str:
        op = "<>" if self.negate else "="
        return f"({self.col} {op} '{self.value}')"

    def spark(self) -> Column:
        c = F.col(self.col)
        return c != self.value if self.negate else c == self.value


class StrIn(Pred):
    def __init__(self, col: str, values: list[str]):
        self.col, self.values = col, values

    def sql(self) -> str:
        vals = ", ".join(f"'{v}'" for v in self.values)
        return f"({self.col} IN ({vals}))"

    def spark(self) -> Column:
        return F.col(self.col).isin(self.values)


class BoolOp(Pred):
    def __init__(self, op: str, a: Pred, b: Pred):
        self.op, self.a, self.b = op, a, b

    def sql(self) -> str:
        return f"({self.a.sql()} {self.op.upper()} {self.b.sql()})"

    def spark(self) -> Column:
        x, y = self.a.spark(), self.b.spark()
        return (x & y) if self.op == "and" else (x | y)


class NotP(Pred):
    def __init__(self, a: Pred):
        self.a = a

    def sql(self) -> str:
        return f"(NOT {self.a.sql()})"

    def spark(self) -> Column:
        return ~self.a.spark()


# ---------------------------------------------------------------------------
# Generator
# ---------------------------------------------------------------------------


class PlanGen:
    """One seeded random plan over lineitem (optionally ⋈ orders)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.joined = self.rng.random() < 0.4
        self.int_cols = list(INT_COLS) + (ORDER_INT_COLS if self.joined else [])
        # Family E sets this for orders-side subquery predicates: string
        # leaves must reference ONLY orders columns, or the SQL rendering
        # becomes a correlated subquery (outer lineitem reference) while
        # the Spark rendering filters orders standalone.
        self.orders_only = False
        # Family G sets this for part-side expressions: predicate leaves
        # stay purely numeric (CASE conditions inside element exprs must
        # not reference lineitem/orders string columns).
        self.no_str_preds = False

    # -- expressions --------------------------------------------------------
    def int_expr(self, depth: int) -> Node:
        r = self.rng
        if depth <= 0 or r.random() < 0.3:
            if r.random() < 0.75:
                return IntLeaf(r.choice(self.int_cols), r.choice([7, 97, 251, 997]))
            return IntLit(r.randrange(0, 100))
        pick = r.random()
        if pick < 0.45:
            return BinOp(r.choice(["+", "-", "*"]), self.int_expr(depth - 1), self.int_expr(depth - 1))
        if pick < 0.60:
            return Func2(r.choice(["least", "greatest"]), self.int_expr(depth - 1), self.int_expr(depth - 1))
        if pick < 0.75:
            return Abs(self.int_expr(depth - 1))
        return CaseWhen(self.pred(depth - 1), self.int_expr(depth - 1), self.int_expr(depth - 1))

    def pred(self, depth: int) -> Pred:
        r = self.rng
        if depth <= 0 or r.random() < 0.4:
            pick = r.random()
            if pick < 0.55 or self.no_str_preds:
                return Cmp(r.choice(["<", "<=", "=", "!=", ">", ">="]),
                           self.int_expr(1), self.int_expr(1))
            if self.orders_only:
                if pick < 0.8:
                    return StrEq("o_orderstatus", r.choice(["F", "O", "P"]), r.random() < 0.5)
                return StrIn("o_orderpriority", r.sample(PRIORITY_VALUES, r.randrange(1, 4)))
            if pick < 0.75:
                return StrEq("l_returnflag", r.choice(FLAG_VALUES), r.random() < 0.5)
            if pick < 0.9:
                return StrIn("l_linestatus", r.sample(STATUS_VALUES, r.randrange(1, 3)))
            if self.joined:
                return StrIn("o_orderpriority",
                             r.sample(PRIORITY_VALUES, r.randrange(1, 4)))
            return StrEq("l_returnflag", r.choice(FLAG_VALUES), True)
        pick = r.random()
        if pick < 0.45:
            return BoolOp("and", self.pred(depth - 1), self.pred(depth - 1))
        if pick < 0.9:
            return BoolOp("or", self.pred(depth - 1), self.pred(depth - 1))
        return NotP(self.pred(depth - 1))

    # -- whole plan ---------------------------------------------------------
    def build(self) -> dict:
        r = self.rng
        where = self.pred(2)
        group_pool = ["l_returnflag", "l_linestatus"]
        if self.joined:
            group_pool.append("o_orderpriority")
        n_keys = r.randrange(0, 3)
        keys = r.sample(group_pool, n_keys)
        bucket = None
        if r.random() < 0.5:
            bucket = (r.choice(self.int_cols), r.choice([3, 5, 11]))
            keys = keys + ["bucket"]

        aggs = []
        n_aggs = r.randrange(2, 5)
        for i in range(n_aggs):
            kind = r.choice(["sum", "min", "max", "count", "count_distinct"])
            aggs.append((kind, self.int_expr(2), f"a{i}"))
        having = None
        if keys and r.random() < 0.4:
            having = r.randrange(1, 4)
        return {
            "joined": self.joined, "where": where, "keys": keys,
            "bucket": bucket, "aggs": aggs, "having": having,
        }


def render_sql(plan: dict) -> str:
    src = "lineitem"
    if plan["joined"]:
        src = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    select_keys = []
    group_keys = []
    for k in plan["keys"]:
        if k == "bucket":
            col, m = plan["bucket"]
            select_keys.append(f"({col} % {m}) AS bucket")
            group_keys.append(f"({col} % {m})")
        else:
            select_keys.append(k)
            group_keys.append(k)
    agg_sql = []
    for kind, expr, alias in plan["aggs"]:
        e = expr.sql()
        if kind == "sum":
            agg_sql.append(f"CAST(coalesce(sum({e}), 0) AS BIGINT) AS {alias}")
        elif kind == "min":
            agg_sql.append(f"CAST(coalesce(min({e}), -1) AS BIGINT) AS {alias}")
        elif kind == "max":
            agg_sql.append(f"CAST(coalesce(max({e}), -1) AS BIGINT) AS {alias}")
        elif kind == "count":
            agg_sql.append(f"CAST(count(*) AS BIGINT) AS {alias}")
        else:
            agg_sql.append(f"CAST(count(DISTINCT {e}) AS BIGINT) AS {alias}")
    sql = f"SELECT {', '.join(select_keys + agg_sql)} FROM {src} WHERE {plan['where'].sql()}"
    if group_keys:
        sql += f" GROUP BY {', '.join(group_keys)}"
        if plan["having"] is not None:
            sql += f" HAVING count(*) >= {plan['having']}"
    return sql


def render_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.sources.tables import load_table

    df = load_table(spark, "lineitem", sf_dir)
    if plan["joined"]:
        orders = load_table(spark, "orders", sf_dir)
        df = df.join(orders, df["l_orderkey"] == orders["o_orderkey"], "inner")
    df = df.where(plan["where"].spark())
    key_cols = []
    for k in plan["keys"]:
        if k == "bucket":
            col, m = plan["bucket"]
            key_cols.append((F.col(col) % F.lit(m)).alias("bucket"))
        else:
            key_cols.append(F.col(k))
    agg_cols = []
    for kind, expr, alias in plan["aggs"]:
        e = expr.spark()
        if kind == "sum":
            c = F.coalesce(F.sum(e), F.lit(0))
        elif kind == "min":
            c = F.coalesce(F.min(e), F.lit(-1))
        elif kind == "max":
            c = F.coalesce(F.max(e), F.lit(-1))
        elif kind == "count":
            c = F.count(F.lit(1))
        else:
            c = F.count_distinct(e)
        agg_cols.append(c.cast("long").alias(alias))
    if key_cols:
        grouped = df.groupBy(*key_cols)
        out = grouped.agg(*agg_cols, F.count(F.lit(1)).alias("_n"))
        if plan["having"] is not None:
            out = out.where(F.col("_n") >= plan["having"])
        out = out.drop("_n")
    else:
        out = df.agg(*agg_cols)
    return out


def generate(seed: int) -> tuple[dict, str]:
    plan = PlanGen(seed).build()
    return plan, render_sql(plan)


# ---------------------------------------------------------------------------
# Family B: window-function plans
# ---------------------------------------------------------------------------
#
# Different bug surface from group-by aggregation: partition pruning of
# window state, frame semantics, tie handling, default values of
# lag/lead, and top-k subquery filters. Determinism rule: every ORDER
# BY ends with the (l_orderkey, l_linenumber) primary key, so ranks,
# running frames, and lag/lead are total-order-defined even when the
# random sort expression ties.

WINDOW_FUNCS = ("row_number", "rank", "dense_rank", "running_sum", "lag", "lead", "running_count")


class WindowPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x5EED)
        self.int_cols = list(INT_COLS)

    def build(self) -> dict:
        r = self.rng
        gen = PlanGen(seed=0)  # reuse expression grammar with our rng
        gen.rng = r
        gen.joined = False
        gen.int_cols = self.int_cols

        where = gen.pred(2)
        part_pool = ["l_returnflag", "l_linestatus"]
        parts = r.sample(part_pool, r.randrange(0, 3))
        part_bucket = None
        if r.random() < 0.4:
            part_bucket = (r.choice(self.int_cols), r.choice([3, 5]))
        sort_expr = gen.int_expr(1) if r.random() < 0.7 else None
        funcs = []
        n_funcs = r.randrange(2, 5)
        for i in range(n_funcs):
            kind = r.choice(WINDOW_FUNCS)
            arg = gen.int_expr(1) if kind in ("running_sum", "lag", "lead") else None
            funcs.append((kind, arg, f"w{i}"))
        topk = None
        if any(k == "row_number" for k, _, _ in funcs) and r.random() < 0.5:
            topk = (next(a for k, _, a in funcs if k == "row_number"), r.randrange(2, 6))
        return {
            "where": where, "parts": parts, "part_bucket": part_bucket,
            "sort_expr": sort_expr, "funcs": funcs, "topk": topk,
        }


def render_window_sql(plan: dict) -> str:
    part_keys = list(plan["parts"])
    sel_parts = list(plan["parts"])
    if plan["part_bucket"]:
        col, m = plan["part_bucket"]
        part_keys.append(f"({col} % {m})")
        sel_parts.append(f"({col} % {m}) AS pbucket")
    over_parts = f"PARTITION BY {', '.join(part_keys)} " if part_keys else ""
    order_keys = []
    if plan["sort_expr"] is not None:
        order_keys.append(plan["sort_expr"].sql())
    order_keys += ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    over_order = f"ORDER BY {', '.join(order_keys)}"
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    cols = []
    for kind, arg, alias in plan["funcs"]:
        if kind in ("row_number", "rank", "dense_rank"):
            cols.append(f"CAST({kind}() OVER ({over_parts}{over_order}) AS BIGINT) AS {alias}")
        elif kind == "running_sum":
            cols.append(
                f"CAST(sum({arg.sql()}) OVER ({over_parts}{over_order} {frame}) AS BIGINT) AS {alias}"
            )
        elif kind == "running_count":
            cols.append(
                f"CAST(count(*) OVER ({over_parts}{over_order} {frame}) AS BIGINT) AS {alias}"
            )
        else:  # lag / lead
            cols.append(
                f"CAST({kind}({arg.sql()}, 1, 0) OVER ({over_parts}{over_order}) AS BIGINT) AS {alias}"
            )
    inner = (
        f"SELECT l_orderkey, l_linenumber, {', '.join(sel_parts + cols) if sel_parts else ', '.join(cols)} "
        f"FROM lineitem WHERE {plan['where'].sql()}"
    )
    if plan["topk"] is None:
        return inner
    alias, k = plan["topk"]
    return f"SELECT * FROM ({inner}) t WHERE {alias} <= {k}"


def render_window_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from data_pipeline_project_spark.sources.tables import load_table

    df = load_table(spark, "lineitem", sf_dir).where(plan["where"].spark())
    sel = [F.col("l_orderkey"), F.col("l_linenumber")]
    part_cols = [F.col(p) for p in plan["parts"]]
    sel += [F.col(p) for p in plan["parts"]]
    if plan["part_bucket"]:
        col, m = plan["part_bucket"]
        b = (F.col(col) % F.lit(m))
        part_cols.append(b)
        sel.append(b.alias("pbucket"))
    order_cols = []
    if plan["sort_expr"] is not None:
        order_cols.append(plan["sort_expr"].spark())
    order_cols += [
        F.col("l_orderkey"), F.col("l_linenumber"),
        F.col("l_partkey"), F.col("l_suppkey"),
    ]
    w = Window.partitionBy(*part_cols).orderBy(*order_cols) if part_cols else Window.orderBy(*order_cols)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for kind, arg, alias in plan["funcs"]:
        if kind == "row_number":
            c = F.row_number().over(w)
        elif kind == "rank":
            c = F.rank().over(w)
        elif kind == "dense_rank":
            c = F.dense_rank().over(w)
        elif kind == "running_sum":
            c = F.sum(arg.spark()).over(wf)
        elif kind == "running_count":
            c = F.count(F.lit(1)).over(wf)
        else:
            f = F.lag if kind == "lag" else F.lead
            c = f(arg.spark(), 1, 0).over(w)
        sel.append(c.cast("long").alias(alias))
    out = df.select(*sel)
    if plan["topk"] is not None:
        alias, k = plan["topk"]
        out = out.where(F.col(alias) <= k)
    return out


def generate_window(seed: int) -> tuple[dict, str]:
    plan = WindowPlanGen(seed).build()
    return plan, render_window_sql(plan)


# ---------------------------------------------------------------------------
# Family C: datetime plans
# ---------------------------------------------------------------------------
#
# Datetime semantics are the classic cross-engine divergence area
# (boundary-crossing vs elapsed diffs, dow numbering, truncation
# rules). The grammar stays inside the verified-identical subset:
# year/month/day/quarter extraction (integers both engines),
# date_trunc rendered through a text format (never a raw DATE column —
# pandas dtype classes differ), timestamp + INTERVAL day arithmetic,
# and BETWEEN on ISO literals. Known-divergent functions (dayofweek
# numbering, date_diff minute semantics, week-of-year) are covered by
# the curated calendar matrix in plans/relational_queries.time_functions
# and deliberately excluded here.

DATE_TABLES = {"orders": "o_orderdate", "lineitem": "l_shipdate"}


class DatePlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0xDA7E)

    def build(self) -> dict:
        r = self.rng
        table = r.choice(sorted(DATE_TABLES))
        ts = DATE_TABLES[table]
        # predicate: year bound, month membership, or a BETWEEN window
        preds = []
        if r.random() < 0.7:
            preds.append(("year_cmp", r.choice(["<", "<=", "=", ">", ">="]), r.randrange(1995, 2002)))
        if r.random() < 0.5:
            preds.append(("month_in", sorted(r.sample(range(1, 13), r.randrange(1, 5)))))
        if r.random() < 0.4:
            lo = f"{r.randrange(1995, 2000)}-0{r.randrange(1, 10)}-01"
            hi = f"{r.randrange(2000, 2002)}-1{r.randrange(0, 3)}-0{r.randrange(1, 10)}"
            preds.append(("between", lo, hi))
        if not preds:
            preds.append(("year_cmp", ">=", 1995))
        group = r.choice(["year", "year_month", "trunc_month", "quarter", "none"])
        shift_days = r.randrange(1, 40) if r.random() < 0.5 else None
        return {"table": table, "ts": ts, "preds": preds, "group": group,
                "shift_days": shift_days}


def render_date_sql(plan: dict) -> str:
    ts = plan["ts"]
    conds = []
    for p in plan["preds"]:
        if p[0] == "year_cmp":
            conds.append(f"(year({ts}) {p[1]} {p[2]})")
        elif p[0] == "month_in":
            conds.append(f"(month({ts}) IN ({', '.join(map(str, p[1]))}))")
        else:
            conds.append(f"({ts} BETWEEN TIMESTAMP '{p[1]}' AND TIMESTAMP '{p[2]}')")
    where = " AND ".join(conds)
    keys, gkeys = [], []
    g = plan["group"]
    if g == "year":
        keys, gkeys = [f"year({ts}) AS y"], [f"year({ts})"]
    elif g == "year_month":
        keys = [f"year({ts}) AS y", f"month({ts}) AS m"]
        gkeys = [f"year({ts})", f"month({ts})"]
    elif g == "trunc_month":
        keys = [f"strftime(date_trunc('month', {ts}), '%Y-%m-%d') AS ym"]
        gkeys = [f"strftime(date_trunc('month', {ts}), '%Y-%m-%d')"]
    elif g == "quarter":
        keys, gkeys = [f"quarter({ts}) AS q"], [f"quarter({ts})"]
    aggs = [
        "CAST(count(*) AS BIGINT) AS n",
        f"coalesce(min(strftime({ts}, '%Y-%m-%d %H:%M:%S')), '') AS first_ts",
        f"coalesce(max(strftime({ts}, '%Y-%m-%d %H:%M:%S')), '') AS last_ts",
        f"CAST(count(DISTINCT strftime(date_trunc('month', {ts}), '%Y-%m')) AS BIGINT) AS n_months",
        f"CAST(coalesce(sum(day({ts}) % 7), 0) AS BIGINT) AS day_mod_sum",
    ]
    if plan["shift_days"] is not None:
        aggs.append(
            f"coalesce(max(strftime({ts} + INTERVAL {plan['shift_days']} DAY, "
            f"'%Y-%m-%d %H:%M:%S')), '') AS last_shifted"
        )
    sql = f"SELECT {', '.join(keys + aggs)} FROM {plan['table']} WHERE {where}"
    if gkeys:
        sql += f" GROUP BY {', '.join(gkeys)}"
    return sql


def render_date_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.sources.tables import load_table

    ts = F.col(plan["ts"])
    df = load_table(spark, plan["table"], sf_dir)
    cond = F.lit(True)
    for p in plan["preds"]:
        if p[0] == "year_cmp":
            y = F.year(ts)
            op = {"<": y < p[2], "<=": y <= p[2], "=": y == p[2],
                  ">": y > p[2], ">=": y >= p[2]}[p[1]]
            cond = cond & op
        elif p[0] == "month_in":
            cond = cond & F.month(ts).isin(p[1])
        else:
            cond = cond & ts.between(
                F.to_timestamp(F.lit(p[1])), F.to_timestamp(F.lit(p[2]))
            )
    df = df.where(cond)
    g = plan["group"]
    fmt = "yyyy-MM-dd HH:mm:ss"
    keys = []
    if g == "year":
        keys = [F.year(ts).alias("y")]
    elif g == "year_month":
        keys = [F.year(ts).alias("y"), F.month(ts).alias("m")]
    elif g == "trunc_month":
        keys = [F.date_format(F.date_trunc("month", ts), "yyyy-MM-dd").alias("ym")]
    elif g == "quarter":
        keys = [F.quarter(ts).alias("q")]
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.min(F.date_format(ts, fmt)), F.lit("")).alias("first_ts"),
        F.coalesce(F.max(F.date_format(ts, fmt)), F.lit("")).alias("last_ts"),
        F.count_distinct(F.date_format(F.date_trunc("month", ts), "yyyy-MM"))
        .cast("long").alias("n_months"),
        F.coalesce(F.sum(F.dayofmonth(ts) % 7), F.lit(0)).cast("long").alias("day_mod_sum"),
    ]
    if plan["shift_days"] is not None:
        shifted = ts + F.expr(f"INTERVAL {plan['shift_days']} DAY")
        aggs.append(
            F.coalesce(F.max(F.date_format(shifted, fmt)), F.lit("")).alias("last_shifted")
        )
    if keys:
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


def generate_date(seed: int) -> tuple[dict, str]:
    plan = DatePlanGen(seed).build()
    return plan, render_date_sql(plan)


# ---------------------------------------------------------------------------
# Family D: string-function plans
# ---------------------------------------------------------------------------
#
# A different bug surface again: string kernels (case mapping, padding,
# slicing, search, split) and string collation in min/max/DISTINCT.
# The grammar stays inside the verified-identical cross-engine subset:
# ASCII-only source columns (part/customer are ASCII by construction —
# the unicode surface is pinned separately in test_unicode_parity.py),
# 1-based positive substr/split_part indexes (negative indexes diverge),
# equal-length translate alphabets (unequal lengths delete — identical
# semantics but easier to reason about), non-empty needles for strpos
# (strpos(s, '') is a boundary best pinned explicitly, not fuzzed), and
# md5() as the whole-value checker so any byte-level divergence in a
# composed string expression is caught even inside min()/count(DISTINCT).

STR_TABLES = {
    "part": {
        "cols": ["p_name", "p_brand", "p_type"],
        "enum": ("p_type", ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
    },
    "customer": {
        "cols": ["c_name", "c_mktsegment"],
        "enum": ("c_mktsegment", ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
    },
}
STR_FRAGMENTS = ["widget", "bolt", "gear", "old", "an", "e", "r", "01", "Brand#1", "Customer#00000"]
STR_CHARS = ["a", "e", "o", "r", "#", "0", "1", " "]


class StrLeaf(Node):
    def __init__(self, col: str):
        self.col = col

    def sql(self) -> str:
        return self.col

    def spark(self) -> Column:
        return F.col(self.col)


class StrCase(Node):
    def __init__(self, fn: str, a: Node):
        self.fn, self.a = fn, a

    def sql(self) -> str:
        return f"{self.fn}({self.a.sql()})"

    def spark(self) -> Column:
        return {"upper": F.upper, "lower": F.lower, "reverse": F.reverse}[self.fn](self.a.spark())


class SubstrS(Node):
    def __init__(self, a: Node, pos: int, n: int):
        self.a, self.pos, self.n = a, pos, n

    def sql(self) -> str:
        return f"substr({self.a.sql()}, {self.pos}, {self.n})"

    def spark(self) -> Column:
        return F.substring(self.a.spark(), self.pos, self.n)


class ConcatS(Node):
    def __init__(self, a: Node, b: Node):
        self.a, self.b = a, b

    def sql(self) -> str:
        # `||` (NULL-propagating), not DuckDB concat() (NULL-skipping):
        # matches Spark concat()'s NULL semantics.
        return f"({self.a.sql()} || {self.b.sql()})"

    def spark(self) -> Column:
        return F.concat(self.a.spark(), self.b.spark())


class ReplaceS(Node):
    def __init__(self, a: Node, find: str, repl: str):
        self.a, self.find, self.repl = a, find, repl

    def sql(self) -> str:
        return f"replace({self.a.sql()}, '{self.find}', '{self.repl}')"

    def spark(self) -> Column:
        return F.replace(self.a.spark(), F.lit(self.find), F.lit(self.repl))


class PadS(Node):
    def __init__(self, fn: str, a: Node, n: int, ch: str):
        self.fn, self.a, self.n, self.ch = fn, a, n, ch

    def sql(self) -> str:
        return f"{self.fn}({self.a.sql()}, {self.n}, '{self.ch}')"

    def spark(self) -> Column:
        f = {"lpad": F.lpad, "rpad": F.rpad}[self.fn]
        return f(self.a.spark(), self.n, self.ch)


class SideS(Node):
    def __init__(self, fn: str, a: Node, n: int):
        self.fn, self.a, self.n = fn, a, n

    def sql(self) -> str:
        return f"{self.fn}({self.a.sql()}, {self.n})"

    def spark(self) -> Column:
        f = {"left": F.left, "right": F.right}[self.fn]
        return f(self.a.spark(), F.lit(self.n))


class TranslateS(Node):
    def __init__(self, a: Node, src: str, dst: str):
        assert len(src) == len(dst)
        self.a, self.src, self.dst = a, src, dst

    def sql(self) -> str:
        return f"translate({self.a.sql()}, '{self.src}', '{self.dst}')"

    def spark(self) -> Column:
        return F.translate(self.a.spark(), self.src, self.dst)


class SplitPartS(Node):
    def __init__(self, a: Node, delim: str, idx: int):
        self.a, self.delim, self.idx = a, delim, idx

    def sql(self) -> str:
        return f"split_part({self.a.sql()}, '{self.delim}', {self.idx})"

    def spark(self) -> Column:
        return F.split_part(self.a.spark(), F.lit(self.delim), F.lit(self.idx))


class LengthS(Node):
    def __init__(self, a: Node):
        self.a = a

    def sql(self) -> str:
        return f"length({self.a.sql()})"

    def spark(self) -> Column:
        return F.length(self.a.spark())


class InstrS(Node):
    def __init__(self, a: Node, needle: str):
        self.a, self.needle = a, needle

    def sql(self) -> str:
        # ANSI form, parsed by BOTH DuckDB and Spark SQL — keeps the
        # whole string family's SQL engine-neutral for 3-way parity
        return f"position('{self.needle}' IN {self.a.sql()})"

    def spark(self) -> Column:
        return F.instr(self.a.spark(), self.needle)


class LikeS(Pred):
    def __init__(self, col: str, pattern: str):
        self.col, self.pattern = col, pattern

    def sql(self) -> str:
        return f"({self.col} LIKE '{self.pattern}')"

    def spark(self) -> Column:
        return F.col(self.col).like(self.pattern)


class StrPlanGen:
    """One seeded random string-expression plan over part or customer."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x5712)
        self.table = self.rng.choice(sorted(STR_TABLES))
        self.cols = STR_TABLES[self.table]["cols"]
        self.enum_col, self.enum_vals = STR_TABLES[self.table]["enum"]

    def str_expr(self, depth: int) -> Node:
        r = self.rng
        if depth <= 0 or r.random() < 0.3:
            return StrLeaf(r.choice(self.cols))
        pick = r.random()
        a = self.str_expr(depth - 1)
        if pick < 0.18:
            return StrCase(r.choice(["upper", "lower", "reverse"]), a)
        if pick < 0.36:
            return SubstrS(a, r.randrange(1, 9), r.randrange(0, 9))
        if pick < 0.50:
            return ConcatS(a, self.str_expr(depth - 1))
        if pick < 0.62:
            return ReplaceS(a, r.choice(STR_CHARS), r.choice(STR_CHARS + [""]))
        if pick < 0.72:
            return PadS(r.choice(["lpad", "rpad"]), a, r.randrange(1, 13), r.choice("xy#_"))
        if pick < 0.82:
            return SideS(r.choice(["left", "right"]), a, r.randrange(0, 7))
        if pick < 0.92:
            return TranslateS(a, "aeo#", "xyz@")
        return SplitPartS(a, r.choice([" ", "#", "0"]), r.randrange(1, 4))

    def int_from_str(self, depth: int) -> Node:
        r = self.rng
        if r.random() < 0.7:
            return LengthS(self.str_expr(depth))
        return InstrS(self.str_expr(depth), r.choice(STR_FRAGMENTS[:8]))

    def pred(self, depth: int) -> Pred:
        r = self.rng
        if depth <= 0 or r.random() < 0.5:
            pick = r.random()
            if pick < 0.4:
                frag = r.choice(STR_FRAGMENTS)
                shape = r.choice(["%{}%", "{}%", "%{}"])
                return LikeS(r.choice(self.cols), shape.format(frag))
            if pick < 0.75:
                return Cmp(
                    r.choice(["<", "<=", "=", "!=", ">", ">="]),
                    self.int_from_str(1),
                    IntLit(r.randrange(0, 20)),
                )
            return StrIn(
                self.enum_col,
                sorted(self.rng.sample(self.enum_vals, self.rng.randrange(1, 4))),
            )
        op = "and" if r.random() < 0.5 else "or"
        return BoolOp(op, self.pred(depth - 1), self.pred(depth - 1))

    def build(self) -> dict:
        r = self.rng
        where = self.pred(2)
        group = r.choice(["none", "first_char", "len_mod", "enum"])
        gcol = r.choice(self.cols)
        gmod = r.choice([3, 5, 7])
        aggs = []
        kinds = ["count", "count_distinct", "min_s", "max_s", "len_sum", "md5_min"]
        n_aggs = r.randrange(2, 5)
        picked = r.sample(kinds, n_aggs)
        if not any(k in ("min_s", "max_s", "md5_min", "count_distinct") for k in picked):
            picked[0] = "md5_min"  # always at least one whole-value checker
        for i, kind in enumerate(picked):
            expr = self.str_expr(2) if kind != "count" else None
            aggs.append((kind, expr, f"a{i}"))
        having = r.randrange(1, 4) if group != "none" and r.random() < 0.4 else None
        return {
            "table": self.table, "where": where, "group": group,
            "gcol": gcol, "gmod": gmod, "aggs": aggs, "having": having,
        }


def render_str_sql(plan: dict) -> str:
    keys, gkeys = [], []
    g = plan["group"]
    if g == "first_char":
        keys = [f"substr({plan['gcol']}, 1, 1) AS gk"]
        gkeys = [f"substr({plan['gcol']}, 1, 1)"]
    elif g == "len_mod":
        keys = [f"(length({plan['gcol']}) % {plan['gmod']}) AS gk"]
        gkeys = [f"(length({plan['gcol']}) % {plan['gmod']})"]
    elif g == "enum":
        ecol = STR_TABLES[plan["table"]]["enum"][0]
        keys, gkeys = [ecol], [ecol]
    aggs = []
    for kind, expr, alias in plan["aggs"]:
        if kind == "count":
            aggs.append(f"CAST(count(*) AS BIGINT) AS {alias}")
        elif kind == "count_distinct":
            aggs.append(f"CAST(count(DISTINCT {expr.sql()}) AS BIGINT) AS {alias}")
        elif kind == "min_s":
            aggs.append(f"coalesce(min({expr.sql()}), '') AS {alias}")
        elif kind == "max_s":
            aggs.append(f"coalesce(max({expr.sql()}), '') AS {alias}")
        elif kind == "len_sum":
            aggs.append(f"CAST(coalesce(sum(length({expr.sql()})), 0) AS BIGINT) AS {alias}")
        else:  # md5_min
            aggs.append(f"coalesce(min(md5({expr.sql()})), '') AS {alias}")
    sql = f"SELECT {', '.join(keys + aggs)} FROM {plan['table']} WHERE {plan['where'].sql()}"
    if gkeys:
        sql += f" GROUP BY {', '.join(gkeys)}"
        if plan["having"] is not None:
            sql += f" HAVING count(*) >= {plan['having']}"
    return sql


def render_str_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.sources.tables import load_table

    df = load_table(spark, plan["table"], sf_dir).where(plan["where"].spark())
    g = plan["group"]
    keys = []
    if g == "first_char":
        keys = [F.substring(F.col(plan["gcol"]), 1, 1).alias("gk")]
    elif g == "len_mod":
        keys = [(F.length(F.col(plan["gcol"])) % plan["gmod"]).alias("gk")]
    elif g == "enum":
        ecol = STR_TABLES[plan["table"]]["enum"][0]
        keys = [F.col(ecol)]
    aggs = []
    for kind, expr, alias in plan["aggs"]:
        if kind == "count":
            c = F.count(F.lit(1)).cast("long")
        elif kind == "count_distinct":
            c = F.count_distinct(expr.spark()).cast("long")
        elif kind == "min_s":
            c = F.coalesce(F.min(expr.spark()), F.lit(""))
        elif kind == "max_s":
            c = F.coalesce(F.max(expr.spark()), F.lit(""))
        elif kind == "len_sum":
            c = F.coalesce(F.sum(F.length(expr.spark())), F.lit(0)).cast("long")
        else:
            c = F.coalesce(F.min(F.md5(expr.spark())), F.lit(""))
        aggs.append(c.alias(alias))
    if keys:
        out = df.groupBy(*keys).agg(*aggs, F.count(F.lit(1)).alias("_n"))
        if plan["having"] is not None:
            out = out.where(F.col("_n") >= plan["having"])
        return out.drop("_n")
    return df.agg(*aggs)


def generate_str(seed: int) -> tuple[dict, str]:
    plan = StrPlanGen(seed).build()
    return plan, render_str_sql(plan)


# ---------------------------------------------------------------------------
# Family E: set-operation and subquery plans
# ---------------------------------------------------------------------------
#
# Surface: multiset semantics of UNION/INTERSECT/EXCEPT (DISTINCT vs
# ALL variants), and the four subquery decorrelations — IN / NOT IN /
# EXISTS / NOT EXISTS plus a scalar-aggregate comparison — which Spark
# expresses as semi/anti joins and a broadcast scalar. NOT IN is only
# equivalent to an anti-join when the subquery side is NULL-free; the
# integer grammar guarantees that by construction (non-null leaves,
# CASE always has ELSE), which is exactly the precondition stated here.

SETOP_KINDS = [
    ("UNION ALL", "union_all"),
    ("UNION", "union"),
    ("INTERSECT", "intersect"),
    ("INTERSECT ALL", "intersect_all"),
    ("EXCEPT", "except"),
    ("EXCEPT ALL", "except_all"),
]
SUBQ_KINDS = ["in", "not_in", "exists", "not_exists", "scalar"]


class SetOpPlanGen:
    """Two compatible sub-selects over lineitem combined by a set op,
    then (optionally) an outer aggregate; or a lineitem scan filtered
    by an orders subquery."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x5E70)
        self.kind = "setop" if self.rng.random() < 0.5 else "subquery"

    def _gen(self, joined: bool = False) -> PlanGen:
        g = PlanGen(seed=0)
        g.rng = self.rng
        g.joined = joined
        g.int_cols = list(INT_COLS) if not joined else list(ORDER_INT_COLS)
        g.orders_only = joined
        return g

    def build(self) -> dict:
        r = self.rng
        if self.kind == "setop":
            g = self._gen()
            b1 = {"c1": g.int_expr(2), "c2": g.int_expr(1), "where": g.pred(2)}
            if r.random() < 0.5:
                # same projection, different filter: the two sides then
                # genuinely overlap, so INTERSECT/EXCEPT (and their ALL
                # multiset variants) are exercised on non-trivial sets
                b2 = {"c1": b1["c1"], "c2": b1["c2"], "where": g.pred(2)}
            else:
                b2 = {"c1": g.int_expr(2), "c2": g.int_expr(1), "where": g.pred(2)}
            branches = [b1, b2]
            op_sql, op_name = r.choice(SETOP_KINDS)
            outer_agg = r.random() < 0.4
            return {"kind": "setop", "branches": branches,
                    "op_sql": op_sql, "op_name": op_name, "outer_agg": outer_agg}
        g = self._gen()
        og = self._gen(joined=True)  # orders-column expressions
        sub = r.choice(SUBQ_KINDS)
        plan = {
            "kind": "subquery", "sub": sub,
            "left_expr": g.int_expr(2), "left_where": g.pred(1),
            "orders_where": og.pred(1),
        }
        if sub in ("in", "not_in"):
            plan["right_expr"] = og.int_expr(2)
        elif sub == "scalar":
            plan["right_expr"] = og.int_expr(1)
            plan["scalar_fn"] = r.choice(["min", "max"])
            plan["cmp"] = r.choice(["<", "<=", ">", ">=", "="])
        return plan


def render_setop_sql(plan: dict) -> str:
    if plan["kind"] == "setop":
        parts = []
        for b in plan["branches"]:
            parts.append(
                f"SELECT {b['c1'].sql()} AS c1, {b['c2'].sql()} AS c2 "
                f"FROM lineitem WHERE {b['where'].sql()}"
            )
        body = f"({parts[0]}) {plan['op_sql']} ({parts[1]})"
        if plan["outer_agg"]:
            return (
                "SELECT CAST(count(*) AS BIGINT) AS n, "
                "CAST(coalesce(sum(c1), 0) AS BIGINT) AS s1, "
                "CAST(coalesce(sum(c2), 0) AS BIGINT) AS s2, "
                "CAST(count(DISTINCT c1) AS BIGINT) AS d1 "
                f"FROM ({body}) t"
            )
        return body
    sub, lw = plan["sub"], plan["left_where"].sql()
    ow = plan["orders_where"].sql()
    base = (
        f"SELECT l_orderkey, l_linenumber, {plan['left_expr'].sql()} AS lv "
        f"FROM lineitem WHERE {lw}"
    )
    if sub in ("in", "not_in"):
        neg = "NOT " if sub == "not_in" else ""
        return (
            f"{base} AND {plan['left_expr'].sql()} {neg}IN "
            f"(SELECT {plan['right_expr'].sql()} FROM orders WHERE {ow})"
        )
    if sub in ("exists", "not_exists"):
        neg = "NOT " if sub == "not_exists" else ""
        return (
            f"{base} AND {neg}EXISTS (SELECT 1 FROM orders "
            f"WHERE o_orderkey = l_orderkey AND {ow})"
        )
    return (
        f"{base} AND {plan['left_expr'].sql()} {plan['cmp']} "
        f"(SELECT coalesce({plan['scalar_fn']}({plan['right_expr'].sql()}), 0) "
        f"FROM orders WHERE {ow})"
    )


def render_setop_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    if plan["kind"] == "setop":
        dfs = []
        for b in plan["branches"]:
            dfs.append(
                li.where(b["where"].spark()).select(
                    b["c1"].spark().alias("c1"), b["c2"].spark().alias("c2")
                )
            )
        a, b = dfs
        out = {
            "union_all": lambda: a.unionAll(b),
            "union": lambda: a.unionAll(b).distinct(),
            "intersect": lambda: a.intersect(b),
            "intersect_all": lambda: a.intersectAll(b),
            "except": lambda: a.subtract(b),
            "except_all": lambda: a.exceptAll(b),
        }[plan["op_name"]]()
        if plan["outer_agg"]:
            out = out.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("s1"),
                F.coalesce(F.sum("c2"), F.lit(0)).cast("long").alias("s2"),
                F.count_distinct(F.col("c1")).cast("long").alias("d1"),
            )
        return out

    orders = load_table(spark, "orders", sf_dir)
    left = li.where(plan["left_where"].spark()).select(
        "l_orderkey", "l_linenumber", plan["left_expr"].spark().alias("lv")
    )
    sub = plan["sub"]
    if sub in ("in", "not_in"):
        right = orders.where(plan["orders_where"].spark()).select(
            plan["right_expr"].spark().alias("rv")
        )
        how = "left_semi" if sub == "in" else "left_anti"
        # NULL-free right side by construction, so anti == NOT IN
        return left.join(right, left["lv"] == right["rv"], how)
    if sub in ("exists", "not_exists"):
        right = orders.where(plan["orders_where"].spark()).select("o_orderkey")
        how = "left_semi" if sub == "exists" else "left_anti"
        return left.join(right, left["l_orderkey"] == right["o_orderkey"], how)
    scalar_fn = {"min": F.min, "max": F.max}[plan["scalar_fn"]]
    sdf = orders.where(plan["orders_where"].spark()).agg(
        F.coalesce(scalar_fn(plan["right_expr"].spark()), F.lit(0)).alias("sc")
    )
    joined = left.join(F.broadcast(sdf))
    lv, sc = F.col("lv"), F.col("sc")
    cmp_col = {"<": lv < sc, "<=": lv <= sc, ">": lv > sc,
               ">=": lv >= sc, "=": lv == sc}[plan["cmp"]]
    return joined.where(cmp_col).drop("sc")


def generate_setop(seed: int) -> tuple[dict, str]:
    plan = SetOpPlanGen(seed).build()
    return plan, render_setop_sql(plan)


# ---------------------------------------------------------------------------
# Family F: as-of join plans (custom operator vs DuckDB native ASOF)
# ---------------------------------------------------------------------------
#
# The other five families fuzz Spark BUILT-INS; this one fuzzes the
# repo's own `operators/temporal.asof_join` (union + window spelling)
# against DuckDB's native ASOF LEFT JOIN — custom operator code is
# where differential testing earns the most. Dimensions: key
# cardinality, direction (backward/forward), tolerance nulling, and
# random filters/payloads on both sides. The right side is always
# deduped to unique (key, ts) first — both engines' tie order among
# identical (key, ts) rows is otherwise unspecified, so uniqueness is
# part of the operator's stated contract, not a fuzzer dodge. Matched
# payload/ts are sentinel-coalesced (-1 / '') so unmatched-row NULLs
# can't smuggle a dtype-class mismatch past the value hash.

TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


class AsofPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0xA50F)

    def build(self) -> dict:
        r = self.rng
        lg = PlanGen(seed=0)
        lg.rng, lg.joined, lg.int_cols = r, False, list(INT_COLS)
        rg = PlanGen(seed=0)
        rg.rng, rg.joined, rg.int_cols = r, True, list(ORDER_INT_COLS)
        rg.orders_only = True
        return {
            "m": r.choice([1, 3, 7, 19]),
            "direction": r.choice(["backward", "forward"]),
            "tolerance_days": r.choice([None, None, 30, 90, 365]),
            "left_where": lg.pred(1),
            "right_where": rg.pred(1),
            "payload": rg.int_expr(2),
        }


def render_asof_sql(plan: dict) -> str:
    m = plan["m"]
    ineq = ">=" if plan["direction"] == "backward" else "<="
    tol = plan["tolerance_days"]
    in_tol = "r.ts IS NOT NULL"
    if tol is not None:
        in_tol += f" AND abs(epoch(l.ts) - epoch(r.ts)) <= {tol * 86400}"
    return f"""
WITH l AS (
  SELECT l_orderkey, l_linenumber, (l_suppkey % {m}) AS key, l_shipdate AS ts
  FROM lineitem WHERE {plan['left_where'].sql()}
), r AS (
  SELECT key, ts, max(payload) AS pv FROM (
    SELECT (o_custkey % {m}) AS key, o_orderdate AS ts,
           {plan['payload'].sql()} AS payload
    FROM orders WHERE {plan['right_where'].sql()}
  ) GROUP BY key, ts
)
SELECT l.l_orderkey, l.l_linenumber, l.key,
       strftime(l.ts, '{TS_FMT_SQL}') AS lts,
       CAST(coalesce(CASE WHEN {in_tol} THEN r.pv END, -1) AS BIGINT) AS pv,
       coalesce(CASE WHEN {in_tol} THEN strftime(r.ts, '{TS_FMT_SQL}') END, '') AS mts
FROM l ASOF LEFT JOIN r ON l.key = r.key AND l.ts {ineq} r.ts
"""


def render_asof_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.operators.temporal import asof_join
    from data_pipeline_project_spark.sources.tables import load_table

    m = plan["m"]
    left = (
        load_table(spark, "lineitem", sf_dir)
        .where(plan["left_where"].spark())
        .select(
            "l_orderkey", "l_linenumber",
            (F.col("l_suppkey") % m).alias("key"), F.col("l_shipdate"),
        )
    )
    right = (
        load_table(spark, "orders", sf_dir)
        .where(plan["right_where"].spark())
        .select(
            (F.col("o_custkey") % m).alias("key"),
            F.col("o_orderdate").alias("ts"),
            plan["payload"].spark().alias("payload"),
        )
        .groupBy("key", "ts")
        .agg(F.max("payload").alias("pv"))
    )
    tol = plan["tolerance_days"]
    out = asof_join(
        left, right, on="key", left_ts="l_shipdate", right_ts="ts",
        right_cols=["pv"], direction=plan["direction"],
        tolerance_seconds=None if tol is None else tol * 86400,
    )
    return out.select(
        "l_orderkey", "l_linenumber", "key",
        F.date_format("l_shipdate", TS_FMT_SPARK).alias("lts"),
        F.coalesce(F.col("right_pv"), F.lit(-1)).cast("long").alias("pv"),
        F.coalesce(F.date_format("right_ts", TS_FMT_SPARK), F.lit("")).alias("mts"),
    )


def generate_asof(seed: int) -> tuple[dict, str]:
    plan = AsofPlanGen(seed).build()
    return plan, render_asof_sql(plan)


# ---------------------------------------------------------------------------
# Family G: generate/explode and array higher-order-function plans
# ---------------------------------------------------------------------------
#
# Surface: the Generate node (explode/posexplode vs unnest — DuckDB
# zips parallel unnests, giving WITH ORDINALITY) and array lambdas
# (transform/filter/aggregate vs list_transform/list_filter/
# list_aggregate) — whole-stage-codegen HOF kernels on the Spark side.
# Cross-engine rules: arrays are CONSTRUCTED with a fixed arity and
# every element cast to BIGINT (mixed int32/int64 elements would
# unify differently), lambda bodies reuse the non-negative integer
# grammar, sum-reductions only ever run over fixed-arity arrays (an
# EMPTY array diverges: list_aggregate 'sum' yields NULL, Spark
# aggregate with a 0 seed yields 0 — pinned here by construction, not
# fuzzed), and posexplode's 0-based pos is shifted to DuckDB's 1-based
# ordinality.

GEN_KINDS = ["explode", "posexplode", "explode_group", "hof_scalar"]


class GenExplodePlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x6E4E)
        sg = StrPlanGen(seed ^ 0x6E4E)
        sg.rng = self.rng
        sg.table = "part"
        sg.cols = STR_TABLES["part"]["cols"]
        sg.enum_col, sg.enum_vals = STR_TABLES["part"]["enum"]
        self.sg = sg
        ig = PlanGen(seed=0)
        ig.rng = self.rng
        ig.joined = False
        ig.int_cols = ["p_partkey", "p_size"]
        ig.no_str_preds = True
        self.ig = ig

    def build(self) -> dict:
        r = self.rng
        kind = r.choice(GEN_KINDS)
        plan = {"kind": kind, "where": self.sg.pred(2)}
        if kind == "explode_group":
            plan["agg_mod"] = r.choice([7, 97, 251])
        if kind == "hof_scalar":
            plan["elems"] = [self.ig.int_expr(1) for _ in range(r.randrange(3, 5))]
            plan["lam"] = (r.randrange(1, 6), r.randrange(0, 10), r.choice([7, 97, 251]))
            plan["filt"] = (r.choice([2, 3, 5]), r.randrange(0, 3))
            plan["contains_v"] = r.randrange(0, 10)
        return plan


def render_gen_sql(plan: dict) -> str:
    w = plan["where"].sql()
    k = plan["kind"]
    if k == "explode":
        return (
            "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w "
            f"FROM part WHERE {w}"
        )
    if k == "posexplode":
        return (
            "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w, "
            "CAST(unnest(range(1, len(string_split(p_name, ' '))+1)) AS BIGINT) AS pos "
            f"FROM part WHERE {w}"
        )
    if k == "explode_group":
        m = plan["agg_mod"]
        return (
            "SELECT w, CAST(count(*) AS BIGINT) AS n, "
            f"CAST(coalesce(min(p_partkey % {m}), -1) AS BIGINT) AS mn, "
            f"CAST(coalesce(max(p_size % {m}), -1) AS BIGINT) AS mx "
            "FROM (SELECT p_partkey, p_size, unnest(string_split(p_name, ' ')) AS w "
            f"FROM part WHERE {w}) t GROUP BY w"
        )
    arr = "[" + ", ".join(f"CAST({e.sql()} AS BIGINT)" for e in plan["elems"]) + "]"
    a, b, lk = plan["lam"]
    fm, fc = plan["filt"]
    cv = plan["contains_v"]
    return (
        "SELECT p_partkey, "
        f"CAST(list_aggregate(list_transform({arr}, x -> (x * {a} + {b}) % {lk}), 'sum') AS BIGINT) AS s, "
        f"CAST(len(list_filter({arr}, x -> x % {fm} = {fc})) AS BIGINT) AS nf, "
        f"list_contains({arr}, {cv}) AS has, "
        f"array_to_string(list_sort({arr}), ',') AS js "
        f"FROM part WHERE {w}"
    )


def render_gen_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.sources.tables import load_table

    df = load_table(spark, "part", sf_dir).where(plan["where"].spark())
    words = F.split(F.col("p_name"), " ")
    k = plan["kind"]
    if k == "explode":
        return df.select("p_partkey", F.explode(words).alias("w"))
    if k == "posexplode":
        ex = df.select("p_partkey", F.posexplode(words).alias("pos0", "w"))
        return ex.select(
            "p_partkey", "w", (F.col("pos0") + 1).cast("long").alias("pos")
        )
    if k == "explode_group":
        m = plan["agg_mod"]
        ex = df.select("p_partkey", "p_size", F.explode(words).alias("w"))
        return ex.groupBy("w").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.min(F.col("p_partkey") % m), F.lit(-1)).cast("long").alias("mn"),
            F.coalesce(F.max(F.col("p_size") % m), F.lit(-1)).cast("long").alias("mx"),
        )
    arr = F.array(*[e.spark().cast("long") for e in plan["elems"]])
    a, b, lk = plan["lam"]
    fm, fc = plan["filt"]
    cv = plan["contains_v"]
    return df.select(
        "p_partkey",
        F.aggregate(
            F.transform(arr, lambda x: (x * a + b) % lk),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("long").alias("s"),
        F.size(F.filter(arr, lambda x: x % fm == fc)).cast("long").alias("nf"),
        F.array_contains(arr, F.lit(cv).cast("long")).alias("has"),
        F.array_join(F.sort_array(arr), ",").alias("js"),
    )


def generate_gen(seed: int) -> tuple[dict, str]:
    plan = GenExplodePlanGen(seed).build()
    return plan, render_gen_sql(plan)


# ---------------------------------------------------------------------------
# Family H: interval range / overlap join plans (custom operators)
# ---------------------------------------------------------------------------
#
# Fuzzes the bucketed-rewrite joins in operators/temporal.py —
# interval_range_join (point-in-interval) and interval_overlap_join
# (interval-interval) — against DuckDB's direct inequality joins. The
# bucket rewrite is exactly the kind of plan where subtle bugs live
# (canonical-bucket dedup, boundary buckets, bucket width vs interval
# length), so bucket_seconds is fuzzed across three decades relative
# to the interval lengths. Interval end = start + d days is inclusive
# on both ends, matching SQL BETWEEN. Keyless (on=None) plans keep d
# small so the true pair count stays bounded.

class RangeJoinPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x4A9E)

    def build(self) -> dict:
        r = self.rng
        lg = PlanGen(seed=0)
        lg.rng, lg.joined, lg.int_cols = r, False, list(INT_COLS)
        og = PlanGen(seed=0)
        og.rng, og.joined, og.int_cols = r, True, list(ORDER_INT_COLS)
        og.orders_only = True
        keyless = r.random() < 0.25
        return {
            "mode": r.choice(["range", "overlap"]),
            "m": None if keyless else r.choice([3, 7, 19]),
            "days": r.randrange(1, 8) if keyless else r.randrange(1, 61),
            "days2": r.randrange(1, 8) if keyless else r.randrange(1, 31),
            "bucket_seconds": r.choice([3600, 86400, 7 * 86400]),
            "left_where": lg.pred(1),
            "right_where": og.pred(1),
            "payload": og.int_expr(1),
        }


def render_range_sql(plan: dict) -> str:
    m, d = plan["m"], plan["days"]
    key_l = f"(l_suppkey % {m}) AS key," if m else ""
    key_r = f"(o_custkey % {m}) AS key," if m else ""
    key_cond = "p.key = i.key AND " if m else ""
    key_sel = "p.key," if m else ""
    iv = (
        f"SELECT {key_r} o_orderkey AS ivid, o_orderdate AS s, "
        f"o_orderdate + INTERVAL {d} DAY AS e, "
        f"CAST({plan['payload'].sql()} AS BIGINT) AS pv "
        f"FROM orders WHERE {plan['right_where'].sql()}"
    )
    if plan["mode"] == "range":
        pts = (
            f"SELECT {key_l} l_orderkey, l_linenumber, l_shipdate AS pt "
            f"FROM lineitem WHERE {plan['left_where'].sql()}"
        )
        return (
            f"SELECT p.l_orderkey, p.l_linenumber, {key_sel} "
            f"strftime(p.pt, '{TS_FMT_SQL}') AS pt, i.ivid, i.pv, "
            f"strftime(i.s, '{TS_FMT_SQL}') AS ivs "
            f"FROM ({pts}) p JOIN ({iv}) i "
            f"ON {key_cond} p.pt BETWEEN i.s AND i.e"
        )
    d2 = plan["days2"]
    lft = (
        f"SELECT {key_l.replace('l_suppkey', 'l_suppkey')} l_orderkey, l_linenumber, "
        f"l_shipdate AS ls, l_shipdate + INTERVAL {d2} DAY AS le "
        f"FROM lineitem WHERE {plan['left_where'].sql()}"
    )
    key_cond2 = "p.key = i.key AND " if m else ""
    key_sel2 = "p.key," if m else ""
    return (
        f"SELECT p.l_orderkey, p.l_linenumber, {key_sel2} "
        f"strftime(p.ls, '{TS_FMT_SQL}') AS ls, i.ivid, i.pv, "
        f"strftime(i.s, '{TS_FMT_SQL}') AS ivs "
        f"FROM ({lft}) p JOIN ({iv}) i "
        f"ON {key_cond2} p.ls <= i.e AND i.s <= p.le"
    )


def render_range_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.operators.temporal import (
        interval_overlap_join,
        interval_range_join,
    )
    from data_pipeline_project_spark.sources.tables import load_table

    m, d = plan["m"], plan["days"]
    on = "key" if m else None
    li = load_table(spark, "lineitem", sf_dir).where(plan["left_where"].spark())
    orders = load_table(spark, "orders", sf_dir).where(plan["right_where"].spark())
    iv_cols = [
        F.col("o_orderkey").alias("ivid"),
        F.col("o_orderdate").alias("s"),
        F.expr(f"o_orderdate + INTERVAL {d} DAY").alias("e"),
        plan["payload"].spark().cast("long").alias("pv"),
    ]
    if m:
        iv_cols.insert(0, (F.col("o_custkey") % m).alias("key"))
    intervals = orders.select(*iv_cols)

    if plan["mode"] == "range":
        p_cols = [F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_shipdate").alias("pt")]
        if m:
            p_cols.insert(0, (F.col("l_suppkey") % m).alias("key"))
        points = li.select(*p_cols)
        out = interval_range_join(
            points, intervals, "pt", "s", "e", on=on,
            bucket_seconds=plan["bucket_seconds"],
        )
        sel = [
            "l_orderkey", "l_linenumber",
            F.date_format("pt", TS_FMT_SPARK).alias("pt"),
            "ivid", "pv", F.date_format("s", TS_FMT_SPARK).alias("ivs"),
        ]
        if m:
            sel.insert(2, F.col("key"))
        return out.select(*sel)

    d2 = plan["days2"]
    l_cols = [
        F.col("l_orderkey"), F.col("l_linenumber"),
        F.col("l_shipdate").alias("ls"),
        F.expr(f"l_shipdate + INTERVAL {d2} DAY").alias("le"),
    ]
    if m:
        l_cols.insert(0, (F.col("l_suppkey") % m).alias("key"))
    left = li.select(*l_cols)
    out = interval_overlap_join(
        left, intervals, "ls", "le", "s", "e", on=on,
        bucket_seconds=plan["bucket_seconds"],
    )
    sel = [
        "l_orderkey", "l_linenumber",
        F.date_format("ls", TS_FMT_SPARK).alias("ls"),
        "ivid", "pv", F.date_format("s", TS_FMT_SPARK).alias("ivs"),
    ]
    if m:
        sel.insert(2, F.col("key"))
    return out.select(*sel)


def generate_range(seed: int) -> tuple[dict, str]:
    plan = RangeJoinPlanGen(seed).build()
    return plan, render_range_sql(plan)


# ---------------------------------------------------------------------------
# Family I: connected-components plans (custom iterative operator)
# ---------------------------------------------------------------------------
#
# Fuzzes operators/dedup.connected_components against a DuckDB
# recursive-CTE transitive closure, on both of its sides: the plan's
# "side" keeps the pair-count gate (union-find) or patches
# dedup.LOCAL_CC_MAX_PAIRS to 0 (the distributed min-label rounds with
# pointer jumping). Graph topology is the variable that matters for an
# iterative algorithm, so edges are derived from lineitem three ways:
# "hash" (random-ish dense graph), "chain" (maximum-diameter paths —
# the shape where pointer jumping needs log(diameter) rounds), and
# "star" (hub contraction).

CC_TS = None  # no timestamps in this family


class CCPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0xCC01)

    def build(self) -> dict:
        r = self.rng
        lg = PlanGen(seed=0)
        lg.rng, lg.joined, lg.int_cols = r, False, list(INT_COLS)
        mode = r.choice(["hash", "chain", "star"])
        side = r.choice(["union_find", "rounds"])
        n = r.choice([200, 1000] if mode == "chain" else [10, 50, 200, 1000])
        return {"mode": mode, "n": n, "side": side, "where": lg.pred(1)}


def _cc_edges_sql(plan: dict) -> str:
    n = plan["n"]
    shapes = {
        "hash": f"(l_orderkey % {n}) AS a, (l_partkey % {n}) AS b",
        "chain": f"(l_orderkey % {n}) AS a, ((l_orderkey % {n}) + 1) AS b",
        "star": f"(l_orderkey % {n}) AS a, (l_orderkey % 7) AS b",
    }
    return (
        f"SELECT DISTINCT {shapes[plan['mode']]} "
        f"FROM lineitem WHERE {plan['where'].sql()}"
    )


def render_cc_sql(plan: dict) -> str:
    return f"""
WITH RECURSIVE edges AS ({_cc_edges_sql(plan)}),
sym AS (SELECT a AS src, b AS dst FROM edges UNION SELECT b, a FROM edges),
reach(node, lbl) AS (
    SELECT src, src FROM sym
    UNION
    SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.lbl
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def render_cc_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plan's components on its side. Records in ``plan["ran"]``
    which side actually ran, so the caller can check the patch."""
    from unittest import mock

    from data_pipeline_project_spark.operators import dedup
    from data_pipeline_project_spark.sources.tables import load_table

    n = plan["n"]
    li = load_table(spark, "lineitem", sf_dir).where(plan["where"].spark())
    a = {
        "hash": F.col("l_orderkey") % n,
        "chain": F.col("l_orderkey") % n,
        "star": F.col("l_orderkey") % n,
    }[plan["mode"]]
    b = {
        "hash": F.col("l_partkey") % n,
        "chain": (F.col("l_orderkey") % n) + 1,
        "star": F.col("l_orderkey") % 7,
    }[plan["mode"]]
    pairs = li.select(a.alias("id_a"), b.alias("id_b")).distinct()
    gate = 0 if plan["side"] == "rounds" else dedup.LOCAL_CC_MAX_PAIRS
    with mock.patch.object(dedup, "LOCAL_CC_MAX_PAIRS", gate), mock.patch.object(
        dedup, "_label_rounds", wraps=dedup._label_rounds
    ) as rounds:
        out = dedup.connected_components(pairs)
    plan["ran"] = "rounds" if rounds.call_count else "union_find"
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def generate_cc(seed: int) -> tuple[dict, str]:
    plan = CCPlanGen(seed).build()
    return plan, render_cc_sql(plan)


# ---------------------------------------------------------------------------
# Family J: EWMA recurrence plans (custom stateful operator)
# ---------------------------------------------------------------------------
#
# Fuzzes operators/stateful.ewma — the per-partition Arrow kernel that
# carries state across group and batch boundaries — against a DuckDB
# recursive CTE replaying the identical recurrence, across the alpha
# parameter space, merged-key cardinalities, and filters. Bit-exact
# float discipline: the kernel computes alpha*v + (1-alpha)*cur in
# float64, so the SQL renders BOTH coefficients from Python float repr
# (shortest round-trip decimal -> identical double; rendering `1 - a`
# in SQL could evaluate in DECIMAL and diverge from the binary
# 1-alpha), casts them to DOUBLE, and keeps the same operand order.
# Outputs round to 6, same as the kernel. Order ties: the kernel sorts
# (key, ts, value), the oracle row_numbers by (ts, value); rows tying
# on BOTH produce identical update values, so the output multiset is
# order-invariant.

EWMA_ALPHAS = [0.1, 0.25, 0.3, 0.5, 0.7, 0.9]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


class EwmaPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0xE73A)

    def build(self) -> dict:
        r = self.rng
        conds = []
        if r.random() < 0.6:
            conds.append(("type_in", sorted(r.sample(EVENT_TYPES, r.randrange(1, 4)))))
        if r.random() < 0.4:
            conds.append(("uid_mod", r.choice([2, 3]), r.randrange(0, 2)))
        return {
            "alpha": r.choice(EWMA_ALPHAS),
            "m": r.choice([1, 3, 7, 15]),
            "conds": conds,
        }


def _ewma_where_sql(conds) -> str:
    parts = ["1=1"]
    for c in conds:
        if c[0] == "type_in":
            vals = ", ".join(f"'{v}'" for v in c[1])
            parts.append(f"(event_type IN ({vals}))")
        else:
            parts.append(f"((user_id % {c[1]}) = {c[2]})")
    return " AND ".join(parts)


def render_ewma_sql(plan: dict) -> str:
    a = plan["alpha"]
    b = 1 - a  # the binary-float complement the kernel actually uses
    m = plan["m"]
    return f"""
WITH RECURSIVE seq AS (
    SELECT (user_id % {m}) AS user_id, CAST(ts AS TIMESTAMP) AS ts,
           value::DOUBLE AS value,
           row_number() OVER (PARTITION BY (user_id % {m}) ORDER BY ts, value) AS rn
    FROM events WHERE {_ewma_where_sql(plan['conds'])}
),
r AS (
    SELECT user_id, ts, value, rn, value AS ewma FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.ts, s.value, s.rn,
           CAST({a!r} AS DOUBLE) * s.value + CAST({b!r} AS DOUBLE) * r.ewma
    FROM seq s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, ts, value, round(ewma, 6) AS ewma FROM r
"""


def render_ewma_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.operators.stateful import ewma
    from data_pipeline_project_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    cond = F.lit(True)
    for c in plan["conds"]:
        if c[0] == "type_in":
            cond = cond & F.col("event_type").isin(c[1])
        else:
            cond = cond & ((F.col("user_id") % c[1]) == c[2])
    ev = ev.where(cond).withColumn("user_id", F.col("user_id") % plan["m"])
    return ewma(ev, alpha=plan["alpha"])


def generate_ewma(seed: int) -> tuple[dict, str]:
    plan = EwmaPlanGen(seed).build()
    return plan, render_ewma_sql(plan)


# ---------------------------------------------------------------------------
# Family K: sessionization plans
# ---------------------------------------------------------------------------
#
# Fuzzes the gap-based sessionization pattern (cumulative sum over
# "gap exceeded" flags) across gap thresholds, key remappings, and
# filters, plus a per-session aggregate variant. Integer-exact time
# discipline: gaps compare EPOCH MICROSECONDS (unix_micros vs
# epoch_us) — never unix_timestamp, which truncates sub-seconds on the
# Spark side only (the round-6 gotcha). Determinism: window order is
# (ts, event_id); event_id is unique, so ties cannot flap.

SESSION_GAPS_S = [60, 600, 3600, 6 * 3600]


class SessionPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x5E55)

    def build(self) -> dict:
        r = self.rng
        conds = []
        if r.random() < 0.5:
            conds.append(("type_in", sorted(r.sample(EVENT_TYPES, r.randrange(1, 4)))))
        if r.random() < 0.3:
            conds.append(("uid_mod", r.choice([2, 3]), r.randrange(0, 2)))
        return {
            "gap_s": r.choice(SESSION_GAPS_S),
            "m": r.choice([1, 3, 7, 15]),
            "conds": conds,
            "agg": r.random() < 0.5,
        }


def render_session_sql(plan: dict) -> str:
    gap_us = plan["gap_s"] * 1_000_000
    m = plan["m"]
    base = f"""
WITH ev AS (
    SELECT (user_id % {m}) AS uid, event_id, CAST(ts AS TIMESTAMP) AS ts,
           epoch_us(CAST(ts AS TIMESTAMP)) AS tus
    FROM events WHERE {_ewma_where_sql(plan['conds'])}
),
flagged AS (
    SELECT uid, event_id, ts,
           CASE WHEN tus - lag(tus) OVER w > {gap_us} THEN 1 ELSE 0 END AS brk
    FROM ev WINDOW w AS (PARTITION BY uid ORDER BY ts, event_id)
),
sess AS (
    SELECT uid, event_id, ts,
           CAST(sum(brk) OVER (PARTITION BY uid ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
    FROM flagged
)"""
    if not plan["agg"]:
        return base + (
            "\nSELECT uid, event_id, "
            f"strftime(ts, '{TS_FMT_SQL}') AS ts, session_id FROM sess"
        )
    return base + """
SELECT uid, session_id, CAST(count(*) AS BIGINT) AS n_events,
       min(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS first_ts,
       max(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_ts
FROM sess GROUP BY uid, session_id"""


def render_session_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from data_pipeline_project_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    cond = F.lit(True)
    for c in plan["conds"]:
        if c[0] == "type_in":
            cond = cond & F.col("event_type").isin(c[1])
        else:
            cond = cond & ((F.col("user_id") % c[1]) == c[2])
    ev = ev.where(cond).select(
        (F.col("user_id") % plan["m"]).alias("uid"),
        "event_id",
        F.col("ts"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = Window.partitionBy("uid").orderBy("ts", "event_id")
    gap_us = plan["gap_s"] * 1_000_000
    flagged = ev.withColumn(
        "brk",
        F.when(F.col("tus") - F.lag("tus").over(w) > gap_us, 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    fmt = TS_FMT_SPARK
    if not plan["agg"]:
        return sess.select(
            "uid", "event_id", F.date_format("ts", fmt).alias("ts"), "session_id"
        )
    return sess.groupBy("uid", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(F.date_format("ts", fmt)).alias("first_ts"),
        F.max(F.date_format("ts", fmt)).alias("last_ts"),
    )


def generate_session(seed: int) -> tuple[dict, str]:
    plan = SessionPlanGen(seed).build()
    return plan, render_session_sql(plan)


# ---------------------------------------------------------------------------
# Family L: NULL-semantics plans
# ---------------------------------------------------------------------------
#
# Every other family is null-free by construction; this one makes NULL
# the subject. nullif() leaves inject nulls deterministically, and the
# grammar then exercises exactly the three-valued-logic surface where
# engines classically diverge: NULL-propagating arithmetic, predicates
# evaluating to UNKNOWN (row filtered — in WHERE and in CASE
# conditions), IS [NOT] NULL, null-safe equality (IS NOT DISTINCT FROM
# vs Column.eqNullSafe), null-skipping aggregates (count(expr) vs
# count(*), sum/min/max over partially-null inputs), and NULL group
# keys (sentinel-coalesced in the OUTPUT because nullable int columns
# float64-ify in pandas on both sides and NaN != NaN would break the
# value compare; the grouping itself still runs on the nullable key,
# where both engines put all NULLs in one group).

class NullIfLeaf(Node):
    """nullif(col % k, c): deterministic nulls, ~1/k of rows."""

    def __init__(self, col: str, k: int, c: int):
        self.col, self.k, self.c = col, k, c

    def sql(self) -> str:
        return f"nullif(({self.col} % {self.k}), {self.c})"

    def spark(self) -> Column:
        return F.nullif(F.col(self.col) % F.lit(self.k), F.lit(self.c))


class IsNullP(Pred):
    def __init__(self, a: Node, negate: bool):
        self.a, self.negate = a, negate

    def sql(self) -> str:
        op = "IS NOT NULL" if self.negate else "IS NULL"
        return f"({self.a.sql()} {op})"

    def spark(self) -> Column:
        c = self.a.spark()
        return c.isNotNull() if self.negate else c.isNull()


class NullSafeEq(Pred):
    def __init__(self, a: Node, b: Node):
        self.a, self.b = a, b

    def sql(self) -> str:
        return f"({self.a.sql()} IS NOT DISTINCT FROM {self.b.sql()})"

    def spark(self) -> Column:
        return self.a.spark().eqNullSafe(self.b.spark())


class NullPlanGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed ^ 0x4011)

    def int_expr(self, depth: int) -> Node:
        r = self.rng
        if depth <= 0 or r.random() < 0.35:
            if r.random() < 0.6:
                k = r.choice([3, 5, 7, 11])
                return NullIfLeaf(r.choice(INT_COLS), k, r.randrange(0, k))
            return IntLeaf(r.choice(INT_COLS), r.choice([7, 97]))
        pick = r.random()
        if pick < 0.5:  # NULL-propagating arithmetic
            return BinOp(r.choice(["+", "-", "*"]),
                         self.int_expr(depth - 1), self.int_expr(depth - 1))
        if pick < 0.7:
            return Func2(r.choice(["least", "greatest"]),
                         self.int_expr(depth - 1), self.int_expr(depth - 1))
        # a CASE whose CONDITION can be UNKNOWN (falls to ELSE)
        return CaseWhen(self.pred(depth - 1),
                        self.int_expr(depth - 1), self.int_expr(depth - 1))

    def pred(self, depth: int) -> Pred:
        r = self.rng
        if depth <= 0 or r.random() < 0.5:
            pick = r.random()
            if pick < 0.35:  # UNKNOWN filters the row in both engines
                return Cmp(r.choice(["<", "<=", "=", "!=", ">", ">="]),
                           self.int_expr(1), self.int_expr(1))
            if pick < 0.6:
                return IsNullP(self.int_expr(1), r.random() < 0.5)
            return NullSafeEq(self.int_expr(1), self.int_expr(1))
        op = "and" if r.random() < 0.5 else "or"
        return BoolOp(op, self.pred(depth - 1), self.pred(depth - 1))

    def build(self) -> dict:
        r = self.rng
        where = self.pred(2)
        group_key = self.int_expr(1) if r.random() < 0.7 else None
        aggs = []
        kinds = ["count_star", "count_expr", "count_distinct", "sum", "min", "max"]
        picked = r.sample(kinds, r.randrange(3, 6))
        if "count_expr" not in picked:
            picked[0] = "count_expr"  # the null-skipping count is the point
        for i, kind in enumerate(picked):
            expr = None if kind == "count_star" else self.int_expr(2)
            aggs.append((kind, expr, f"a{i}"))
        return {"where": where, "group_key": group_key, "aggs": aggs}


def render_null_sql(plan: dict) -> str:
    keys, gkeys = [], []
    if plan["group_key"] is not None:
        e = plan["group_key"].sql()
        # group on the NULLABLE key; emit it sentinel-coalesced (see
        # family docstring for why the output can't stay nullable)
        keys = [f"coalesce({e}, -999) AS gk"]
        gkeys = [e]
    aggs = []
    for kind, expr, alias in plan["aggs"]:
        if kind == "count_star":
            aggs.append(f"CAST(count(*) AS BIGINT) AS {alias}")
        elif kind == "count_expr":
            aggs.append(f"CAST(count({expr.sql()}) AS BIGINT) AS {alias}")
        elif kind == "count_distinct":
            aggs.append(f"CAST(count(DISTINCT {expr.sql()}) AS BIGINT) AS {alias}")
        else:
            aggs.append(
                f"CAST(coalesce({kind}({expr.sql()}), -1) AS BIGINT) AS {alias}"
            )
    sql = f"SELECT {', '.join(keys + aggs)} FROM lineitem WHERE {plan['where'].sql()}"
    if gkeys:
        sql += f" GROUP BY {', '.join(gkeys)}"
    return sql


def render_null_spark(plan: dict, spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_project_spark.sources.tables import load_table

    df = load_table(spark, "lineitem", sf_dir).where(plan["where"].spark())
    aggs = []
    for kind, expr, alias in plan["aggs"]:
        if kind == "count_star":
            c = F.count(F.lit(1))
        elif kind == "count_expr":
            c = F.count(expr.spark())
        elif kind == "count_distinct":
            c = F.count_distinct(expr.spark())
        else:
            f = {"sum": F.sum, "min": F.min, "max": F.max}[kind]
            c = F.coalesce(f(expr.spark()), F.lit(-1))
        aggs.append(c.cast("long").alias(alias))
    if plan["group_key"] is not None:
        gk = plan["group_key"].spark()
        out = df.groupBy(gk.alias("_gk")).agg(*aggs)
        return out.select(
            F.coalesce(F.col("_gk"), F.lit(-999)).cast("long").alias("gk"), *[
                F.col(a) for _, _, a in plan["aggs"]
            ]
        )
    return df.agg(*aggs)


def generate_null(seed: int) -> tuple[dict, str]:
    plan = NullPlanGen(seed).build()
    return plan, render_null_sql(plan)
