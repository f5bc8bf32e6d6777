"""SQL front door for the lakehouse tier (r12).

A real user's first touch of a table format is SQL — the reference's
entire interface is SQL DDL/DML through MySQL
(setup_database_in_mysql.py:58-103; pipeline.py issues INSERT/UPDATE
through one connection). The manifest tier's operations were
Python-API-only; this module maps the standard Delta-flavored command
grammar onto them, one statement in, one result out:

    MERGE INTO t USING s ON k [WHEN MATCHED THEN UPDATE SET *
                               WHEN NOT MATCHED THEN INSERT *]
    UPDATE t SET c = expr, ... WHERE pred      (r13: copy-on-write
                                                file-targeted rewrite)
    DELETE FROM t WHERE k IN (...)            (targeted rewrite)
    DELETE FROM t WHERE k = v                 (point delete)
    DELETE FROM t WHERE <any predicate>       (r13: discovery scan +
                                                matched-file rewrite)
    INSERT INTO t SELECT ... | VALUES (...)   (r13: append_snapshot)
    OPTIMIZE t                                 (compact small files)
    OPTIMIZE t ZORDER BY (a, b)                (whole-table recluster)
    OPTIMIZE t WHERE p = v [ZORDER BY (...)]   (one-partition rewrite)
    VACUUM t [RETAIN n VERSIONS]
    ANALYZE TABLE t [COMPUTE STATISTICS]       (distributed, r12)
    DESCRIBE HISTORY t [LIMIT n]
    DESCRIBE DETAIL t
    RESTORE [TABLE] t [TO] VERSION AS OF n
    RESTORE [TABLE] t [TO] TIMESTAMP AS OF 'ts'
    RESTORE [TABLE] t [TO] TAG AS OF 'name'          (r13: named refs)
    CREATE TABLE [IF NOT EXISTS] t LOCATION 'path'   (r13: catalog)
    DROP TABLE [IF EXISTS] t                         (r13: catalog)
    CREATE TAG name ON t [VERSION AS OF n]           (r13: named refs)
    DROP TAG name ON t
    SHOW TABLES | SHOW TAGS t
    SELECT ...                                 (passthrough: snapshot
                                                views + spark.sql;
                                                r13: `t VERSION AS OF
                                                n` / `t TIMESTAMP AS
                                                OF 'ts'` clauses read
                                                time-travel snapshots)

Honest scope: this is a COMMAND DISPATCHER, not a SQL engine —
commands are parsed with anchored patterns and delegate to the same
Python twins the rest of the repo tests (merge_upsert, update_where,
delete_rows_targeted, delete_where, append_snapshot, compact_snapshot,
rewrite_table/partition, vacuum, analyze_table, restore_table,
table_history/table_profile, TableCatalog);
SELECT statements hand the full query to Spark's own parser over
registered snapshot views, so query SQL is Catalyst-complete. Every
SQL form is pinned test-equal to its Python twin in
tests/test_sql_commands.py.

The catalog may be a plain ``{name: path}`` dict (session-scoped, the
r12 shape) or a :class:`~data_pipeline_project_spark.sinks.catalog.
TableCatalog` (r13): persistent, versioned, CAS-protected — table
names survive process restarts and every front door over the same
catalog root resolves identically (the reference's MySQL namespace
property). CREATE/DROP TABLE require the persistent form.

Transactions: ``LakehouseSQL.transaction([...])`` runs a statement
list inside ONE cross-table atomic transaction (sinks/txn.py) — the
SQL twin of the reference's raw+agg single-transaction commit
(pipeline.py:246-259). All-or-nothing: any failing statement aborts
every staged table.

100 TB posture: zero logic of its own — each command inherits its
twin's envelope (targeted deletes prune via zone maps + blooms,
OPTIMIZE WHERE touches one partition, ANALYZE is one distributed
job, VACUUM/RESTORE/DESCRIBE are metadata-only).
"""

from __future__ import annotations

import re

__all__ = ["LakehouseSQL", "SQLCommandError"]


class SQLCommandError(ValueError):
    """The statement is not in the supported command grammar — the
    error says what IS supported; silently guessing would be worse."""


def _ident(name: str) -> str:
    return name.strip().strip("`\"")


_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<t>[\w.`\"]+)\s+USING\s+(?P<s>[\w.`\"]+)\s+"
    r"ON\s+(?P<on>.+?)\s*"
    r"(?P<clauses>WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*)?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<t>[\w.`\"]+)\s+WHERE\s+(?P<pred>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_IN_LIST = re.compile(
    r"^(?P<k>[\w.`\"]+)\s+IN\s*\((?P<vals>[^)]+)\)$",
    re.IGNORECASE | re.DOTALL,
)
_EQ = re.compile(
    r"^(?P<k>[\w.`\"]+)\s*=\s*(?P<v>.+)$", re.DOTALL
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<t>[\w.`\"]+)"
    r"(?:\s+WHERE\s+(?P<pk>[\w.`\"]+)\s*=\s*"
    r"(?P<pv>.+?(?=\s+ZORDER\s+BY|\s*$)))?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<z>[^)]+)\))?\s*$",
    re.IGNORECASE,
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+(?P<t>[\w.`\"]+)"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS?)?\s*$",
    re.IGNORECASE,
)
_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(?P<t>[\w.`\"]+)"
    r"(?:\s+COMPUTE\s+STATISTICS)?\s*$",
    re.IGNORECASE,
)
_DESCRIBE = re.compile(
    r"^\s*DESCRIBE\s+(?P<what>HISTORY|DETAIL)\s+(?P<t>[\w.`\"]+)"
    r"(?:\s+LIMIT\s+(?P<n>\d+))?\s*$",
    re.IGNORECASE,
)
_RESTORE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?(?P<t>[\w.`\"]+)\s+(?:TO\s+)?"
    r"(?P<kind>VERSION|TIMESTAMP|TAG)\s+AS\s+OF\s+(?P<v>.+?)\s*$",
    re.IGNORECASE,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(?P<t>[\w.`\"]+)\s+SET\s+(?P<sets>.+?)\s+"
    r"WHERE\s+(?P<pred>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<t>[\w.`\"]+)\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<t>[\w`\"]+)\s+LOCATION\s+(?P<p>'[^']+'|\"[^\"]+\")\s*$",
    re.IGNORECASE,
)
_DROP = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<t>[\w`\"]+)\s*$",
    re.IGNORECASE,
)
_CREATE_TAG = re.compile(
    r"^\s*CREATE\s+TAG\s+(?P<n>[\w.$-]+|'[^']+')\s+ON\s+(?P<t>[\w`\"]+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?\s*$",
    re.IGNORECASE,
)
_DROP_TAG = re.compile(
    r"^\s*DROP\s+TAG\s+(?P<n>[\w.$-]+|'[^']+')\s+ON\s+(?P<t>[\w`\"]+)\s*$",
    re.IGNORECASE,
)
_SHOW = re.compile(
    r"^\s*SHOW\s+(?:(?P<what>TABLES)|TAGS\s+(?P<t>[\w`\"]+))\s*$",
    re.IGNORECASE,
)
# `t VERSION AS OF 3` / `t TIMESTAMP AS OF '...'` / `t TAG AS OF
# 'name'` inside a SELECT — rewritten to a registered time-travel
# view before Spark parses it
_TIME_TRAVEL = re.compile(
    r"(?P<t>[\w`\"]+)\s+(?P<kind>VERSION|TIMESTAMP|TAG)\s+AS\s+OF\s+"
    r"(?P<v>'[^']*'|\"[^\"]*\"|\S+)",
    re.IGNORECASE,
)


def _split_top_level(s: str, sep: str = ",") -> list:
    """Split on ``sep`` at paren/quote depth zero — SET lists and VALUES
    rows contain commas inside function calls and string literals."""
    parts, depth, buf, q = [], 0, [], None
    for ch in s:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
            continue
        if ch in ("'", '"'):
            q = ch
            buf.append(ch)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _parse_literal(tok: str):
    tok = tok.strip()
    if (tok.startswith("'") and tok.endswith("'")) or (
        tok.startswith('"') and tok.endswith('"')
    ):
        return tok[1:-1]
    low = tok.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError as e:
        raise SQLCommandError(
            f"unsupported literal {tok!r} (string/number/bool)"
        ) from e


class LakehouseSQL:
    """One SQL entry point over a name -> table-path catalog.

    ``catalog`` is either a plain dict (session-scoped names) or a
    :class:`TableCatalog` (persistent, versioned, shared across
    processes — r13)."""

    def __init__(self, spark, catalog):
        self.spark = spark
        if isinstance(catalog, dict):
            self.catalog = {k: v for k, v in catalog.items()}
        else:
            self.catalog = catalog  # TableCatalog duck-typed: tables()

    # -- helpers -----------------------------------------------------------

    def _tables(self) -> dict:
        if isinstance(self.catalog, dict):
            return self.catalog
        return self.catalog.tables()

    def _path(self, name: str) -> str:
        t = _ident(name)
        tabs = self._tables()
        if t not in tabs:
            raise SQLCommandError(
                f"unknown table {t!r}; catalog has {sorted(tabs)}"
            )
        return tabs[t]

    def _register_views(self) -> None:
        from data_pipeline_project_spark.sinks.manifest import read_version

        tabs = self._tables()
        # a DROPped table's stale temp view must stop resolving, or a
        # SELECT after DROP silently reads the last-registered snapshot
        for stale in getattr(self, "_registered", set()) - set(tabs):
            self.spark.catalog.dropTempView(stale)
        for name, path in tabs.items():
            read_version(self.spark, path).createOrReplaceTempView(name)
        self._registered = set(tabs)

    def _keys_df(self, path: str, col: str, values: list):
        # one-column frame for the targeted twins, cast to the TABLE's
        # actual key type (r12 hygiene nit: int/date-keyed tables used
        # to ride Spark's join upcast from the literal-inferred long/
        # double — type-exact beats upcast-dependent, same as the r8
        # MERGE normalization did for update frames)
        from data_pipeline_project_spark.sinks.manifest import table_schema

        df = self.spark.createDataFrame([(v,) for v in values]).toDF(col)
        try:
            ktype = {
                f.name: f.dataType
                for f in table_schema(self.spark, path).fields
            }[col]
        except KeyError:
            return df  # unknown column: let the twin's own check speak
        from pyspark.sql import functions as F

        return df.select(F.col(col).cast(ktype).alias(col))

    # -- the front door ----------------------------------------------------

    def sql(self, statement: str):
        """Execute one statement. Commands return the twin's result
        dict; DESCRIBE and SELECT return a DataFrame."""
        s = statement.strip().rstrip(";")
        head = s.split(None, 1)[0].upper() if s.split() else ""
        if head == "SELECT" or head == "WITH":
            s = self._rewrite_time_travel(s)
            self._register_views()
            return self.spark.sql(s)
        if head == "MERGE":
            return self._merge(s)
        if head == "UPDATE":
            return self._update(s)
        if head == "DELETE":
            return self._delete(s)
        if head == "INSERT":
            return self._insert(s)
        if head == "OPTIMIZE":
            return self._optimize(s)
        if head == "VACUUM":
            return self._vacuum(s)
        if head == "ANALYZE":
            return self._analyze(s)
        if head == "DESCRIBE":
            return self._describe(s)
        if head == "RESTORE":
            return self._restore(s)
        if head == "CREATE":
            if _CREATE_TAG.match(s):
                return self._create_tag(s)
            return self._create(s)
        if head == "DROP":
            if _DROP_TAG.match(s):
                return self._drop_tag(s)
            return self._drop(s)
        if head == "SHOW":
            return self._show(s)
        raise SQLCommandError(
            f"unsupported statement {head!r}: supported commands are "
            f"MERGE INTO / UPDATE / DELETE FROM / INSERT INTO / "
            f"OPTIMIZE / VACUUM / ANALYZE TABLE / DESCRIBE "
            f"HISTORY|DETAIL / RESTORE / CREATE TABLE / DROP TABLE, "
            f"plus SELECT passthrough (with VERSION|TIMESTAMP AS OF)"
        )

    def transaction(self, statements: list) -> dict:
        """Run ``statements`` inside ONE cross-table atomic
        transaction: every touched table publishes together or not at
        all — the reference's raw+agg single-transaction commit
        (pipeline.py:246-259), SQL form. Statements must be commands
        that WRITE a catalog table (MERGE/UPDATE/DELETE/INSERT)."""
        from data_pipeline_project_spark.sinks.txn import transaction

        tables = []
        for s in statements:
            c = s.strip().rstrip(";")
            m = (
                _MERGE.match(c)
                or _UPDATE.match(c)
                or _DELETE.match(c)
                or _INSERT.match(c)
            )
            if not m:
                raise SQLCommandError(
                    "transactions take MERGE/UPDATE/DELETE/INSERT "
                    "statements only (each stages one table commit)"
                )
            p = self._path(m.group("t"))
            if p not in tables:
                tables.append(p)
        if len(tables) < 2:
            raise SQLCommandError(
                "a transaction needs >= 2 distinct tables; a single "
                "table's commit is already atomic"
            )
        results = []
        with transaction(tables):
            for s in statements:
                results.append(self.sql(s))
        return {"tables": tables, "results": results}

    # -- command implementations -------------------------------------------

    def _merge(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import merge_upsert

        m = _MERGE.match(s)
        if not m:
            raise SQLCommandError(
                "MERGE grammar: MERGE INTO t USING source_view ON key "
                "[WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *] — whole-row upsert by "
                "key (the only WHEN forms this tier defines)"
            )
        path = self._path(m.group("t"))
        on = m.group("on").strip()
        eq = re.match(
            r"^(?:[\w`\"]+\.)?([\w`\"]+)\s*=\s*(?:[\w`\"]+\.)?([\w`\"]+)$",
            on,
        )
        if eq:
            k1, k2 = _ident(eq.group(1)), _ident(eq.group(2))
            if k1 != k2:
                raise SQLCommandError(
                    f"MERGE ON must equate the SAME key column on both "
                    f"sides (got {k1!r} vs {k2!r}) — the upsert key"
                )
            key = k1
        else:
            key = _ident(on)
        src = _ident(m.group("s"))
        updates = self.spark.table(src)
        return merge_upsert(self.spark, path, key, updates)

    def _delete(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import (
            delete_rows_targeted,
            delete_where,
        )

        m = _DELETE.match(s)
        if not m:
            raise SQLCommandError("DELETE grammar: DELETE FROM t WHERE ...")
        path = self._path(m.group("t"))
        pred = m.group("pred").strip()
        # point shapes (k = literal, k IN (literals)) take the TARGETED
        # twin — zone maps + blooms prune candidates from the log with
        # no discovery scan at all; every other predicate routes
        # through the r13 rewrite job (one pushed-down discovery scan,
        # matched files only)
        try:
            mi = _IN_LIST.match(pred)
            me = _EQ.match(pred) if not mi else None
            if mi:
                key = _ident(mi.group("k"))
                vals = [
                    _parse_literal(v) for v in mi.group("vals").split(",")
                ]
            elif me:
                key = _ident(me.group("k"))
                vals = [_parse_literal(me.group("v"))]
            else:
                return delete_where(self.spark, path, pred)
        except SQLCommandError:
            # shaped like a point delete but the values are expressions
            # (k = v + 1, k IN (SELECT ...)): a rewrite-job predicate
            return delete_where(self.spark, path, pred)
        return delete_rows_targeted(
            self.spark, path, key, self._keys_df(path, key, vals), commit=True,
        )

    def _update(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import update_where

        m = _UPDATE.match(s)
        if not m:
            raise SQLCommandError(
                "UPDATE grammar: UPDATE t SET c = expr, ... WHERE pred"
            )
        path = self._path(m.group("t"))
        assignments = {}
        for item in _split_top_level(m.group("sets")):
            if "=" not in item:
                raise SQLCommandError(
                    f"SET item {item!r} is not `column = expression`"
                )
            c, e = item.split("=", 1)
            assignments[_ident(c)] = e.strip()
        if not assignments:
            raise SQLCommandError("UPDATE needs at least one SET item")
        return update_where(
            self.spark, path, assignments, m.group("pred").strip()
        )

    def _insert(self, s: str):
        from pyspark.sql import functions as F

        from data_pipeline_project_spark.sinks.manifest import (
            append_snapshot,
            table_schema,
        )

        m = _INSERT.match(s)
        if not m:
            raise SQLCommandError(
                "INSERT grammar: INSERT INTO t SELECT ... | "
                "INSERT INTO t VALUES (...), (...)"
            )
        path = self._path(m.group("t"))
        rest = m.group("rest").strip()
        head = rest.split(None, 1)[0].upper()
        ts = table_schema(self.spark, path)
        if head in ("SELECT", "WITH"):
            self._register_views()
            df = self.spark.sql(self._rewrite_time_travel(rest))
        elif head == "VALUES":
            # bare VALUES is a query in Spark SQL (cols col1..colN);
            # aliasing with the table's columns would let Spark's
            # arity error fire before this module's clearer one
            df = self.spark.sql(rest)
        else:
            raise SQLCommandError(
                f"INSERT source must be SELECT/WITH/VALUES, got {head!r}"
            )
        if len(df.columns) != len(ts.fields):
            raise SQLCommandError(
                f"INSERT arity mismatch: query yields {len(df.columns)} "
                f"column(s), table has {len(ts.fields)}"
            )
        # align by NAME when the query names every table column (any
        # order), else by POSITION; always cast to the logical types
        if {c.lower() for c in df.columns} == {
            f.name.lower() for f in ts.fields
        }:
            by = {c.lower(): c for c in df.columns}
            aligned = df.select(
                *[
                    F.col(by[f.name.lower()]).cast(f.dataType).alias(f.name)
                    for f in ts.fields
                ]
            )
        else:
            aligned = df.select(
                *[
                    F.col(df.columns[i]).cast(f.dataType).alias(f.name)
                    for i, f in enumerate(ts.fields)
                ]
            )
        return append_snapshot(self.spark, path, aligned)

    def _create(self, s: str):
        m = _CREATE.match(s)
        if not m:
            raise SQLCommandError(
                "CREATE grammar: CREATE TABLE [IF NOT EXISTS] t "
                "LOCATION 'path'"
            )
        if isinstance(self.catalog, dict):
            raise SQLCommandError(
                "CREATE TABLE needs a persistent TableCatalog — "
                "construct LakehouseSQL(spark, TableCatalog(root)); a "
                "plain dict catalog is session-scoped and read-only"
            )
        return self.catalog.create_table(
            _ident(m.group("t")),
            m.group("p")[1:-1],
            if_not_exists=bool(m.group("ine")),
        )

    def _drop(self, s: str):
        m = _DROP.match(s)
        if not m:
            raise SQLCommandError(
                "DROP grammar: DROP TABLE [IF EXISTS] t"
            )
        if isinstance(self.catalog, dict):
            raise SQLCommandError(
                "DROP TABLE needs a persistent TableCatalog — a plain "
                "dict catalog is session-scoped and read-only"
            )
        return self.catalog.drop_table(
            _ident(m.group("t")), if_exists=bool(m.group("ie"))
        )

    def _create_tag(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import tag_snapshot

        m = _CREATE_TAG.match(s)
        name = m.group("n").strip("'")
        return tag_snapshot(
            self._path(m.group("t")),
            name,
            version=int(m.group("v")) if m.group("v") else None,
        )

    def _drop_tag(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import drop_tag

        m = _DROP_TAG.match(s)
        return drop_tag(self._path(m.group("t")), m.group("n").strip("'"))

    def _show(self, s: str):
        m = _SHOW.match(s)
        if not m:
            raise SQLCommandError(
                "SHOW grammar: SHOW TABLES | SHOW TAGS t"
            )
        if m.group("what"):
            rows = sorted(self._tables().items())
            return self.spark.createDataFrame(
                rows or [], "table_name string, location string"
            )
        from data_pipeline_project_spark.sinks.manifest import list_tags

        rows = sorted(list_tags(self._path(m.group("t"))).items())
        return self.spark.createDataFrame(
            rows or [], "tag_name string, version long"
        )

    def _rewrite_time_travel(self, s: str) -> str:
        """Replace `t VERSION AS OF n` / `t TIMESTAMP AS OF 'x'` with a
        registered time-travel view of the snapshot — SELECT reads any
        committed version, not just the head (read_version already
        supported it; r12's SELECT only registered head views)."""
        from data_pipeline_project_spark.sinks.manifest import read_version

        tabs = self._tables()

        def repl(m):
            t = _ident(m.group("t"))
            if t not in tabs:
                return m.group(0)  # not a catalog table: leave for Spark
            lit = m.group("v")
            kind = m.group("kind").upper()
            if kind == "VERSION":
                n = int(_parse_literal(lit))
                view = f"{t}__v{n}"
                df = read_version(self.spark, tabs[t], n)
            elif kind == "TAG":
                name = str(_parse_literal(lit))
                view = f"{t}__tag_" + re.sub(r"\W", "_", name)
                df = read_version(self.spark, tabs[t], tag=name)
            else:
                as_of = _parse_literal(lit)
                view = f"{t}__asof_" + re.sub(r"\W", "_", str(as_of))
                df = read_version(self.spark, tabs[t], as_of=as_of)
            df.createOrReplaceTempView(view)
            return view

        return _TIME_TRAVEL.sub(repl, s)

    def _optimize(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import (
            compact_snapshot,
            rewrite_partition,
            rewrite_table,
        )

        m = _OPTIMIZE.match(s)
        if not m:
            raise SQLCommandError(
                "OPTIMIZE grammar: OPTIMIZE t [WHERE part = v] "
                "[ZORDER BY (a, b)]"
            )
        path = self._path(m.group("t"))
        zcols = (
            [_ident(c) for c in m.group("z").split(",")]
            if m.group("z")
            else None
        )
        if m.group("pk"):
            part = {_ident(m.group("pk")): str(_parse_literal(m.group("pv")))}
            if not zcols:
                raise SQLCommandError(
                    "OPTIMIZE ... WHERE needs ZORDER BY (cols) — a "
                    "partition rewrite clusters on something"
                )
            return rewrite_partition(
                self.spark, path,
                zcols if len(zcols) > 1 else zcols[0], part,
            )
        if zcols:
            return rewrite_table(
                self.spark, path, zcols if len(zcols) > 1 else zcols[0]
            )
        return compact_snapshot(self.spark, path)

    def _vacuum(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import vacuum

        m = _VACUUM.match(s)
        if not m:
            raise SQLCommandError(
                "VACUUM grammar: VACUUM t [RETAIN n VERSIONS]"
            )
        path = self._path(m.group("t"))
        keep = int(m.group("n")) if m.group("n") else 2
        return vacuum(path, keep_versions=keep)

    def _analyze(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import analyze_table

        m = _ANALYZE.match(s)
        if not m:
            raise SQLCommandError(
                "ANALYZE grammar: ANALYZE TABLE t [COMPUTE STATISTICS]"
            )
        return analyze_table(self._path(m.group("t")), spark=self.spark)

    def _describe(self, s: str):
        m = _DESCRIBE.match(s)
        if not m:
            raise SQLCommandError(
                "DESCRIBE grammar: DESCRIBE HISTORY|DETAIL t [LIMIT n]"
            )
        path = self._path(m.group("t"))
        if m.group("what").upper() == "HISTORY":
            from data_pipeline_project_spark.sinks.manifest import (
                table_history,
            )

            hist = table_history(
                path, limit=int(m.group("n")) if m.group("n") else None
            )
            rows = [
                (
                    h["version"],
                    h["op"],
                    h["committed_at"],
                    h["n_files"],
                    h["total_rows"],
                    h["files_removed"],
                    bool(h["schema_change"]),
                )
                for h in hist
            ]
            return self.spark.createDataFrame(
                rows,
                "version long, operation string, committed_at long, "
                "n_files long, total_rows long, files_removed long, "
                "schema_change boolean",
            )
        from data_pipeline_project_spark.sinks.layout import table_detail

        prof = table_detail(path)
        return self.spark.createDataFrame(
            [(
                prof["version"],
                prof["last_op"],
                prof["n_files"],
                prof["total_bytes"],
                prof["live_rows"],
                prof["n_versions"],
                float(prof["ndv_coverage"]),
            )],
            "version long, last_op string, n_files long, "
            "total_bytes long, live_rows long, n_versions long, "
            "ndv_coverage double",
        )

    def _restore(self, s: str):
        from data_pipeline_project_spark.sinks.manifest import restore_table

        m = _RESTORE.match(s)
        if not m:
            raise SQLCommandError(
                "RESTORE grammar: RESTORE [TABLE] t [TO] "
                "VERSION|TIMESTAMP AS OF x"
            )
        path = self._path(m.group("t"))
        kind = m.group("kind").upper()
        if kind == "VERSION":
            return restore_table(path, version=int(m.group("v")))
        if kind == "TAG":
            return restore_table(
                path, tag=str(_parse_literal(m.group("v")))
            )
        return restore_table(path, as_of=_parse_literal(m.group("v")))
