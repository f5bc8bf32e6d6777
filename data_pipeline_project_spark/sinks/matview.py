"""Incrementally-maintained materialized aggregate views over manifest
tables.

A materialized view is the standing answer to ``SELECT keys,
count/sum/min/max/avg(value) GROUP BY keys`` over a manifest table —
stored as a manifest table ITSELF (time-travelable, CDF-readable,
clonable, compactable), and kept current from the source's
change-data-feed instead of by recomputation:

- the view stores the MERGEABLE state per group (``aggregate_state``'s
  ``rows/n/sum/min/max`` columns, decimal-exact sum), not the rendered
  statistics — state is what folds under inserts and retracts under
  deletes; ``read_agg_view`` renders it via finalize;
- each refresh reads ONLY the source commits since the last applied
  version (the ``tablechanges`` feed — O(churn), never O(table)) and
  rewrites ONLY the touched groups' state rows (zone-map-pruned
  ``merge_upsert`` on a 64-bit group key);
- exactly-once without a transaction coordinator: the applied source
  version is stamped INTO the view's snapshot manifest (the ``extra``
  channel of ``write_versioned_manifest``), so the watermark commits
  atomically with the data. A crashed refresh leaves the watermark
  unmoved; ``recover_to_last_manifest`` + rerun converges (the same
  argument as every other writer on the manifest layer).

Two refresh strategies, same result (pinned against each other in
tests/test_matview.py):

- ``recompute``: re-aggregate the touched groups from the source's
  live snapshot, scanning only those groups' facts (semi-join prune;
  partition-pruned when keys align with layout). Idempotent by
  construction — the conservative strategy.
- ``delta``: pure state arithmetic — fold the insert batch in
  (``merge_aggregate_states``), subtract the delete batch
  (``retract_aggregate_state``: count/sum are invertible monoids),
  and rescan ONLY the groups whose min/max a delete actually touched
  (``repair_aggregate_state``). The scale path when touched groups are
  hot (a group with 10^9 facts costs one state row here, a group scan
  under recompute).
- ``full``: feed-free re-aggregation of EVERY group from the live
  snapshot — the right plan when a bulk-rewrite/backfill commit made
  the feed footprint table-scale (measured: 14x over delta there,
  SCALE_r08 §9).
- ``auto`` (default): metadata-only footprint probe picks delta vs
  full before any data is read.

At 100 TB: refresh cost is O(source churn) + O(touched group state) +
(delta mode) O(facts of min/max-stale groups only); the view table is
O(groups) — the whole point of materializing. Group identity rides a
single xxhash64 key so the view merges through the integer zone-map
fast path regardless of key arity; collisions are checked exhaustively
at create time and per-batch at refresh (the merge cardinality check),
with an optional full invariant sweep (``verify_unique``).

No reference counterpart (the reference recomputes its aggregate table
from scratch per file batch — ``pipeline.py:288-316``); this is the
lakehouse-tier completion of that aggregate sink: same statistics,
maintained under MERGE/DELETE churn without recomputation.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_project_spark.operators.incremental import (
    _DEC,
    _mc,
    aggregate_state_multi,
    finalize_aggregate_state_multi,
    merge_aggregate_states_multi,
    repair_aggregate_state_multi,
    retract_aggregate_state_multi,
)
from data_pipeline_project_spark.sinks.manifest import (
    commit_metadata,
    read_manifest,
    read_version,
    snapshot_versions,
    write_versioned_manifest,
)

GROUP_KEY = "_gk"
SPEC_FILE = "_matview.json"


def _state_cols(value_cols: list[str]) -> list[str]:
    out = ["_st_rows"]
    for c in value_cols:
        out += [_mc("_st_n", c), _mc("_st_sum", c), _mc("_st_min", c), _mc("_st_max", c)]
    return out


def _spec_path(view_path: str) -> str:
    return os.path.join(view_path, SPEC_FILE)


def read_spec(view_path: str) -> dict:
    with open(_spec_path(view_path)) as fh:
        return json.load(fh)


def applied_src_version(view_path: str) -> int:
    """The source version the view currently reflects: walk the view's
    snapshot history newest-first for the last commit that carried a
    matview stamp (commits by OTHER writers on the view — compaction,
    say — don't carry one and are skipped)."""
    mdir = os.path.join(view_path, "_manifests")
    for v in reversed(snapshot_versions(view_path)):
        m = read_manifest(os.path.join(mdir, f"v{v}.json"), resolve=False)
        stamp = m.get("app", {}).get("matview")
        if stamp is not None:
            return int(stamp["applied_src_version"])
    raise ValueError(
        f"{view_path!r} has no matview-stamped snapshot — not a "
        f"materialized view (or its history was truncated)"
    )


def _check_no_null_keys(df: DataFrame, keys: list[str], what: str) -> None:
    # Group maintenance joins on key EQUALITY (semi-join prune, retract's
    # state join); a null group key would silently never match and the
    # group would drift stale. Refuse loudly instead.
    cond = None
    for k in keys:
        c = F.col(k).isNull()
        cond = c if cond is None else (cond | c)
    if df.where(cond).limit(1).count():
        raise ValueError(
            f"materialized view keys must be non-null; {what} contains "
            f"null values in one of {keys}"
        )


def _with_gk(df: DataFrame, keys: list[str]) -> DataFrame:
    return df.withColumn(GROUP_KEY, F.xxhash64(*[F.col(k) for k in keys]))


def create_agg_view(
    spark,
    src_path: str,
    view_path: str,
    keys: list[str],
    value_col: str | list[str],
    n_files: int = 4,
    filter_sql: str | None = None,
) -> dict:
    """Materialize the view: full aggregate-state compute from the
    source's LATEST committed snapshot, range-clustered on the group
    key (tight zone maps for every later refresh merge), spec written
    beside the data, first snapshot stamped with the source version it
    reflects. ``value_col`` may be a LIST of columns — one state table
    then maintains count/sum/min/max/avg for every column (rendered
    with ``__<col>`` suffixes; a single column keeps the classic
    unsuffixed names). ``filter_sql`` (a Spark SQL predicate over the source's
    columns) makes it a FILTERED view — ``WHERE <filter> GROUP BY
    keys`` — applied identically to the snapshot at create, to the
    change feed and touched-group rescans at refresh (a filtered-out
    row simply never enters any fold), and recorded in the spec.
    Returns {view_version, applied_src_version, n_groups}."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered

    src_versions = snapshot_versions(src_path)
    if not src_versions:
        raise ValueError(
            f"source {src_path!r} has no snapshot manifest — commit one "
            f"with write_versioned_manifest first"
        )
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    src_v = src_versions[-1]
    facts = read_version(spark, src_path, src_v)
    if filter_sql:
        facts = facts.where(filter_sql)
    _check_no_null_keys(facts.select(*keys), keys, "the source")

    state = _with_gk(aggregate_state_multi(facts, keys, value_cols), keys)
    n_groups = state.count()
    if state.select(GROUP_KEY).distinct().count() != n_groups:
        # 64-bit birthday bound: ~n^2/2^65 — vanishing below ~10^8
        # groups, but a collision would silently fuse two groups, so
        # the one-time exhaustive check is worth one shuffle at create.
        raise ValueError(
            "xxhash64 group-key collision among existing groups — use a "
            "coarser grouping or extend the key"
        )

    write_range_clustered(state, view_path, GROUP_KEY, n_files)
    spec = {
        "src": os.path.abspath(src_path),
        "keys": list(keys),
        "value_cols": value_cols,
        "filter_sql": filter_sql,
    }
    tmp = _spec_path(view_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
    os.replace(tmp, _spec_path(view_path))
    m = write_versioned_manifest(
        view_path, extra={"matview": {"applied_src_version": src_v}}
    )
    return {
        "view_version": m["version"],
        "applied_src_version": src_v,
        "n_groups": n_groups,
    }


_SHARD_TARGET_BYTES = 64 << 20  # one diff task per ~64 MB of step footprint
_FULL_REFRESH_FRACTION = 0.5    # step footprint >= half the table: skip the feed


def _feed_probe(src_path: str, v_from: int, v_to: int) -> dict:
    """Manifest-metadata-only cost probe of the refresh window: the
    BIGGEST step's byte footprint (a step diffs the non-shared files of
    adjacent versions), the live table's bytes, and the shard count
    that footprint wants (sharding a diff trades read amplification
    for parallel CPU: a small targeted-merge step wants 1 shard, a
    bulk-rewrite step wants many)."""
    from data_pipeline_project_spark.sources.table_changes import _load_manifest

    biggest, prev, table_bytes = 0, None, 0
    for v in range(v_from, v_to + 1):
        files = {f["path"]: f["bytes"] for f in _load_manifest(src_path, v)["files"]}
        if prev is not None:
            shared = set(files) & set(prev)
            step = sum(b for p, b in files.items() if p not in shared) + sum(
                b for p, b in prev.items() if p not in shared
            )
            biggest = max(biggest, step)
        prev = files
        table_bytes = sum(files.values())
    return {
        "biggest_step_bytes": biggest,
        "table_bytes": table_bytes,
        "shards": max(1, min(16, -(-biggest // _SHARD_TARGET_BYTES))),
    }


def _read_changes(
    spark, src_path: str, v_from: int, v_to: int, shards: int | None
) -> DataFrame:
    from data_pipeline_project_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    if shards is None:
        shards = _feed_probe(src_path, v_from, v_to)["shards"]
    changes = (
        spark.read.format("tablechanges")
        .option("path", src_path)
        .option("from_version", v_from)
        .option("to_version", v_to)
        .option("shards", shards)
        .load()
    )
    # Materialize ONCE: the refresh fold takes several actions over the
    # feed (null-key check, touched set, insert/delete states) and a
    # Python-source read re-runs the worker-side diff per action — for
    # a bulk-rewrite commit that diff is the whole table.
    return changes.localCheckpoint()


def refresh_agg_view(
    spark,
    view_path: str,
    mode: str = "auto",
    verify_unique: bool = False,
    feed_shards: int | None = None,
) -> dict:
    """Advance the view to the source's latest committed version.

    Reads the change feed over (applied, latest], derives the touched
    group set (bounded by churn, never by table size), computes the new
    state for exactly those groups per ``mode`` (``recompute`` /
    ``delta`` — see the module docstring; ``full`` skips the feed and
    re-aggregates every group from the snapshot, the right plan when a
    bulk-rewrite commit made the feed table-scale; ``auto`` picks
    delta vs full from a metadata-only footprint probe), and commits
    ONE merge on the view carrying the new watermark atomically. Groups whose
    rows all vanished become ``_st_rows = 0`` tombstone state rows —
    filtered by ``read_agg_view``, physically reclaimed whenever the
    view is compacted. A refresh that finds no committed changes (or
    only no-op commits like compactions) stamps an empty watermark
    commit so staleness stays observable.

    Crash contract: every intermediate state is merge_upsert's, so
    ``recover_to_last_manifest(view_path)`` + rerun converges; the
    watermark only moves in the commit itself. If the source has been
    vacuumed past the view's watermark the feed fails loudly — rebuild
    with create_agg_view (retention must outlive refresh cadence,
    the same contract as any CDF consumer).

    Returns {view_version, applied_src_version, groups_changed,
    groups_dropped, mode} (mode as RESOLVED: auto reports the strategy
    it picked)."""
    if mode not in ("recompute", "delta", "full", "auto"):
        raise ValueError(
            f"mode must be recompute|delta|full|auto, got {mode!r}"
        )
    spec = read_spec(view_path)
    src, keys = spec["src"], spec["keys"]
    value_cols = spec.get("value_cols") or [spec["value_col"]]
    filter_sql = spec.get("filter_sql")
    applied = applied_src_version(view_path)
    src_latest = (snapshot_versions(src) or [0])[-1]
    if src_latest <= applied:
        return {
            "view_version": (snapshot_versions(view_path) or [0])[-1],
            "applied_src_version": applied,
            "groups_changed": 0,
            "groups_dropped": 0,
            "mode": mode,
        }
    if mode == "auto":
        # Metadata probe BEFORE any data read: when a step's diff
        # footprint is table-scale (a bulk-rewrite/backfill commit),
        # reading the feed costs more than re-aggregating the snapshot
        # outright — pick full; otherwise the feed is O(churn) — delta.
        probe = _feed_probe(src, applied, src_latest)
        mode = (
            "full"
            if probe["biggest_step_bytes"]
            >= _FULL_REFRESH_FRACTION * probe["table_bytes"]
            else "delta"
        )
    stamp = {"matview": {"applied_src_version": src_latest, "mode": mode}}

    current = read_version(spark, view_path)
    current_live = current.where(F.col("_st_rows") > 0).drop(GROUP_KEY)

    if mode == "full":
        # Feed-free: one aggregation over the live snapshot replaces
        # every group's state; the watermark/time-travel history is
        # preserved (unlike a create-from-scratch rebuild).
        facts = read_version(spark, src, src_latest)
        if filter_sql:
            facts = facts.where(filter_sql)
        fresh = aggregate_state_multi(facts, keys, value_cols)
        _check_no_null_keys(fresh.select(*keys), keys, "the source")
        tomb_scope = current_live.select(*keys)
    else:
        changes = _read_changes(spark, src, applied, src_latest, feed_shards)
        if filter_sql:
            # a filtered view never sees rows outside its predicate: an
            # update moving a row OUT of the filter arrives as
            # delete(old, passes) + insert(new, filtered away) — the
            # group correctly loses the row, and vice versa
            changes = changes.where(filter_sql)
        _check_no_null_keys(changes.select(*keys), keys, "the change feed")
        touched = changes.select(*keys).distinct()
        current_touched = current_live.join(touched, keys, "left_semi").select(
            *keys, *_state_cols(value_cols)
        )
        tomb_scope = current_touched.select(*keys)

        if mode == "recompute":
            # Idempotent by construction: the state of every touched
            # group is re-derived from the source's pinned snapshot at
            # the target version, scanning only those groups' facts.
            facts = read_version(spark, src, src_latest)
            if filter_sql:
                facts = facts.where(filter_sql)
            fresh = aggregate_state_multi(
                facts.join(touched, keys, "left_semi"), keys, value_cols
            )
        else:
            # Pure state arithmetic: fold inserts in, subtract deletes
            # (rows/count/decimal-sum are exact inverses), then rescan
            # only the groups whose min/max the deletes touched.
            # Folding the whole multi-commit range at once is sound
            # because the monoid ops commute and repair reads the live
            # snapshot, which already reflects every commit in range.
            ins = changes.where(F.col("_change_type") == "insert")
            dels = changes.where(F.col("_change_type") == "delete")
            ins_state = aggregate_state_multi(ins, keys, value_cols)
            merged = merge_aggregate_states_multi(
                value_cols, current_touched, ins_state
            )
            retracted = retract_aggregate_state_multi(
                value_cols, merged, aggregate_state_multi(dels, keys, value_cols)
            ).localCheckpoint()  # churn-bounded; pins the fold
            if retracted.where(F.col("_st_minmax_stale")).limit(1).count():
                repair_facts = read_version(spark, src, src_latest)
                if filter_sql:
                    repair_facts = repair_facts.where(filter_sql)
                fresh = repair_aggregate_state_multi(
                    value_cols, retracted, repair_facts
                ).select(*keys, *_state_cols(value_cols))
            else:
                # no delete clipped any extreme: skip repair entirely —
                # otherwise its semi-join plan would still SCAN the
                # source just to filter everything out
                fresh = retracted.drop("_st_minmax_stale")

    # Tombstone exactly the groups that WERE live and no longer are —
    # never groups that only existed inside the refresh window.
    src_field = {
        f.name: f.dataType
        for f in read_version(spark, src, src_latest).schema.fields
    }
    vanished = tomb_scope.join(fresh, keys, "left_anti")
    tomb_cols = [*keys, F.lit(0).cast("long").alias("_st_rows")]
    for c in value_cols:
        tomb_cols += [
            F.lit(0).cast("long").alias(_mc("_st_n", c)),
            F.lit(None).cast(_DEC).alias(_mc("_st_sum", c)),
            F.lit(None).cast(src_field[c]).alias(_mc("_st_min", c)),
            F.lit(None).cast(src_field[c]).alias(_mc("_st_max", c)),
        ]
    tombs = vanished.select(*tomb_cols)
    final = _with_gk(fresh.unionByName(tombs), keys).localCheckpoint()
    n_changed = final.count()
    n_dropped = final.where(F.col("_st_rows") == 0).count()

    if n_changed == 0:
        m = commit_metadata(view_path, extra=stamp)
        view_v = m["version"]
    else:
        from data_pipeline_project_spark.sinks.manifest import merge_upsert

        res = merge_upsert(
            spark, view_path, GROUP_KEY, final,
            rewrite="auto", commit_extra=stamp,
        )
        view_v = res["version"]

    if verify_unique:
        # Optional cross-batch collision sweep: a NEW group whose hash
        # collides with an UNTOUCHED old group REPLACES that group's
        # row via the _gk merge — the view then still holds one row per
        # distinct key (the colliding group's row is GONE, not doubled),
        # so an internal distinct-vs-count check can never fire. The
        # invariant that CAN see it: the live view must hold exactly as
        # many groups as the SOURCE snapshot it claims to reflect.
        live = read_version(spark, view_path).where(F.col("_st_rows") > 0)
        src_at = read_version(spark, src, src_latest)
        if filter_sql:
            src_at = src_at.where(filter_sql)
        src_keys = src_at.select(*keys).distinct()
        live_keys = live.select(*keys)
        missing = src_keys.join(live_keys, keys, "left_anti").limit(1).count()
        extra = live_keys.join(src_keys, keys, "left_anti").limit(1).count()
        if missing or extra:
            raise ValueError(
                f"group-key collision detected after refresh (view and "
                f"source snapshot v{src_latest} disagree on the live "
                f"group set: missing={bool(missing)} extra={bool(extra)})"
                f" — rebuild the view with an extended key"
            )
    return {
        "view_version": view_v,
        "applied_src_version": src_latest,
        "groups_changed": n_changed - n_dropped,
        "groups_dropped": n_dropped,
        "mode": mode,
    }


def read_agg_view(spark, view_path: str, version: int | None = None) -> DataFrame:
    """Render the view as user-facing statistics (keys, n_rows,
    sum/min/max/avg_value — suffixed ``__<col>`` for multi-column
    views) — identical to a one-shot GROUP BY over the source snapshot
    the (possibly time-traveled) view version reflects."""
    spec = read_spec(view_path)
    value_cols = spec.get("value_cols") or [spec["value_col"]]
    state = read_version(spark, view_path, version)
    return finalize_aggregate_state_multi(
        value_cols, state.where(F.col("_st_rows") > 0).drop(GROUP_KEY)
    )


def view_status(view_path: str) -> dict:
    """Metadata-only staleness probe: versions on both sides of the
    contract, no Spark session needed."""
    spec = read_spec(view_path)
    applied = applied_src_version(view_path)
    src_latest = (snapshot_versions(spec["src"]) or [0])[-1]
    return {
        "src": spec["src"],
        "keys": spec["keys"],
        "value_cols": spec.get("value_cols") or [spec["value_col"]],
        "filter_sql": spec.get("filter_sql"),
        "applied_src_version": applied,
        "src_latest_version": src_latest,
        "stale": src_latest > applied,
    }


# ---------------------------------------------------------------------------
# Distinct-count materialized views (round 9).
#
# COUNT(DISTINCT x) GROUP BY keys is the one common aggregate the
# rows/sum/min/max state above cannot carry: distinctness is not a
# monoid over scalars. Two physics, mirroring expectations.expect_unique_auto:
#
# - ``exact``: the classic two-level maintenance — state is the
#   per-(group, value) MULTIPLICITY table (xxhash64 group key over
#   keys+value). Multiplicity is an invertible monoid (inserts +1,
#   deletes -1), so the view folds AND retracts exactly; the read
#   renders n_distinct as the per-group count of multiplicity>0 rows.
#   State is O(distinct pairs) — the honest price of exact distinct
#   under churn; refresh cost is O(churn).
# - ``sketch``: per-group HLL register state (Spark's hll_sketch_agg /
#   hll_union — Apache DataSketches). O(groups × ~KB) state, O(groups)
#   reads, inserts FOLD (register max-merge is order-independent, so
#   the folded sketch is byte-identical to a from-scratch one) — but
#   HLL registers can NEVER retract: a refresh window containing any
#   delete recomputes the touched groups from the pinned snapshot
#   (still O(touched groups' facts), never the table).
#
# THE MAINTENANCE-TIER TABLE (r10) — every view kind, its state, and
# what each change type costs. "Churn groups" = groups the refresh
# window touches; no tier ever rescans the table.
#
#   kind / mode          state                 insert        delete
#   ------------------   -------------------   -----------   -----------
#   agg (count/sum/       per-group monoid      fold O(churn) retract
#   avg/min/max)          counters              rows)         O(churn), +
#                                                             bounded
#                                                             rescan only
#                                                             when a
#                                                             delete clips
#                                                             a min/max
#   distinct exact        per-(group, value)    fold +1       retract -1
#                         multiplicity          (invertible monoid)
#   distinct sketch       per-group HLL         fold (register recompute
#                         registers             max-merge)    TOUCHED
#                                                             groups only
#   recompute (exact      the rendered result   recompute     recompute
#   percentile / top-k /  per group + _st_rows  TOUCHED       TOUCHED
#   any order statistic)                        groups        groups
#
# Order statistics need the full multiset — there is no fold and no
# retract (a delta refresh is REFUSED loudly, see
# refresh_recompute_view) — but the recompute is still bounded by the
# churn's groups: the window names the touched groups, the pinned
# snapshot is rescanned for THOSE groups only (semi-join prune), and
# untouched groups' state rows are never read or written.
# ---------------------------------------------------------------------------

DISTINCT_SKETCH_THRESHOLD = 2_000_000


def create_distinct_view(
    spark,
    src_path: str,
    view_path: str,
    keys: list[str],
    distinct_col: str,
    mode: str = "auto",
    n_files: int = 4,
    threshold: int = DISTINCT_SKETCH_THRESHOLD,
    filter_sql: str | None = None,
) -> dict:
    """Materialize ``SELECT keys, count(DISTINCT distinct_col) GROUP BY
    keys`` as a manifest table maintained from the source's change feed.
    ``mode='auto'`` measures the exact state size (distinct pairs) at
    create and picks ``exact`` at or below ``threshold``, ``sketch``
    above — the same exact-small/sketch-large split as
    expectations.expect_unique_auto. NULL values never count (SQL
    COUNT DISTINCT semantics); NULL group keys are refused (same
    contract as create_agg_view). Returns {view_version,
    applied_src_version, n_groups, mode}."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered

    if mode not in ("auto", "exact", "sketch"):
        raise ValueError(f"mode must be auto|exact|sketch, got {mode!r}")
    src_versions = snapshot_versions(src_path)
    if not src_versions:
        raise ValueError(
            f"source {src_path!r} has no snapshot manifest — commit one "
            f"with write_versioned_manifest first"
        )
    src_v = src_versions[-1]
    facts = read_version(spark, src_path, src_v)
    if filter_sql:
        facts = facts.where(filter_sql)
    _check_no_null_keys(facts.select(*keys), keys, "the source")
    vals = facts.where(F.col(distinct_col).isNotNull())

    if mode == "auto":
        pairs = vals.select(*keys, distinct_col).distinct().count()
        mode = "exact" if pairs <= threshold else "sketch"

    if mode == "exact":
        state = (
            vals.groupBy(*keys, distinct_col)
            .agg(F.count(F.lit(1)).alias("_st_mult"))
            .withColumn(
                GROUP_KEY,
                F.xxhash64(*[F.col(k) for k in keys], F.col(distinct_col)),
            )
        )
    else:
        state = _with_gk(
            vals.groupBy(*keys).agg(
                F.count(F.lit(1)).alias("_st_rows"),
                F.hll_sketch_agg(distinct_col).alias("_st_hll"),
            ),
            keys,
        )
    n_state = state.count()
    if state.select(GROUP_KEY).distinct().count() != n_state:
        raise ValueError(
            "xxhash64 state-key collision — extend the grouping key"
        )
    write_range_clustered(state, view_path, GROUP_KEY, n_files)
    spec = {
        "kind": "distinct",
        "mode": mode,
        "src": os.path.abspath(src_path),
        "keys": list(keys),
        "distinct_col": distinct_col,
        "filter_sql": filter_sql,
    }
    tmp = _spec_path(view_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
    os.replace(tmp, _spec_path(view_path))
    m = write_versioned_manifest(
        view_path, extra={"matview": {"applied_src_version": src_v}}
    )
    n_groups = (
        state.select(*keys).distinct().count() if mode == "exact" else n_state
    )
    return {
        "view_version": m["version"],
        "applied_src_version": src_v,
        "n_groups": n_groups,
        "mode": mode,
    }


def refresh_distinct_view(
    spark, view_path: str, feed_shards: int | None = None
) -> dict:
    """Advance a distinct-count view to the source's latest committed
    version. ``exact``: fold the window's per-(group, value) insert
    minus delete multiplicities into the state (pure invertible-monoid
    arithmetic, O(churn)); a pair folding below zero means the feed
    and state diverged and raises. ``sketch``: a window with only
    inserts FOLDS (hll_union with the batch's sketch); any delete
    forces a recompute of the TOUCHED groups from the pinned snapshot
    (HLL cannot retract — see the tier comment). The watermark commits
    atomically with the state, exactly like refresh_agg_view."""
    spec = read_spec(view_path)
    if spec.get("kind") != "distinct":
        raise ValueError(f"{view_path!r} is not a distinct-count view")
    src, keys = spec["src"], spec["keys"]
    dcol, mode = spec["distinct_col"], spec["mode"]
    filter_sql = spec.get("filter_sql")
    applied = applied_src_version(view_path)
    src_latest = (snapshot_versions(src) or [0])[-1]
    if src_latest <= applied:
        return {
            "view_version": (snapshot_versions(view_path) or [0])[-1],
            "applied_src_version": applied,
            "state_rows_changed": 0,
            "mode": mode,
        }
    stamp = {"matview": {"applied_src_version": src_latest, "mode": mode}}
    changes = _read_changes(spark, src, applied, src_latest, feed_shards)
    if filter_sql:
        changes = changes.where(filter_sql)
    _check_no_null_keys(changes.select(*keys), keys, "the change feed")
    changes = changes.where(F.col(dcol).isNotNull())
    current = read_version(spark, view_path)

    if mode == "exact":
        delta = changes.groupBy(*keys, dcol).agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("_d")
        )
        cur_live = current.where(F.col("_st_mult") > 0).drop(GROUP_KEY)
        cur_t = cur_live.join(delta.select(*keys, dcol), [*keys, dcol], "left_semi")
        merged = cur_t.join(delta, [*keys, dcol], "full").select(
            *keys,
            dcol,
            (
                F.coalesce(F.col("_st_mult"), F.lit(0))
                + F.coalesce(F.col("_d"), F.lit(0))
            ).alias("_st_mult"),
        )
        final = merged.withColumn(
            GROUP_KEY,
            F.xxhash64(*[F.col(k) for k in keys], F.col(dcol)),
        ).localCheckpoint()
        if final.where(F.col("_st_mult") < 0).limit(1).count():
            raise ValueError(
                "distinct-view state underflow: the change feed retracted "
                "a (group, value) pair below zero — feed and view diverged; "
                "rebuild with create_distinct_view"
            )
    else:
        touched = changes.select(*keys).distinct()
        cur_t = current.where(F.col("_st_rows") > 0).drop(GROUP_KEY).join(
            touched, keys, "left_semi"
        )
        has_deletes = (
            changes.where(F.col("_change_type") == "delete").limit(1).count() > 0
        )
        if has_deletes:
            # HLL cannot retract: recompute the touched groups' sketches
            # from the pinned snapshot (O(touched groups' facts))
            facts = read_version(spark, src, src_latest)
            if filter_sql:
                facts = facts.where(filter_sql)
            fresh = (
                facts.where(F.col(dcol).isNotNull())
                .join(touched, keys, "left_semi")
                .groupBy(*keys)
                .agg(
                    F.count(F.lit(1)).alias("_st_rows"),
                    F.hll_sketch_agg(dcol).alias("_st_hll"),
                )
            )
            # groups whose rows all vanished tombstone with _st_rows=0
            vanished = cur_t.select(*keys).join(fresh, keys, "left_anti")
            tombs = vanished.select(
                *keys,
                F.lit(0).cast("long").alias("_st_rows"),
                F.lit(None).cast("binary").alias("_st_hll"),
            )
            final = _with_gk(fresh.unionByName(tombs), keys).localCheckpoint()
        else:
            ins = changes.where(F.col("_change_type") == "insert")
            batch = ins.groupBy(*keys).agg(
                F.count(F.lit(1)).alias("_b_rows"),
                F.hll_sketch_agg(dcol).alias("_b_hll"),
            )
            final = _with_gk(
                batch.join(cur_t, keys, "left").select(
                    *keys,
                    (
                        F.coalesce(F.col("_st_rows"), F.lit(0))
                        + F.col("_b_rows")
                    ).alias("_st_rows"),
                    F.when(
                        F.col("_st_hll").isNull(), F.col("_b_hll")
                    )
                    .otherwise(F.hll_union(F.col("_st_hll"), F.col("_b_hll")))
                    .alias("_st_hll"),
                ),
                keys,
            ).localCheckpoint()

    n_changed = final.count()
    if n_changed == 0:
        m = commit_metadata(view_path, extra=stamp)
        view_v = m["version"]
    else:
        from data_pipeline_project_spark.sinks.manifest import merge_upsert

        res = merge_upsert(
            spark, view_path, GROUP_KEY, final,
            rewrite="auto", commit_extra=stamp,
        )
        view_v = res["version"]
    return {
        "view_version": view_v,
        "applied_src_version": src_latest,
        "state_rows_changed": n_changed,
        "mode": mode,
    }


def read_distinct_view(
    spark, view_path: str, version: int | None = None
) -> DataFrame:
    """Render (keys..., n_distinct) — identical to ``SELECT keys,
    count(DISTINCT col)`` over the source snapshot the view reflects
    (exact mode), or its DataSketches HLL estimate (sketch mode, the
    same estimate a direct hll_sketch_agg over the snapshot returns —
    register max-merge makes the folded sketch bit-identical)."""
    spec = read_spec(view_path)
    if spec.get("kind") != "distinct":
        raise ValueError(f"{view_path!r} is not a distinct-count view")
    keys = spec["keys"]
    state = read_version(spark, view_path, version)
    if spec["mode"] == "exact":
        return (
            state.where(F.col("_st_mult") > 0)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_distinct"))
        )
    return state.where(F.col("_st_rows") > 0).select(
        *keys,
        F.hll_sketch_estimate(F.col("_st_hll")).alias("n_distinct"),
    )


def create_recompute_view(
    spark,
    src_path: str,
    view_path: str,
    keys: list[str],
    exprs: dict[str, str],
    n_files: int = 4,
    filter_sql: str | None = None,
) -> dict:
    """Materialize per-group ORDER STATISTICS (exact percentiles,
    top-k, medians — any Spark SQL aggregate expression) as a
    manifest table maintained from the source's change feed. These
    aggregates have no fold and no retract (the full multiset decides
    them), so maintenance is RECOMPUTE-ONLY — but bounded by churn:
    the refresh rescans the pinned snapshot for the TOUCHED groups
    only, never the table (see the tier table above).

    ``exprs`` maps output column → aggregate SQL, e.g.
    ``{"p50_v": "percentile(v, 0.5)", "top3": "slice(sort_array(
    collect_list(v), false), 1, 3)"}``. NULL group keys are refused
    (same contract as create_agg_view); ``filter_sql`` makes it a
    filtered view. Returns {view_version, applied_src_version,
    n_groups}."""
    from data_pipeline_project_spark.sinks.layout import write_range_clustered

    src_versions = snapshot_versions(src_path)
    if not src_versions:
        raise ValueError(
            f"source {src_path!r} has no snapshot manifest — commit one "
            f"with write_versioned_manifest first"
        )
    if not exprs:
        raise ValueError("exprs must name at least one aggregate")
    clash = set(exprs) & (set(keys) | {GROUP_KEY, "_st_rows"})
    if clash:
        raise ValueError(f"output column(s) {sorted(clash)} collide")
    src_v = src_versions[-1]
    facts = read_version(spark, src_path, src_v)
    if filter_sql:
        facts = facts.where(filter_sql)
    _check_no_null_keys(facts.select(*keys), keys, "the source")

    state = _with_gk(_recompute_groups(facts, keys, exprs), keys)
    n_groups = state.count()
    if state.select(GROUP_KEY).distinct().count() != n_groups:
        raise ValueError(
            "xxhash64 group-key collision — extend the grouping key"
        )
    write_range_clustered(state, view_path, GROUP_KEY, n_files)
    spec = {
        "kind": "recompute",
        "src": os.path.abspath(src_path),
        "keys": list(keys),
        "exprs": dict(exprs),
        "filter_sql": filter_sql,
    }
    tmp = _spec_path(view_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
    os.replace(tmp, _spec_path(view_path))
    m = write_versioned_manifest(
        view_path, extra={"matview": {"applied_src_version": src_v}}
    )
    return {
        "view_version": m["version"],
        "applied_src_version": src_v,
        "n_groups": n_groups,
    }


def _recompute_groups(facts: DataFrame, keys: list[str], exprs: dict) -> DataFrame:
    """One aggregation pass rendering every expression plus _st_rows
    (live-row count: 0 marks a vanished group's tombstone state row)."""
    return facts.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_st_rows"),
        *[F.expr(e).alias(c) for c, e in sorted(exprs.items())],
    )


def refresh_recompute_view(
    spark, view_path: str, mode: str = "recompute",
    feed_shards: int | None = None,
) -> dict:
    """Advance a recompute-only view to the source's latest committed
    version: the change window names the TOUCHED groups (any change
    type — order statistics treat inserts and deletes alike), the
    pinned snapshot is rescanned for those groups only (semi-join
    prune), vanished groups tombstone with _st_rows=0, and the state
    upserts through the same atomic merge+watermark commit as every
    view tier. ``mode='delta'`` is REFUSED loudly — there is no fold
    for an order statistic; the refusal is the tier's honest contract,
    not a missing feature. Cost: O(touched groups' facts), never the
    table."""
    if mode not in ("recompute", "auto"):
        raise ValueError(
            f"recompute-only view: mode must be 'recompute' (or 'auto'), "
            f"got {mode!r} — order statistics (percentiles, top-k) have "
            f"no incremental fold; the refresh rescans touched groups"
        )
    spec = read_spec(view_path)
    if spec.get("kind") != "recompute":
        raise ValueError(f"{view_path!r} is not a recompute-only view")
    src, keys, exprs = spec["src"], spec["keys"], spec["exprs"]
    filter_sql = spec.get("filter_sql")
    applied = applied_src_version(view_path)
    src_latest = (snapshot_versions(src) or [0])[-1]
    if src_latest <= applied:
        return {
            "view_version": (snapshot_versions(view_path) or [0])[-1],
            "applied_src_version": applied,
            "state_rows_changed": 0,
        }
    stamp = {"matview": {"applied_src_version": src_latest}}
    changes = _read_changes(spark, src, applied, src_latest, feed_shards)
    if filter_sql:
        changes = changes.where(filter_sql)
    _check_no_null_keys(changes.select(*keys), keys, "the change feed")
    touched = changes.select(*keys).distinct()

    facts = read_version(spark, src, src_latest)
    if filter_sql:
        facts = facts.where(filter_sql)
    fresh = _recompute_groups(
        facts.join(touched, keys, "left_semi"), keys, exprs
    )
    current = read_version(spark, view_path)
    cur_t = current.where(F.col("_st_rows") > 0).drop(GROUP_KEY).join(
        touched, keys, "left_semi"
    )
    vanished = cur_t.select(*keys).join(fresh, keys, "left_anti")
    expr_fields = [
        f for f in fresh.schema.fields
        if f.name not in keys and f.name != "_st_rows"
    ]
    tombs = vanished.select(
        *keys,
        F.lit(0).cast("long").alias("_st_rows"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in expr_fields],
    )
    final = _with_gk(fresh.unionByName(tombs), keys).localCheckpoint()
    n_changed = final.count()
    if n_changed == 0:
        m = commit_metadata(view_path, extra=stamp)
        view_v = m["version"]
    else:
        from data_pipeline_project_spark.sinks.manifest import merge_upsert

        res = merge_upsert(
            spark, view_path, GROUP_KEY, final,
            rewrite="auto", commit_extra=stamp,
        )
        view_v = res["version"]
    return {
        "view_version": view_v,
        "applied_src_version": src_latest,
        "state_rows_changed": n_changed,
    }


def read_recompute_view(
    spark, view_path: str, version: int | None = None
) -> DataFrame:
    """Render (keys..., expr cols...) for live groups — identical to
    running the spec's aggregate expressions directly over the source
    snapshot the view reflects."""
    spec = read_spec(view_path)
    if spec.get("kind") != "recompute":
        raise ValueError(f"{view_path!r} is not a recompute-only view")
    state = read_version(spark, view_path, version)
    return state.where(F.col("_st_rows") > 0).select(
        *spec["keys"], *sorted(spec["exprs"])
    )


def maintain_agg_view_stream(
    spark,
    view_path: str,
    checkpoint_dir: str,
    mode: str = "auto",
):
    """Continuous maintenance: the source's change feed is the trigger,
    the view-kind's refresh function is the transactional unit — the
    spec's ``kind`` dispatches (``distinct`` → refresh_distinct_view,
    ``recompute`` → refresh_recompute_view, aggregate views →
    refresh_agg_view; ``mode`` applies to the aggregate kind only —
    distinct views pick fold vs recompute from the window's change
    types, recompute views always rescan their touched groups). The stream's micro-batch CONTENT is
    deliberately unused — refresh re-reads the window under its own
    watermark, so a replayed trigger after a checkpoint rollback is a
    no-op rather than a double-apply (the watermark, not the stream
    offset, is what's exactly-once). Returns the started query;
    ``q.refresh_results`` accumulates the per-trigger refresh dicts."""
    from data_pipeline_project_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spec = read_spec(view_path)
    spark.dataSource.register(TableChangesDataSource)
    results: list[dict] = []

    def _tick(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if spec.get("kind") == "distinct":
            results.append(refresh_distinct_view(spark, view_path))
        elif spec.get("kind") == "recompute":
            results.append(refresh_recompute_view(spark, view_path))
        else:
            results.append(
                refresh_agg_view(spark, view_path, mode=mode)
            )

    q = (
        spark.readStream.format("tablechanges")
        .option("path", spec["src"])
        .option("starting_version", applied_src_version(view_path))
        .load()
        .writeStream.foreachBatch(_tick)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.refresh_results = results  # type: ignore[attr-defined]
    return q
