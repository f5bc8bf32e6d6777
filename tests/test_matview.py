"""Incrementally-maintained materialized aggregate views
(sinks/matview.py): create / refresh (recompute and delta modes) /
read / streaming maintenance, exactly-once via the manifest-stamped
watermark.

The oracle everywhere is a DIRECT one-shot GROUP BY over the source's
live snapshot, built from plain Spark aggregates (independent of the
mergeable/retractable state machinery under test)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    delete_rows_targeted,
    merge_upsert,
    read_version,
    recover_to_last_manifest,
    snapshot_versions,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sinks.matview import (
    applied_src_version,
    create_agg_view,
    maintain_agg_view_stream,
    read_agg_view,
    refresh_agg_view,
    view_status,
)

_DEC = "decimal(38,6)"


def _direct_agg(df, keys, value_col):
    """Independent oracle: one-shot GROUP BY with the same rendering
    rules as finalize_aggregate_state (exact decimal sum, one IEEE
    division, round 6)."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n_rows"),
        F.sum(v.cast(_DEC)).cast("double").alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
        F.round(
            F.try_divide(F.sum(v.cast(_DEC)).cast("double"), F.count(v)), 6
        ).alias("avg_value"),
    )


def _rows(df):
    # repr-keyed sort: deterministic under mixed None/float/str cells
    # (tuple comparison would raise on None vs float); equality of the
    # sorted lists is still exact-value equality.
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=lambda t: [repr(x) for x in t],
    )


def _source(spark, path, n=400):
    """Rows: k unique, g = k % 10 group, v value with nulls sprinkled
    (every 11th row) so n_rows vs raw row counts stay distinguishable."""
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("g"),
        F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(
            (F.col("id") * 3) % 101
        ).cast("long").alias("v"),
    )
    write_range_clustered(df, path, "k", 4)
    write_versioned_manifest(path)


def _assert_view_equals_source(spark, src, view, keys=("g",)):
    got = _rows(read_agg_view(spark, view))
    # the committed snapshot, not the raw directory: a deletion-vector
    # delete leaves dead rows physically in place by design
    want = _rows(_direct_agg(read_version(spark, src), list(keys), "v"))
    assert got == want


def test_create_and_read_matches_direct_aggregate(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src)
    res = create_agg_view(spark, src, view, ["g"], "v")
    assert res["n_groups"] == 10 and res["applied_src_version"] == 1
    _assert_view_equals_source(spark, src, view)
    st = view_status(view)
    assert st["stale"] is False and st["applied_src_version"] == 1


def test_refresh_recompute_tracks_churn_and_is_idempotent(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src)
    create_agg_view(spark, src, view, ["g"], "v")

    # v2: update 3 rows (one moves between groups: g is part of the
    # row), insert 2 rows into a brand-new group
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(5, 3, 999), (17, 7, -50), (28, 5, None), (9000, 12, 1), (9001, 12, 7)],
            "k long, g long, v long",
        ),
    )
    # v3: delete every row of group 9 (group vanishes) plus the row
    # holding another group's minimum
    g9 = [(int(r.k),) for r in spark.read.parquet(src).where("g = 9").collect()]
    delete_rows_targeted(
        spark, src, "k",
        spark.createDataFrame(g9 + [(17,)], "k long"),
    )
    write_versioned_manifest(src)

    res = refresh_agg_view(spark, view, mode="recompute")
    assert res["applied_src_version"] == 3
    assert res["groups_dropped"] == 1  # group 9
    _assert_view_equals_source(spark, src, view)

    # already current: no new data commit, watermark unchanged
    res2 = refresh_agg_view(spark, view, mode="recompute")
    assert res2["groups_changed"] == 0 and res2["applied_src_version"] == 3


def test_delta_mode_equals_recompute_mode(spark, tmp_path):
    """Same source, two views, one refreshed per mode — identical
    rendered output, both equal to the direct oracle. The churn is
    built to hit every delta branch: pure-insert groups, min/max-stale
    retracts, a group losing all non-null values but keeping rows, and
    a fully-vanished group."""
    src = str(tmp_path / "src")
    v_rec, v_del = str(tmp_path / "rec"), str(tmp_path / "del")
    _source(spark, src)
    create_agg_view(spark, src, v_rec, ["g"], "v")
    create_agg_view(spark, src, v_del, ["g"], "v")

    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(3, 3, -1000), (40, 0, 2000), (7777, 33, 5)],
            "k long, g long, v long",
        ),
    )
    live = spark.read.parquet(src)
    g8 = [(int(r.k),) for r in live.where("g = 8").collect()]
    # all of group 2's NON-NULL values (null-valued rows survive: the
    # group must persist with n=0, like a one-shot GROUP BY)
    g2_nonnull = [
        (int(r.k),) for r in live.where("g = 2 AND v IS NOT NULL").collect()
    ]
    delete_rows_targeted(
        spark, src, "k",
        spark.createDataFrame(g8 + g2_nonnull + [(3,)], "k long"),
    )
    write_versioned_manifest(src)

    r1 = refresh_agg_view(spark, v_rec, mode="recompute")
    r2 = refresh_agg_view(spark, v_del, mode="delta", verify_unique=True)
    assert r1["applied_src_version"] == r2["applied_src_version"] == 3
    assert _rows(read_agg_view(spark, v_rec)) == _rows(read_agg_view(spark, v_del))
    _assert_view_equals_source(spark, src, v_rec)
    # group 2 survived with n=0 (null sum/avg), group 8 vanished
    g2 = read_agg_view(spark, v_del).where("g = 2").collect()
    assert len(g2) == 1 and g2[0].n_rows == 0 and g2[0].sum_value is None
    assert read_agg_view(spark, v_del).where("g = 8").count() == 0


def test_randomized_churn_converges_every_step(spark, tmp_path):
    """Model-checker shape: random MERGE/DELETE/no-op commits on the
    source, a refresh after each (modes alternating), the direct
    GROUP BY oracle checked every step — plus one time-travel check
    that an OLD view version still renders the source version its
    manifest stamp claims."""
    import random

    rng = random.Random(87)
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src, n=300)
    create_agg_view(spark, src, view, ["g"], "v")

    stamped = []  # (view_version, src_version) after each refresh
    for step in range(6):
        op = rng.choice(["merge", "delete", "delete_dv", "noop"])
        if op == "merge":
            rows = [
                (
                    rng.randrange(0, 600),           # half updates, half inserts
                    rng.randrange(0, 14),            # may move groups / new groups
                    rng.choice([None, rng.randrange(-100, 100)]),
                )
                for _ in range(rng.randrange(1, 25))
            ]
            dedup = {r[0]: r for r in rows}
            merge_upsert(
                spark, src, "k",
                spark.createDataFrame(list(dedup.values()), "k long, g long, v long"),
            )
        elif op in ("delete", "delete_dv"):
            from data_pipeline_project_spark.sinks.manifest import delete_rows_dv

            ks = [(rng.randrange(0, 600),) for _ in range(rng.randrange(1, 20))]
            kdf = spark.createDataFrame(list(set(ks)), "k long")
            if op == "delete_dv":
                # merge-on-read delete: the view must track it through
                # the feed exactly like a rewrite delete
                delete_rows_dv(spark, src, "k", kdf)
            else:
                delete_rows_targeted(spark, src, "k", kdf)
                write_versioned_manifest(src)
        else:
            write_versioned_manifest(src)  # content-free commit

        mode = "delta" if step % 2 else "recompute"
        res = refresh_agg_view(spark, view, mode=mode)
        assert res["applied_src_version"] == snapshot_versions(src)[-1]
        _assert_view_equals_source(spark, src, view)
        stamped.append((res["view_version"], res["applied_src_version"]))

    # time travel: a historical view version == oracle over the source
    # version its stamp names
    vv, sv = stamped[2]
    got = _rows(read_agg_view(spark, view, version=vv))
    want = _rows(_direct_agg(read_version(spark, src, sv), ["g"], "v"))
    assert got == want


def test_crash_mid_refresh_recovers_and_converges(spark, tmp_path):
    """Kill the refresh between the view's data movement and its
    manifest commit (the widest crash window): the watermark must not
    move, recover_to_last_manifest must restore the view, and the rerun
    must land the exact oracle state."""
    import data_pipeline_project_spark.sinks.manifest as manifest_mod

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src)
    create_agg_view(spark, src, view, ["g"], "v")
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(1, 1, 500), (8888, 20, 9)], "k long, g long, v long"),
    )

    # merge_upsert commits through commit_optimistic (r9); the stamped
    # watermark commit itself rides it — crash BOTH commit doors
    real_wvm = manifest_mod.write_versioned_manifest
    real_opt = manifest_mod.commit_optimistic

    def boom(path, *args, **kwargs):
        raise RuntimeError("injected crash before manifest commit")

    manifest_mod.write_versioned_manifest = boom
    manifest_mod.commit_optimistic = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            refresh_agg_view(spark, view, mode="delta")
    finally:
        manifest_mod.write_versioned_manifest = real_wvm
        manifest_mod.commit_optimistic = real_opt

    assert applied_src_version(view) == 1          # watermark unmoved
    rec = recover_to_last_manifest(view)
    assert rec["quarantined"] >= 1                  # uncommitted merge output
    res = refresh_agg_view(spark, view, mode="delta")
    assert res["applied_src_version"] == 2
    _assert_view_equals_source(spark, src, view)


def test_streaming_maintenance_and_checkpoint_resume(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    _source(spark, src)
    create_agg_view(spark, src, view, ["g"], "v")

    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(2, 2, 77), (7000, 15, 3)], "k long, g long, v long"),
    )
    q = maintain_agg_view_stream(spark, view, ckpt)
    q.awaitTermination(120)
    assert q.refresh_results and q.refresh_results[-1]["applied_src_version"] == 2
    _assert_view_equals_source(spark, src, view)

    # new source commit, stream restarted on the same checkpoint:
    # consumes only the new commit, view converges again
    delete_rows_targeted(
        spark, src, "k", spark.createDataFrame([(2,), (30,)], "k long")
    )
    write_versioned_manifest(src)
    q2 = maintain_agg_view_stream(spark, view, ckpt)
    q2.awaitTermination(120)
    assert applied_src_version(view) == 3
    _assert_view_equals_source(spark, src, view)


def test_composite_keys_and_null_key_contract(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g1"),
        (F.col("id") % 3).cast("string").alias("g2"),
        (F.col("id") % 50).cast("long").alias("v"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    create_agg_view(spark, src, view, ["g1", "g2"], "v")
    _assert_view_equals_source(spark, src, view, keys=("g1", "g2"))

    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(0, 3, "x", 9)], "k long, g1 long, g2 string, v long"),
    )
    refresh_agg_view(spark, view, mode="delta")
    _assert_view_equals_source(spark, src, view, keys=("g1", "g2"))

    # null group key: refused loudly at create
    bad = str(tmp_path / "bad")
    spark.createDataFrame([(1, None, 5)], "k long, g long, v long").write.parquet(bad)
    write_versioned_manifest(bad)
    with pytest.raises(ValueError, match="non-null"):
        create_agg_view(spark, bad, str(tmp_path / "badview"), ["g"], "v")


def test_noop_source_commit_stamps_watermark_without_data_commit(
    spark, tmp_path
):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src)
    create_agg_view(spark, src, view, ["g"], "v")
    before = _rows(read_agg_view(spark, view))

    write_versioned_manifest(src)  # source v2: no data change
    assert view_status(view)["stale"] is True
    res = refresh_agg_view(spark, view)
    assert res["applied_src_version"] == 2 and res["groups_changed"] == 0
    assert view_status(view)["stale"] is False
    assert _rows(read_agg_view(spark, view)) == before


def test_auto_mode_picks_full_for_bulk_churn_and_delta_for_targeted(
    spark, tmp_path
):
    """auto resolves from the metadata footprint probe: a bulk-rewrite
    commit (whole table churned) refreshes feed-free as ``full``; a
    small targeted commit goes ``delta``. Both land the oracle state
    and keep the watermark chain intact."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("g"),
        (F.col("id") % 37).cast("long").alias("v"),
    )
    write_range_clustered(df, src, "k", 8)
    write_versioned_manifest(src)
    create_agg_view(spark, src, view, ["g"], "v")

    # churn 90% of all keys: merge auto-flips to the bulk plan, every
    # file is rewritten, the feed step's footprint is the whole table
    bulk = [(k, (k * 3) % 10, k % 17) for k in range(0, 1800)]
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(bulk, "k long, g long, v long"),
    )
    res = refresh_agg_view(spark, view, mode="auto")
    assert res["mode"] == "full" and res["applied_src_version"] == 2
    _assert_view_equals_source(spark, src, view)

    # one-row churn: targeted merge, O(churn) feed, auto goes delta
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(5, 5, 999)], "k long, g long, v long"),
    )
    res2 = refresh_agg_view(spark, view, mode="auto")
    assert res2["mode"] == "delta" and res2["applied_src_version"] == 3
    _assert_view_equals_source(spark, src, view)


def test_view_fails_loudly_when_source_renames_its_columns(
    spark, tmp_path
):
    """The spec pins logical column names at create time; if the source
    renames the value or key column away, refresh must raise (recreate
    the view), never silently drift."""
    from data_pipeline_project_spark.sinks.manifest import rename_column

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src)
    create_agg_view(spark, src, view, ["g"], "v")
    rename_column(spark, src, "v", "reading")
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(1, 1, 5)], "k long, g long, reading long"),
    )
    with pytest.raises(Exception):
        refresh_agg_view(spark, view)


def test_filtered_view_tracks_rows_moving_across_the_predicate(
    spark, tmp_path
):
    """A filtered view (WHERE v >= 0 GROUP BY g) under churn that moves
    rows INTO and OUT OF the predicate: updates arrive in the feed as
    delete(old)+insert(new), and whichever side fails the filter simply
    never enters the fold — both refresh strategies land the filtered
    GROUP BY oracle."""
    src = str(tmp_path / "src")
    v_rec, v_del = str(tmp_path / "rec"), str(tmp_path / "del")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("g"),
        (F.col("id") % 21 - 10).cast("long").alias("v"),  # mixed signs
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    create_agg_view(spark, src, v_rec, ["g"], "v", filter_sql="v >= 0")
    create_agg_view(spark, src, v_del, ["g"], "v", filter_sql="v >= 0")

    def check():
        want = _rows(
            _direct_agg(spark.read.parquet(src).where("v >= 0"), ["g"], "v")
        )
        assert _rows(read_agg_view(spark, v_rec)) == want
        assert _rows(read_agg_view(spark, v_del)) == want

    check()
    # churn: k=10 moves OUT of the filter (v 0 -> -5), k=3 moves IN
    # (v -7 -> 7), k=5000 inserts inside, k=5001 inserts outside
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(10, 4, -5), (3, 3, 7), (5000, 2, 50), (5001, 2, -50)],
            "k long, g long, v long",
        ),
    )
    refresh_agg_view(spark, v_rec, mode="recompute")
    refresh_agg_view(spark, v_del, mode="delta")
    check()

    # delete a mix of in-filter and out-of-filter rows
    delete_rows_targeted(
        spark, src, "k",
        spark.createDataFrame([(3,), (2,), (5001,)], "k long"),
    )
    write_versioned_manifest(src)
    refresh_agg_view(spark, v_rec, mode="recompute")
    refresh_agg_view(spark, v_del, mode="delta")
    check()


def test_multi_value_column_view(spark, tmp_path):
    """One state table maintains count/sum/min/max/avg for SEVERAL
    value columns (suffixed rendering); both refresh strategies track
    churn that moves each column's extremes independently."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("g"),
        ((F.col("id") * 3) % 50).cast("long").alias("a"),
        F.when(F.col("id") % 13 == 0, F.lit(None)).otherwise(
            (F.col("id") * 7) % 31
        ).cast("long").alias("b"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    create_agg_view(spark, src, view, ["g"], ["a", "b"])

    def oracle():
        rows = []
        for c in ("a", "b"):
            v = F.col(c)
            rows.append(
                spark.read.parquet(src).groupBy("g").agg(
                    F.count(v).alias(f"n_rows__{c}"),
                    F.sum(v.cast(_DEC)).cast("double").alias(f"sum_value__{c}"),
                    F.min(v).alias(f"min_value__{c}"),
                    F.max(v).alias(f"max_value__{c}"),
                    F.round(
                        F.try_divide(F.sum(v.cast(_DEC)).cast("double"), F.count(v)), 6
                    ).alias(f"avg_value__{c}"),
                )
            )
        return _rows(rows[0].join(rows[1], "g"))

    got = read_agg_view(spark, view)
    assert "sum_value__a" in got.columns and "avg_value__b" in got.columns
    assert _rows(got) == oracle()

    # churn: delete column a's global max holder AND column b's min
    # holder; update rows; insert a new group
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(5, 5, 100, None), (900, 9, -1, -1)], "k long, g long, a long, b long",
        ),
    )
    amax = spark.read.parquet(src).orderBy(F.desc("a")).first().k
    delete_rows_targeted(
        spark, src, "k",
        spark.createDataFrame([(int(amax),)], "k long"),
    )
    write_versioned_manifest(src)

    refresh_agg_view(spark, view, mode="delta")
    assert _rows(read_agg_view(spark, view)) == oracle()

    refresh_agg_view(spark, view, mode="full")  # no-op (current)
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(6, 0, 7, 7)], "k long, g long, a long, b long"),
    )
    refresh_agg_view(spark, view, mode="recompute")
    assert _rows(read_agg_view(spark, view)) == oracle()


def test_verify_unique_checks_view_against_source(spark, tmp_path):
    """The collision failure mode is a REPLACEMENT: a new group whose
    xxhash64 collides with an untouched old group overwrites that
    group's state row via the _gk merge — the view still holds one row
    per distinct key, so an internal distinct-vs-count sweep can never
    fire. verify_unique must compare the live group set against the
    SOURCE snapshot instead."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _source(spark, src, n=100)
    create_agg_view(spark, src, view, ["g"], "v")

    # honest churn passes the sweep
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(0, 0, -5)], "k long, g long, v long"),
    )
    res = refresh_agg_view(spark, view, verify_unique=True)
    assert res["applied_src_version"] == 2
    _assert_view_equals_source(spark, src, view)

    # emulate the post-collision state: group g=1's state row is
    # replaced by a row carrying DIFFERENT keys under the SAME _gk
    # (exactly what the merge does when hashes collide)
    state = read_version(spark, view)
    g1 = state.where("g = 1")
    # materialize before merging INTO the same table (the merge
    # tombstones the files a lazy frame would still be reading)
    corrupted = spark.createDataFrame(
        g1.withColumn("g", F.lit(999).cast("long")).collect(), g1.schema
    )
    merge_upsert(spark, view, "_gk", corrupted)
    # touch the source so refresh actually runs its sweep
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(1, 0, -6)], "k long, g long, v long"),
    )
    with pytest.raises(ValueError, match="collision"):
        refresh_agg_view(spark, view, verify_unique=True)


def _distinct_oracle(spark, src, keys=("g",), col="k"):
    return _rows(
        read_version(spark, src)
        .where(F.col(col).isNotNull())
        .groupBy(*keys)
        .agg(F.count_distinct(col).alias("n_distinct"))
    )


def test_distinct_view_exact_folds_and_retracts(spark, tmp_path):
    """Exact mode: per-(group, value) multiplicity state — inserts and
    deletes fold/retract exactly; the rendered view equals a direct
    COUNT(DISTINCT) over every committed snapshot it reflects."""
    from data_pipeline_project_spark.sinks.manifest import delete_rows_dv
    from data_pipeline_project_spark.sinks.matview import (
        create_distinct_view,
        read_distinct_view,
        refresh_distinct_view,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    # v = duplicated values (k % 17) so multiplicity > 1 happens; a few
    # NULL values which COUNT DISTINCT must ignore
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        F.when(F.col("id") % 13 == 0, F.lit(None))
        .otherwise(F.col("id") % 17)
        .cast("long")
        .alias("val"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)

    res = create_distinct_view(spark, src, view, ["g"], "val")
    assert res["mode"] == "exact" and res["n_groups"] == 5

    def oracle():
        return _rows(
            read_version(spark, src)
            .where("val is not null")
            .groupBy("g")
            .agg(F.count_distinct("val").alias("n_distinct"))
        )

    assert _rows(read_distinct_view(spark, view)) == oracle()

    # churn: an update that REMOVES the last copy of one (g, val) pair,
    # inserts that add a brand-new value, and a DV delete
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(0, 0, 999), (5000, 0, 999), (5001, 1, 1000)],
            "k long, g long, val long",
        ),
    )
    refresh_distinct_view(spark, view)
    assert _rows(read_distinct_view(spark, view)) == oracle()

    delete_rows_dv(
        spark, src, "k",
        spark.createDataFrame([(5000,), (5001,), (34,)], "k long"),
    )
    refresh_distinct_view(spark, view)
    assert _rows(read_distinct_view(spark, view)) == oracle()

    # no-op refresh stamps the watermark only
    r = refresh_distinct_view(spark, view)
    assert r["state_rows_changed"] == 0


def test_distinct_view_sketch_folds_inserts_recomputes_deletes(
    spark, tmp_path
):
    """Sketch mode: insert-only windows FOLD via hll_union and stay
    bit-identical to a from-scratch sketch of the snapshot; a window
    with deletes recomputes the touched groups; a group losing all its
    rows tombstones."""
    from data_pipeline_project_spark.sinks.manifest import (
        delete_rows_targeted,
    )
    from data_pipeline_project_spark.sinks.matview import (
        create_distinct_view,
        read_distinct_view,
        refresh_distinct_view,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g"),
        (F.col("id") % 23).cast("long").alias("val"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    res = create_distinct_view(
        spark, src, view, ["g"], "val", mode="sketch"
    )
    assert res["mode"] == "sketch"

    def sketch_oracle():
        return _rows(
            read_version(spark, src)
            .where("val is not null")
            .groupBy("g")
            .agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("val")).alias(
                    "n_distinct"
                )
            )
        )

    assert _rows(read_distinct_view(spark, view)) == sketch_oracle()

    # insert-only window folds (no recompute) and matches from-scratch
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(9000 + i, i % 4, 100 + i) for i in range(20)],
            "k long, g long, val long",
        ),
    )  # all-new keys: pure inserts
    refresh_distinct_view(spark, view)
    assert _rows(read_distinct_view(spark, view)) == sketch_oracle()
    # sketch estimates are exact at these cardinalities
    got = {r.g: r.n_distinct for r in read_distinct_view(spark, view).collect()}
    want = {
        r.g: r.n_distinct
        for r in read_version(spark, src)
        .groupBy("g")
        .agg(F.count_distinct("val").alias("n_distinct"))
        .collect()
    }
    assert got == want

    # deletes force the recompute path; kill an entire group -> tombstone
    g3 = [(int(r.k),) for r in read_version(spark, src).where("g = 3").collect()]
    delete_rows_targeted(
        spark, src, "k",
        spark.createDataFrame(g3 + [(0,)], "k long"),
    )
    write_versioned_manifest(src)
    refresh_distinct_view(spark, view)
    view_rows = _rows(read_distinct_view(spark, view))
    assert view_rows == sketch_oracle()
    assert {r[0] for r in view_rows} == {0, 1, 2}  # g=3 vanished


def test_distinct_view_auto_threshold_and_null_key_contract(
    spark, tmp_path
):
    from data_pipeline_project_spark.sinks.matview import (
        create_distinct_view,
    )

    src = str(tmp_path / "src")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") % 7).cast("long").alias("val"),
    )
    write_range_clustered(df, src, "k", 2)
    write_versioned_manifest(src)

    r1 = create_distinct_view(
        spark, src, str(tmp_path / "v1"), ["g"], "val"
    )
    assert r1["mode"] == "exact"  # 35 pairs << default threshold
    r2 = create_distinct_view(
        spark, src, str(tmp_path / "v2"), ["g"], "val", threshold=10
    )
    assert r2["mode"] == "sketch"  # 35 pairs > 10

    nsrc = str(tmp_path / "nsrc")
    spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("id") % 2)
        .alias("g"),
        F.col("id").alias("val"),
    ).write.parquet(nsrc)
    write_versioned_manifest(nsrc)
    with pytest.raises(ValueError, match="non-null"):
        create_distinct_view(
            spark, nsrc, str(tmp_path / "v3"), ["g"], "val"
        )


def test_streaming_maintenance_of_distinct_view(spark, tmp_path):
    """r10: maintain_agg_view_stream dispatches on the spec kind — a
    distinct-count view gets the same tablechanges-triggered loop as
    aggregate views. Insert-only windows FOLD; a delete-bearing window
    recomputes touched groups; a restarted stream on the same
    checkpoint consumes only new commits (replayed trigger = no-op)."""
    from data_pipeline_project_spark.sinks.manifest import delete_rows_dv
    from data_pipeline_project_spark.sinks.matview import (
        applied_src_version,
        create_distinct_view,
        maintain_agg_view_stream,
        read_distinct_view,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") % 17).cast("long").alias("val"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    res = create_distinct_view(spark, src, view, ["g"], "val")
    assert res["mode"] == "exact"

    def oracle():
        return _rows(
            read_version(spark, src)
            .where("val is not null")
            .groupBy("g")
            .agg(F.count_distinct("val").alias("n_distinct"))
        )

    # v2: insert-only commit -> the stream folds it
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(5000, 0, 999), (5001, 1, 1000)], "k long, g long, val long"
        ),
    )
    q = maintain_agg_view_stream(spark, view, ckpt)
    q.awaitTermination(120)
    assert q.refresh_results
    assert q.refresh_results[-1]["applied_src_version"] == 2
    assert q.refresh_results[-1]["mode"] == "exact"
    assert _rows(read_distinct_view(spark, view)) == oracle()

    # v3: a delete-bearing commit; restart on the SAME checkpoint —
    # only the new commit is consumed and the view converges again
    delete_rows_dv(
        spark, src, "k",
        spark.createDataFrame([(5000,), (34,)], "k long"),
    )
    q2 = maintain_agg_view_stream(spark, view, ckpt)
    q2.awaitTermination(120)
    assert applied_src_version(view) == 3
    assert _rows(read_distinct_view(spark, view)) == oracle()

    # replayed trigger with no new source commit: watermark no-op
    q3 = maintain_agg_view_stream(spark, view, ckpt)
    q3.awaitTermination(120)
    assert applied_src_version(view) == 3
    assert _rows(read_distinct_view(spark, view)) == oracle()


def test_recompute_view_percentiles_under_churn(spark, tmp_path):
    """r10 recompute-only tier: exact per-group percentiles + top-k
    maintained under inserts, updates, DV deletes, and a group that
    vanishes entirely — after every refresh the rendered view equals
    the aggregate run directly over the committed snapshot. A 'delta'
    refresh is refused loudly (order statistics cannot fold), and the
    touched-group machinery keeps untouched groups' state rows
    byte-identical."""
    from data_pipeline_project_spark.sinks.manifest import delete_rows_dv
    from data_pipeline_project_spark.sinks.matview import (
        create_recompute_view,
        read_recompute_view,
        refresh_recompute_view,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        ((F.col("id") * 13) % 97).cast("long").alias("v"),
    )
    write_range_clustered(df, src, "k", 4)
    write_versioned_manifest(src)

    exprs = {
        "p50_v": "percentile(v, 0.5)",
        "top3_v": "slice(sort_array(collect_list(v), false), 1, 3)",
    }
    res = create_recompute_view(spark, src, view, ["g"], exprs)
    assert res["n_groups"] == 5

    def oracle():
        rows = (
            read_version(spark, src)
            .groupBy("g")
            .agg(
                F.expr(exprs["p50_v"]).alias("p50_v"),
                F.expr(exprs["top3_v"]).alias("top3_v"),
            )
            .collect()
        )
        return sorted((r.g, r.p50_v, tuple(r.top3_v)) for r in rows)

    def rendered():
        rows = read_recompute_view(spark, view).collect()
        return sorted((r.g, r.p50_v, tuple(r.top3_v)) for r in rows)

    assert rendered() == oracle()

    # churn: updates that shift one group's median + inserts
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame(
            [(0, 0, 999), (5, 0, 998), (7000, 1, 997)],
            "k long, g long, v long",
        ),
    )
    r = refresh_recompute_view(spark, view)
    assert r["applied_src_version"] == 2
    assert rendered() == oracle()

    # DV delete that empties group 4 entirely -> tombstoned state row
    g4_keys = [(int(k),) for k in range(400) if k % 5 == 4]
    delete_rows_dv(
        spark, src, "k", spark.createDataFrame(g4_keys, "k long")
    )
    refresh_recompute_view(spark, view)
    assert rendered() == oracle()
    assert {r.g for r in read_recompute_view(spark, view).collect()} == {
        0, 1, 2, 3
    }

    # delta refusal pinned: the honest contract of the tier
    with pytest.raises(ValueError, match="no incremental fold"):
        refresh_recompute_view(spark, view, mode="delta")

    # no-op refresh stamps the watermark only
    r2 = refresh_recompute_view(spark, view)
    assert r2["state_rows_changed"] == 0


def test_streaming_maintenance_of_recompute_view(spark, tmp_path):
    """The stream loop dispatches kind='recompute' too: a committed
    source change triggers a bounded touched-group rescan."""
    from data_pipeline_project_spark.sinks.matview import (
        applied_src_version,
        create_recompute_view,
        maintain_agg_view_stream,
        read_recompute_view,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g"),
        (F.col("id") % 31).cast("long").alias("v"),
    )
    write_range_clustered(df, src, "k", 3)
    write_versioned_manifest(src)
    create_recompute_view(
        spark, src, view, ["g"], {"p90_v": "percentile(v, 0.9)"}
    )
    merge_upsert(
        spark, src, "k",
        spark.createDataFrame([(0, 0, 500)], "k long, g long, v long"),
    )
    q = maintain_agg_view_stream(spark, view, ckpt)
    q.awaitTermination(120)
    assert applied_src_version(view) == 2
    want = sorted(
        (r.g, r.p90_v)
        for r in read_version(spark, src)
        .groupBy("g")
        .agg(F.expr("percentile(v, 0.9)").alias("p90_v"))
        .collect()
    )
    got = sorted(
        (r.g, r.p90_v) for r in read_recompute_view(spark, view).collect()
    )
    assert got == want
