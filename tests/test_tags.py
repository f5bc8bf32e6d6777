"""Snapshot tags (r13): named refs pinning reproducible versions.

Time travel addressed versions by NUMBER or wall timestamp only —
real pipelines pin training snapshots by NAME (`release-2026-08`).
A tag is a tiny ref file in the manifest log, created exactly-once
through the LogStore's atomic publish; a tagged version is
vacuum-EXEMPT (its manifest and every byte it pins survive any
retention policy) and stays resolvable through log compaction, so a
tagged training snapshot reads byte-identically after arbitrary
churn + vacuum — the property the round's model-checker op draws.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    compact_log,
    compact_snapshot,
    delete_rows_targeted,
    drop_tag,
    list_tags,
    merge_upsert,
    read_version,
    restore_table,
    snapshot_versions,
    tag_snapshot,
    vacuum,
    write_versioned_manifest,
)


def _table(spark, path, n=200):
    spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(2).write.parquet(path)
    write_versioned_manifest(path)


def _state(spark, path, **kw):
    return sorted(map(tuple, read_version(spark, path, **kw).collect()))


def test_tag_create_resolve_drop(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    v1 = snapshot_versions(p)[-1]
    info = tag_snapshot(p, "release-1")
    assert info == {"name": "release-1", "version": v1}
    append_snapshot(
        spark, p, spark.createDataFrame([(900, 1)], "k long, v long")
    )
    tag_snapshot(p, "release-2")
    assert list_tags(p) == {
        "release-1": v1,
        "release-2": snapshot_versions(p)[-1],
    }
    # a tag resolves through read_version
    assert len(_state(spark, p, tag="release-1")) == 200
    assert len(_state(spark, p, tag="release-2")) == 201
    # duplicate tag names are a loud error (exactly-once create)
    with pytest.raises(ValueError, match="already"):
        tag_snapshot(p, "release-1")
    # explicit version, validated
    tag_snapshot(p, "pin-v1", version=v1)
    with pytest.raises(ValueError, match="no snapshot"):
        tag_snapshot(p, "bogus", version=999)
    with pytest.raises(ValueError, match="tag name"):
        tag_snapshot(p, "bad name!")
    drop_tag(p, "pin-v1")
    assert "pin-v1" not in list_tags(p)
    with pytest.raises(ValueError, match="no tag"):
        drop_tag(p, "pin-v1")
    with pytest.raises(ValueError, match="no tag"):
        read_version(spark, p, tag="pin-v1")
    with pytest.raises(ValueError, match="exclusive"):
        read_version(spark, p, version=v1, tag="release-1")


def test_tagged_version_is_vacuum_exempt(spark, tmp_path):
    """The core guarantee: churn + aggressive vacuum may drop every
    untagged old version, but the tagged snapshot replays
    byte-identically (manifest kept, tombstoned bytes kept)."""
    p = str(tmp_path / "t")
    _table(spark, p)
    tagged_state = _state(spark, p)
    tag_snapshot(p, "training-pin")
    tagged_v = list_tags(p)["training-pin"]
    # churn: merges rewrite files out from under the tagged version
    for i in range(3):
        merge_upsert(
            spark, p, "k",
            spark.createDataFrame([(i, -i - 1)], "k long, v long"),
        )
    delete_rows_targeted(
        spark, p, "k",
        spark.createDataFrame([(199,)], "k long"), commit=True,
    )
    rep = vacuum(p, keep_versions=1)
    assert rep["versions_dropped"] > 0
    assert tagged_v in snapshot_versions(p)  # exempt
    assert _state(spark, p, tag="training-pin") == tagged_state
    # an untagged dropped version fails loudly, proving vacuum ran
    dropped = [
        v
        for v in range(1, max(snapshot_versions(p)))
        if v not in snapshot_versions(p)
    ]
    assert dropped
    # dropping the tag releases the pin: the next vacuum reclaims it
    drop_tag(p, "training-pin")
    vacuum(p, keep_versions=1)
    assert tagged_v not in snapshot_versions(p)


def test_tag_survives_log_compaction_and_restore(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    tag_snapshot(p, "base")
    base_state = _state(spark, p)
    for i in range(5):
        append_snapshot(
            spark, p,
            spark.createDataFrame([(1000 + i, 0)], "k long, v long"),
        )
    compact_log(p, keep_full_every=2, keep_recent=1)
    assert _state(spark, p, tag="base") == base_state
    # RESTORE ... TO TAG: rollback by name
    res = restore_table(p, tag="base")
    assert res["restored"]
    assert _state(spark, p) == base_state


def test_tag_vacuum_random_interleavings(spark, tmp_path):
    """Randomized tag/churn/vacuum/compact interleavings: every LIVE
    tag must replay the exact state recorded when it was created, at
    every step, under any retention policy — the model-checker shape
    of the guarantee (the main stateful checker draws a tag op too;
    this loop concentrates the tag/vacuum interaction)."""
    rng = random.Random(7)
    p = str(tmp_path / "t")
    _table(spark, p, n=100)
    pinned: dict = {}
    next_key = 1000
    for step in range(14):
        op = rng.choice(
            ["tag", "append", "merge", "vacuum", "compact", "drop_tag"]
        )
        if op == "tag":
            name = f"tag{step}"
            tag_snapshot(p, name)
            pinned[name] = _state(spark, p)
        elif op == "drop_tag" and pinned:
            name = rng.choice(sorted(pinned))
            drop_tag(p, name)
            del pinned[name]
        elif op == "append":
            append_snapshot(
                spark, p,
                spark.createDataFrame(
                    [(next_key, 1)], "k long, v long"
                ),
            )
            next_key += 1
        elif op == "merge":
            merge_upsert(
                spark, p, "k",
                spark.createDataFrame(
                    [(rng.randrange(100), -step)], "k long, v long"
                ),
            )
        elif op == "vacuum":
            vacuum(p, keep_versions=rng.choice([1, 2]))
        elif op == "compact":
            compact_snapshot(spark, p, small_bytes=1 << 30)
        for name, snap in pinned.items():
            assert _state(spark, p, tag=name) == snap, (step, op, name)


def test_sql_tag_surface(spark, tmp_path):
    """SELECT ... t TAG AS OF 'name' and RESTORE ... TO TAG AS OF."""
    from data_pipeline_project_spark.sinks.sql_commands import LakehouseSQL

    p = str(tmp_path / "t")
    _table(spark, p)
    lh = LakehouseSQL(spark, {"t": p})
    tag_snapshot(p, "gold")
    lh.sql("INSERT INTO t VALUES (5000, 1)")
    assert lh.sql("SELECT count(*) AS n FROM t").collect()[0].n == 201
    assert (
        lh.sql("SELECT count(*) AS n FROM t TAG AS OF 'gold'").collect()[0].n
        == 200
    )
    lh.sql("RESTORE TABLE t TO TAG AS OF 'gold'")
    assert lh.sql("SELECT count(*) AS n FROM t").collect()[0].n == 200


def test_sql_tag_lifecycle_statements(spark, tmp_path):
    """CREATE TAG / DROP TAG / SHOW TAGS / SHOW TABLES — the SQL twins
    of tag_snapshot/drop_tag/list_tags and the catalog listing."""
    from data_pipeline_project_spark.sinks.sql_commands import LakehouseSQL

    p = str(tmp_path / "t")
    _table(spark, p)
    lh = LakehouseSQL(spark, {"t": p})
    v1 = snapshot_versions(p)[-1]
    assert lh.sql("CREATE TAG gold ON t") == {"name": "gold", "version": v1}
    append_snapshot(
        spark, p, spark.createDataFrame([(900, 1)], "k long, v long")
    )
    lh.sql("CREATE TAG 'silver' ON t VERSION AS OF 1")
    tags = {
        r.tag_name: r.version for r in lh.sql("SHOW TAGS t").collect()
    }
    assert tags == {"gold": v1, "silver": 1}
    tabs = {
        r.table_name: r.location for r in lh.sql("SHOW TABLES").collect()
    }
    assert tabs == {"t": p}
    assert lh.sql("DROP TAG silver ON t")["name"] == "silver"
    assert [r.tag_name for r in lh.sql("SHOW TAGS t").collect()] == ["gold"]
    with pytest.raises(ValueError, match="no tag"):
        lh.sql("DROP TAG silver ON t")
