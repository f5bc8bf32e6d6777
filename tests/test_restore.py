"""RESTORE TABLE TO VERSION (manifest.restore_table): rollback as a
new audited commit — pure metadata, zero footer re-reads, old state
re-pinned verbatim (files, deletion vectors, schema pin, rename map).

Reference parity note: the reference has no versioning at all; this is
extension-tier lakehouse machinery modeled on Delta's RESTORE command.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    delete_rows_dv,
    merge_upsert,
    read_version,
    rename_column,
    restore_table,
    snapshot_versions,
    table_history,
    vacuum,
    write_versioned_manifest,
)


def _rows(spark, path, v=None):
    return sorted(tuple(r) for r in read_version(spark, path, v).collect())


def _build(spark, path):
    base = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "user_id", 3)
    write_versioned_manifest(path)  # v1
    merge_upsert(
        spark, path, "user_id",
        spark.range(100, 140).select(
            F.col("id").alias("user_id"), F.lit(-2).alias("v")
        ),
    )  # v2
    delete_rows_dv(
        spark, path, "user_id",
        spark.createDataFrame([(3,), (4,)], "user_id long"),
    )  # v3: DV delete
    append_snapshot(
        spark,
        path,
        spark.range(5_000, 5_100).select(
            F.col("id").alias("user_id"), F.lit(-3).alias("v")
        ),
    )  # v4


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    _build(spark, path)
    want = {v: _rows(spark, path, v) for v in (1, 2, 3, 4)}

    res = restore_table(path, version=2)
    assert res["restored"] and res["restored_to"] == 2 and res["version"] == 5
    # head now reads exactly like v2 — merge applied, DV delete and
    # append gone
    assert _rows(spark, path) == want[2]
    # the rolled-back versions remain time-travelable (audit intact)
    for v in (1, 2, 3, 4):
        assert _rows(spark, path, v) == want[v]
    # the restore is an audited whole_table commit in the history
    head = table_history(path, limit=1)[0]
    assert head["op"] == "restore" and head["whole_table"]
    assert head["app"]["restore"]["to_version"] == 2

    # restoring the DV version re-pins the vector: deleted rows stay
    # deleted at the new head
    restore_table(path, version=3)
    assert _rows(spark, path) == want[3]
    assert read_version(spark, path).where("user_id in (3, 4)").count() == 0

    # writers continue on the restored head
    merge_upsert(
        spark, path, "user_id",
        spark.range(0, 10).select(
            F.col("id").alias("user_id"), F.lit(-8).alias("v")
        ),
    )
    assert read_version(spark, path).where("v = -8").count() == 10


def test_restore_is_metadata_only(spark, tmp_path, monkeypatch):
    """The commit takes file entries verbatim from the target manifest:
    zero parquet footer reads, no matter the table size."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    _build(spark, path)

    calls = []
    real = pq.read_metadata

    def counting(f, *a, **k):
        calls.append(str(f))
        return real(f, *a, **k)

    monkeypatch.setattr(pq, "read_metadata", counting)
    res = restore_table(path, version=1)
    assert res["restored"]
    assert calls == []  # pure metadata commit
    assert _rows(spark, path) is not None


def test_restore_across_schema_change_clears_the_pin(spark, tmp_path):
    path = str(tmp_path / "t")
    _build(spark, path)
    rename_column(spark, path, "v", "val")  # v5: schema pin + rename map
    assert "val" in read_version(spark, path).columns

    rows_v4 = _rows(spark, path, 4)
    restore_table(path, version=4)  # pre-rename
    df = read_version(spark, path)
    assert "v" in df.columns and "val" not in df.columns
    assert _rows(spark, path) == rows_v4
    # the head manifest carries neither pin nor rename map
    with open(
        os.path.join(path, "_manifests", "latest.json")
    ) as fh:
        head = json.load(fh)
    assert "schema_json" not in head and "renames" not in head

    # and restoring FORWARD to the renamed version brings the pin back
    restore_table(path, version=5)
    assert "val" in read_version(spark, path).columns


def test_restore_guards(spark, tmp_path):
    path = str(tmp_path / "t")
    _build(spark, path)

    # no-op restore to the current head
    res = restore_table(path, version=4)
    assert res["restored"] is False
    assert snapshot_versions(path) == [1, 2, 3, 4]

    with pytest.raises(ValueError, match="exactly one"):
        restore_table(path)
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(path, version=2, as_of="2026-01-01")

    # a vacuumed target refuses loudly BEFORE committing anything
    vacuum(path, keep_versions=2)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        restore_table(path, version=1)
    assert snapshot_versions(path) == [3, 4]


def test_restore_realigns_directory_and_writers_continue(
    spark, tmp_path
):
    """The hard case: restore to a version whose files a later merge
    TOMBSTONED. The commit re-pins them, and the directory realigns —
    pinned tombstones move back live, the outgoing head's files move
    to _removed/ — restoring the invariant every copy-on-write writer
    depends on (live == head). Then a merge, a DV delete, and crash
    recovery all run on the restored head; rolled-back versions stay
    time-travelable through the tombstones."""
    import os as _os

    from data_pipeline_project_spark.sinks.manifest import (
        REMOVED_DIR,
        _data_files,
        read_manifest,
        recover_to_last_manifest,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 600).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    write_range_clustered(base, path, "user_id", 3)
    write_versioned_manifest(path)  # v1
    rows_v1 = _rows(spark, path, 1)
    # touch EVERY file's key range so the merge tombstones all of v1
    merge_upsert(
        spark, path, "user_id",
        spark.createDataFrame(
            [(int(k), -2) for k in range(0, 600, 100)], "user_id long, v long"
        ),
    )  # v2
    rows_v2 = _rows(spark, path, 2)

    res = restore_table(path, version=1)
    assert res["restored"] and res["untombstoned"] >= 1
    assert res["tombstoned"] >= 1
    # directory == head exactly
    head = read_manifest(_os.path.join(path, "_manifests", "latest.json"))
    live = {
        _os.path.relpath(f, path).replace("\\", "/")
        for f in _data_files(path)
    }
    assert live == {f["path"] for f in head["files"]}
    assert _rows(spark, path) == rows_v1
    # the rolled-back merge version still time travels (its files went
    # to _removed/, not away)
    assert _rows(spark, path, 2) == rows_v2

    # rerunning the same restore is a repair no-op
    res2 = restore_table(path, version=1)
    assert res2["restored"] is False
    assert res2["untombstoned"] == 0 and res2["tombstoned"] == 0

    # writers on the restored head: merge, DV delete, crash recovery
    merge_upsert(
        spark, path, "user_id",
        spark.createDataFrame([(5, -9), (700, -9)], "user_id long, v long"),
    )
    assert read_version(spark, path).where("v = -9").count() == 2
    delete_rows_dv(
        spark, path, "user_id",
        spark.createDataFrame([(10,)], "user_id long"),
    )
    assert read_version(spark, path).where("user_id = 10").count() == 0
    stats = recover_to_last_manifest(path)
    assert stats["restored"] == 0  # directory was already aligned
    assert read_version(spark, path).where("v = -9").count() == 2
    assert _os.path.isdir(_os.path.join(path, REMOVED_DIR))


def test_restore_by_timestamp(spark, tmp_path):
    path = str(tmp_path / "t")
    _build(spark, path)
    from data_pipeline_project_spark.sinks.manifest import read_manifest

    m2 = read_manifest(
        os.path.join(path, "_manifests", "v2.json"), resolve=False
    )
    rows_v2 = _rows(spark, path, 2)
    res = restore_table(path, as_of=m2["committed_at"] / 1000.0)
    assert res["restored_to"] == 2
    assert _rows(spark, path) == rows_v2


def test_restore_on_partitioned_table(spark, tmp_path):
    """Restore on a hive-partitioned layout: the realignment moves
    tombstone-resident files back into their PARTITION directories
    (relpaths carry shard=N/), partition-changing merges roll back,
    and partition discovery stays intact afterwards."""
    import os as _os

    path = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7) % 101).alias("v"),
        (F.col("id") % 4).cast("int").alias("shard"),
    )
    df.repartition(2).write.partitionBy("shard").parquet(path)
    write_versioned_manifest(path)  # v1
    rows_v1 = _rows(spark, path, 1)

    # v2: a merge that updates in place AND moves a row across
    # partitions (7 % 4 == 3 -> shard 0)
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame(
            [(5, -1, 1), (7, -3, 0), (9_999, -4, 3)],
            "k long, v long, shard int",
        ),
    )
    rows_v2 = _rows(spark, path, 2)

    res = restore_table(path, version=1)
    assert res["restored"] and res["untombstoned"] >= 1
    assert _rows(spark, path) == rows_v1
    live = read_version(spark, path)
    assert live.where("k = 7").collect()[0].shard == 3  # move rolled back
    assert live.where("k = 9999").count() == 0          # insert rolled back
    assert _rows(spark, path, 2) == rows_v2             # audit intact

    # partition discovery: no flat files at the root, a directory read
    # still parses shard= partitions
    root_parquets = [
        f for f in _os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert root_parquets == []
    assert set(
        r.shard for r in spark.read.parquet(path).select("shard").distinct().collect()
    ) == {0, 1, 2, 3}

    # and a fresh partitioned merge works on the restored head
    merge_upsert(
        spark, path, "k",
        spark.createDataFrame([(11, -7, 3)], "k long, v long, shard int"),
    )
    assert read_version(spark, path).where("v = -7").count() == 1
