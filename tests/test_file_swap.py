"""The copy-on-write file swap every manifest-table rewriter shares
(sinks/manifest.py: _write_single_file lands the new file, _tombstone
retires the old one, both through _move_with_crc).

One hive-partitioned table goes through each copy-on-write writer in
turn — targeted merge, committed targeted delete, predicate delete,
predicate update, compaction, bulk merge, partition rewrite — and after
every step:

- every Hadoop ``.<name>.crc`` sidecar, live or under ``_removed/``,
  sits beside its own data file (a sidecar left behind or renamed
  apart is what makes later reads throw ChecksumException);
- no ``*.rewrite`` or hidden ``.*.staging`` dir is left over;
- verify_snapshot finds the head intact;
- version 1 still time-travels to the original rows, and the head
  equals a dict reference model of the writes so far.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    compact_snapshot,
    delete_rows_targeted,
    delete_where,
    merge_bulk,
    merge_upsert,
    read_version,
    rewrite_partition,
    update_where,
    verify_snapshot,
    write_versioned_manifest,
)

_COLS = ("k", "v", "shard")


def _rows(df) -> set:
    return {tuple(r) for r in df.select(*_COLS).collect()}


def _check_swap_invariants(spark, path: str, v1_rows: set, model: dict):
    for root, dirs, files in os.walk(path):
        left = [
            d for d in dirs
            if d.endswith(".rewrite")
            or (d.startswith(".") and d.endswith(".staging"))
        ]
        assert not left, f"staging dirs left in {root}: {left}"
        for f in files:
            if f.startswith(".") and f.endswith(".crc"):
                assert f[1:-len(".crc")] in files, (
                    f"orphan sidecar {os.path.join(root, f)}"
                )
    assert verify_snapshot(
        os.path.join(path, "_manifests", "latest.json")
    ) == []
    assert _rows(read_version(spark, path, 1)) == v1_rows
    assert _rows(read_version(spark, path)) == {
        (k, v, s) for k, (v, s) in model.items()
    }


def test_every_copy_on_write_writer_keeps_the_swap_invariants(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    spark.range(0, 200).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7) % 11).alias("v"),
        (F.col("id") % 2).cast("int").alias("shard"),
    ).repartition(2).write.partitionBy("shard").parquet(path)
    write_versioned_manifest(path)
    model = {k: ((k * 7) % 11, k % 2) for k in range(200)}
    v1_rows = {(k, v, s) for k, (v, s) in model.items()}

    def upserts(pairs):
        model.update({k: (v, k % 2) for k, v in pairs})
        return spark.createDataFrame(
            [(k, v, k % 2) for k, v in pairs], "k long, v long, shard int"
        )

    def check():
        _check_swap_invariants(spark, path, v1_rows, model)

    check()

    res = merge_upsert(
        spark, path, "k", upserts([(4, -1), (151, -2), (500, -3)])
    )
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1
    check()

    res = delete_rows_targeted(
        spark, path, "k",
        spark.createDataFrame([(6,), (7,), (999,)], "k long"),
        commit=True,
    )
    assert res["rows_deleted"] == 2
    del model[6], model[7]
    check()

    res = delete_where(spark, path, "v = 3")
    gone = [k for k, (v, _) in model.items() if v == 3]
    assert gone and res["rows_deleted"] == len(gone)
    for k in gone:
        del model[k]
    check()

    res = update_where(spark, path, {"v": "v + 1000"}, "k < 10")
    hit = [k for k in model if k < 10]
    assert res["rows_updated"] == len(hit)
    for k in hit:
        model[k] = (model[k][0] + 1000, model[k][1])
    check()

    res = compact_snapshot(spark, path)
    assert res["partitions_compacted"] == 2
    check()

    merge_bulk(spark, path, "k", upserts([(10, -4), (11, -5), (600, -6)]))
    check()

    res = rewrite_partition(spark, path, "k", {"shard": 0}, n_files=2)
    assert res["partitions"] == ["shard=0"]
    check()
