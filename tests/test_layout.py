"""Range-clustered writes (sinks/layout.py): file zone maps must become
near-disjoint so range scans prune, and rows must survive exactly."""

from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.layout import (
    file_zone_maps,
    overlap_fraction,
    write_range_clustered,
)

N = 20_000
N_FILES = 10


def _events(spark):
    # Shuffled arrival order: worst case for zone maps if written as-is.
    return (
        spark.range(0, N)
        .select(
            F.col("id"),
            # pseudo-random permutation of a day of seconds
            F.pmod(F.col("id") * 48271 + 11, F.lit(N)).alias("ts_s"),
        )
        .select("id", F.col("ts_s").cast("long").alias("event_ts"))
    )


def test_clustered_layout_prunes_range_scans(spark, tmp_path):
    messy, tidy = str(tmp_path / "messy"), str(tmp_path / "tidy")
    ev = _events(spark)
    ev.repartition(N_FILES).write.parquet(messy)  # round-robin layout
    write_range_clustered(ev, tidy, "event_ts", N_FILES)

    probe_lo, probe_hi = 1000, 2999  # a 10% slice of the key space
    messy_frac = overlap_fraction(
        file_zone_maps(messy, "event_ts"), probe_lo, probe_hi
    )
    tidy_frac = overlap_fraction(
        file_zone_maps(tidy, "event_ts"), probe_lo, probe_hi
    )
    assert messy_frac == 1.0  # every file overlaps: zero pruning
    assert tidy_frac <= 2 / N_FILES  # only the file(s) holding the slice

    # Same rows either way.
    assert (
        spark.read.parquet(tidy).orderBy("id").collect()
        == spark.read.parquet(messy).orderBy("id").collect()
    )


def test_files_are_balanced_and_internally_sorted(spark, duck, tmp_path):
    tidy = str(tmp_path / "tidy2")
    write_range_clustered(_events(spark), tidy, "event_ts", N_FILES)
    zm = file_zone_maps(tidy, "event_ts")
    assert len(zm) == N_FILES
    # Disjoint file ranges (sorted by min, each max < next min).
    spans = sorted((int(lo), int(hi)) for _, lo, hi in zm)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    # Range partitioner balance: no file holds more than ~2x its share.
    counts = [
        r[0]
        for r in duck.execute(
            "SELECT count(*) FROM read_parquet(?, filename=true) "
            "GROUP BY filename ORDER BY 1",
            [f"{tidy}/**/*.parquet"],
        ).fetchall()
    ]
    assert max(counts) < 2 * N / N_FILES


def test_hive_partitioned_clustering(spark, tmp_path):
    path = str(tmp_path / "parts")
    ev = _events(spark).withColumn(
        "day", (F.col("event_ts") / (N // 2)).cast("int")
    )
    write_range_clustered(ev, path, "event_ts", 8, partition_cols=["day"])
    assert spark.read.parquet(path).count() == N
    # Zone maps stay tight inside each Hive partition.
    zm = [
        (f, int(lo), int(hi))
        for f, lo, hi in file_zone_maps(path, "event_ts")
        if "day=0" in f
    ]
    spans = sorted((lo, hi) for _, lo, hi in zm)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """Single-key clustering leaves the second column unprunable
    (every file overlaps any y-probe); z-order gives BOTH columns
    selective zone maps."""
    from data_pipeline_project_spark.sinks.layout import write_zordered

    xonly, zord = str(tmp_path / "xonly"), str(tmp_path / "zord")
    side = 141
    pts = spark.range(0, side * side).select(
        (F.col("id") % side).alias("x"), (F.col("id") / side).cast("long").alias("y")
    )
    write_range_clustered(pts, xonly, "x", 16)
    write_zordered(pts, zord, ["x", "y"], 16)

    # 10%-wide probes on each axis, placed inside the first z-quadrant
    # (a probe straddling the top-level split necessarily hits both
    # halves of the space in that dimension).
    lo, hi = 20, 34

    def frac(path, col):
        return overlap_fraction(file_zone_maps(path, col), lo, hi)

    assert frac(xonly, "x") <= 3 / 16  # primary key: tight
    assert frac(xonly, "y") == 1.0     # second column: useless
    assert frac(zord, "x") <= 0.5      # both columns: selective
    assert frac(zord, "y") <= 0.5
    assert spark.read.parquet(zord).count() == side * side


def test_zorder_key_interleaves(spark):
    from data_pipeline_project_spark.sinks.layout import zorder_key

    df = spark.createDataFrame([(0, 0), (3, 0), (0, 3), (3, 3)], "a int, b int")
    z = df.select(
        "a", "b",
        zorder_key([F.col("a"), F.col("b")], [0, 0], [3, 3], bits=2).alias("z"),
    ).collect()
    got = {(r.a, r.b): r.z for r in z}
    # 2-bit Morton codes: a bits land at even positions, b at odd.
    assert got[(0, 0)] == 0b0000
    assert got[(3, 0)] == 0b0101
    assert got[(0, 3)] == 0b1010
    assert got[(3, 3)] == 0b1111


def test_read_pruned_scans_only_overlapping_files(spark, tmp_path):
    """read_pruned on a range-clustered layout: answers identical to a
    full-scan filter while actually OPENING only the slice's files
    (df.inputFiles() is the proof); missing-stats files never pruned."""
    from data_pipeline_project_spark.sinks.layout import (
        prune_files,
        read_pruned,
        write_range_clustered,
    )

    tidy = str(tmp_path / "tidy")
    ev = _events(spark)
    write_range_clustered(ev, tidy, "event_ts", N_FILES)

    lo, hi = 1000, 2999
    pruned = read_pruned(spark, tidy, "event_ts", lo, hi)
    expect = spark.read.parquet(tidy).where(
        F.col("event_ts").between(lo, hi)
    )
    assert sorted((r.id, r.event_ts) for r in pruned.collect()) == sorted(
        (r.id, r.event_ts) for r in expect.collect()
    )
    assert 0 < len(pruned.inputFiles()) <= 2  # the slice's file(s) only
    assert len(expect.inputFiles()) == N_FILES

    # degenerate range below the key space: no files, empty result,
    # schema preserved
    empty = read_pruned(spark, tidy, "event_ts", -100, -1)
    assert empty.count() == 0 and empty.columns == expect.columns

    # missing stats -> must read (never guess)
    assert prune_files([("f.parquet", None, None)], 0, 1) == ["f.parquet"]


def test_time_partitioned_write_prunes_directories(spark):
    """days(ts)-style layout: a dt-filtered read shows PartitionFilters
    and scans only the matching partitions' files."""
    import re
    import tempfile

    from data_pipeline_project_spark.sinks.layout import write_time_partitioned
    from data_pipeline_project_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.01")
    path = tempfile.mkdtemp() + "/events_by_day"
    col = write_time_partitioned(ev, path, "ts", granularity="day")
    assert col == "dt"

    got = spark.read.parquet(path)
    n_days = got.select("dt").distinct().count()
    assert n_days > 10

    pruned = got.where(F.col("dt") == "2024-01-05")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dt" in m.group(1), plan
    # and the count matches a raw-ts filter over the unpartitioned view
    expect = ev.where(F.to_date("ts") == "2024-01-05").count()
    assert pruned.count() == expect > 0


def test_bloom_filters_written_and_reads_correct(spark, tmp_path):
    """write_bloom_filtered: the serialized filters add a deterministic
    size delta over a byte-identical control write (this container's
    duckdb/pyarrow predate bloom_filter_offset exposure, so size is
    the probe — same data, same encoding, only the filters differ),
    and point lookups through the bloomed files stay correct."""
    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks.layout import (
        parquet_data_bytes,
        write_bloom_filtered,
    )

    df = spark.range(0, 50_000).select(
        (F2.col("id") * 7919 % 50_021).alias("user_id"),  # unclustered
        F2.col("id").alias("v"),
    )
    path = str(tmp_path / "bloomed")
    write_bloom_filtered(df.repartition(4), path, ["user_id"], expected_ndv=50_000)

    plain = str(tmp_path / "plain")
    df.repartition(4).write.parquet(plain)

    bloomed, base = parquet_data_bytes(path), parquet_data_bytes(plain)
    # 50k ndv across 4 files: filters are tens of KB; well above any
    # incidental metadata jitter, and absent from the control.
    assert bloomed > base + 4 * 1024, (bloomed, base)

    got = (
        spark.read.parquet(path)
        .where(F2.col("user_id") == (4242 * 7919 % 50_021))
        .collect()
    )
    assert [r.v for r in got] == [4242]


def test_partition_retention_drop(spark, tmp_path):
    """drop_partitions_before: old dt= directories unlink with no data
    read, survivors intact, idempotent, and a non-partitioned path is
    refused loudly."""
    import pytest

    from pyspark.sql import functions as F2

    from data_pipeline_project_spark.sinks.layout import (
        drop_partitions_before,
        write_time_partitioned,
    )

    path = str(tmp_path / "events")
    df = spark.range(0, 1_000).select(
        F2.col("id").alias("event_id"),
        F2.to_timestamp(
            F2.concat(
                F2.lit("2025-06-0"), (F2.col("id") % 9 + 1).cast("string"),
                F2.lit(" 12:00:00"),
            )
        ).alias("ts"),
    )
    write_time_partitioned(df, path, "ts", granularity="day")
    assert spark.read.parquet(path).count() == 1_000

    stats = drop_partitions_before(path, "2025-06-04")
    assert stats == {"partitions_dropped": 3, "partitions_kept": 6}
    kept = spark.read.parquet(path)
    assert kept.count() == 1_000 * 6 // 9
    # partition-type inference reads dt= back as DATE; compare as string
    assert str(kept.agg(F2.min("dt")).first()[0]) == "2025-06-04"

    # idempotent
    stats2 = drop_partitions_before(path, "2025-06-04")
    assert stats2["partitions_dropped"] == 0

    flat = str(tmp_path / "flat")
    spark.range(10).write.parquet(flat)
    with pytest.raises(ValueError, match="no dt= partition"):
        drop_partitions_before(flat, "2025-06-04")


def test_zorder_on_string_and_timestamp_columns(spark, tmp_path):
    """r10: non-numeric z-order dimensions map through the manifest
    layer's order-preserving rank. A (country string, ts timestamp)
    z-order gives BOTH columns selective zone maps; exact Morton
    parity is asserted against a python reference on the rank scale."""
    import datetime

    from data_pipeline_project_spark.sinks.layout import (
        write_zordered,
        zorder_key,
    )
    from data_pipeline_project_spark.sinks.manifest import _rank_py

    # exact parity: spark z-values == python morton over ranked buckets
    vals = [
        ("aa", datetime.datetime(2024, 1, 1)),
        ("zz", datetime.datetime(2024, 1, 1)),
        ("aa", datetime.datetime(2024, 12, 31)),
        ("mm", datetime.datetime(2024, 6, 15, 12, 30, 0, 250_000)),
    ]
    df = spark.createDataFrame(vals, "c string, ts timestamp")
    lo_c, hi_c = "aa", "zz"
    lo_t, hi_t = vals[0][1], vals[2][1]
    bits = 4
    got = {
        (r.c, r.ts): r.z
        for r in df.select(
            "c", "ts",
            zorder_key(
                [F.col("c"), F.col("ts")], [lo_c, lo_t], [hi_c, hi_t], bits
            ).alias("z"),
        ).collect()
    }

    def py_z(c, ts):
        top = (1 << bits) - 1
        bs = []
        for v, lo, hi in ((c, lo_c, hi_c), (ts, lo_t, hi_t)):
            r, rl, rh = _rank_py(v), _rank_py(lo), _rank_py(hi)
            span = float(rh - rl) or 1.0
            bs.append(max(0, min(top, int((r - rl) / span * top))))
        z = 0
        for i in range(bits):
            for d, b in enumerate(bs):
                z |= ((b >> i) & 1) << (i * 2 + d)
        return z

    for c, ts in vals:
        assert got[(c, ts)] == py_z(c, ts), (c, ts)

    # pruning: both dimensions selective after a (string, date) z-write
    side = 80
    pts = spark.range(0, side * side).select(
        F.format_string("u%04d", F.col("id") % side).alias("c"),
        F.date_add(F.lit("2024-01-01"), (F.col("id") / side).cast("int"))
        .alias("d"),
    )
    zord = str(tmp_path / "zord")
    write_zordered(pts, zord, ["c", "d"], 16)
    zc = file_zone_maps(zord, "c")
    zd = file_zone_maps(zord, "d")
    hit_c = sum(1 for _, mn, mx in zc if mn <= "u0030" and "u0020" <= mx)
    d_lo = datetime.date(2024, 1, 21)
    d_hi = datetime.date(2024, 2, 4)
    hit_d = sum(1 for _, mn, mx in zd if mn <= d_hi and d_lo <= mx)
    # bounds allow repartitionByRange's sampling variance; the signal
    # is BOTH dims selective (single-key clustering leaves one at 16/16)
    assert hit_c <= 10 and hit_d <= 10, (hit_c, hit_d)
    assert spark.read.parquet(zord).count() == side * side
