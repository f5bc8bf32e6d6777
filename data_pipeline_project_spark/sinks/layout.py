"""Scan-aware physical layout: range-clustered sorted parquet writes.

Parquet readers prune at two levels below partitions: whole files (via
footer min/max) and row groups (zone maps). Both only bite when the
data is CLUSTERED on the predicate column — a time-range query over a
randomly-laid-out 100 TB table reads every file because every file's
[min,max] spans the whole timeline. Writing time-series (or any
high-selectivity key) range-partitioned AND sorted makes file ranges
near-disjoint, so a one-day probe over a year of data touches ~1/365th
of the files, in ANY engine that reads footers (Spark, DuckDB, Trino).

This is the same contract as ``sinks.write_bucketed`` but for RANGE
predicates: bucketing co-locates equality keys for joins; range
clustering co-locates ordered keys for scans. (Multi-column variants —
Z-order/Hilbert — interleave several keys; the single-key case here is
the one Spark expresses natively with repartitionByRange.)

Reference scope note: the reference's layout surface is chunked CSV
(`preprocessing_kaggle_dataset.py:56-75`, K7/P10); scan-aware layout
belongs to the 100 TB extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    write_options: dict | None = None,
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted on ``cluster_col``.

    ``repartitionByRange`` samples the key distribution to pick split
    points, so files are near-equal-sized even under skew (one range
    shuffle — the price paid once at write time for every later pruned
    scan). ``sortWithinPartitions`` then orders rows inside each file so
    ROW-GROUP zone maps are tight too, not just file footers. With
    ``partition_cols``, clustering applies within each Hive partition
    (range-shuffle keys: partitions first, then the cluster key).
    ``write_options`` pass straight to the parquet writer — the r13
    hook that lets manifest rewrites carry native bloom filters
    (parquet.bloom.filter.*) through bulk/recluster churn.
    """
    keys = [*(partition_cols or []), cluster_col]
    out = df.repartitionByRange(n_files, *[F.col(c) for c in keys]).sortWithinPartitions(
        *[F.col(c) for c in keys]
    )
    writer = out.write.mode(mode)
    for k, v in (write_options or {}).items():
        writer = writer.option(k, v)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def zorder_key(cols: list, mins: list, maxs: list, bits: int = 8):
    """Z-value (Morton code) expression: each column min-max-scales to
    a ``bits``-bit bucket, then bucket bits interleave — nearby points
    in ANY dimension get nearby z-values. Pure JVM bit arithmetic
    (shiftleft/or chain built statically), no UDF. ``mins``/``maxs``
    come from one tiny agg over the data (or table stats at warehouse
    scale).

    Column types (r10): numerics scale directly; strings, dates, and
    timestamps go through the manifest layer's order-preserving int64
    rank first (7-byte big-endian prefix / epoch days / epoch micros —
    the same rank zone-map pruning buckets with), so OPTIMIZE ZORDER
    works on e.g. (country_code, event_ts). Rank spans can exceed
    2^53, where the double-precision scale rounds a few ULPs — that
    only nudges BUCKET boundaries, and bucketing is a clustering
    heuristic: zone-map pruning stays exact regardless."""
    import datetime

    from data_pipeline_project_spark.sinks.manifest import (
        _rank_expr,
        _rank_py,
    )

    n = len(cols)
    top = (1 << bits) - 1
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        if isinstance(lo, (str, datetime.date)) and not isinstance(
            lo, bool
        ):  # datetime.datetime subclasses date
            c = _rank_expr(c, lo)
            lo, hi = _rank_py(lo), _rank_py(hi)
        span = float(hi - lo) or 1.0
        b = F.floor((c.cast("double") - float(lo)) / span * top).cast("bigint")
        buckets.append(F.greatest(F.least(b, F.lit(top)), F.lit(0)))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for d, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + d)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Multi-column variant of ``write_range_clustered``: cluster on the
    interleaved z-value so range predicates on EVERY listed column
    prune, not just the first. Single-column sorting gives one column
    perfect zone maps and the others none; z-ordering trades a little
    of the first column's tightness for useful min/max bounds on all of
    them (the Delta/Iceberg OPTIMIZE ZORDER BY contract, expressed with
    plain Spark ops). One stats agg + one range shuffle."""
    stats = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in cols],
        *[F.max(c).alias(f"_hi_{c}") for c in cols],
    ).first()
    z = zorder_key(
        [F.col(c) for c in cols],
        [stats[f"_lo_{c}"] for c in cols],
        [stats[f"_hi_{c}"] for c in cols],
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def file_zone_maps(path: str, col: str) -> list[tuple[str, object, object]]:
    """Per-file (file, min, max) for ``col`` straight from the parquet
    footers of the data files under ``path`` (no data read) — the
    pruning metadata any engine consults. Used by tests to prove
    layout quality; handy as an ops probe. The listing skips
    underscore- and dot-prefixed directories (_manifests/, _removed/
    tombstones, staging), as Spark's reader does: a retention
    tombstone counted as live data would double-count it. Read through
    manifest._key_zone_maps, so types and missing ranges behave as in
    candidate selection."""
    from data_pipeline_project_spark.sinks.manifest import (
        _data_files,
        _key_zone_maps,
    )

    return _key_zone_maps([(f, None) for f in _data_files(path)], col)


def overlap_fraction(
    zone_maps: list[tuple[str, object, object]], lo, hi
) -> float:
    """Fraction of files whose [min,max] intersects [lo, hi] — the
    fraction of the dataset a range scan must actually read."""
    if not zone_maps:
        return 0.0
    hit = sum(1 for _, mn, mx in zone_maps if not (mx < lo or mn > hi))
    return hit / len(zone_maps)


def prune_files(
    zone_maps: list[tuple[str, object, object]], lo, hi
) -> list[str]:
    """File list a range scan must read: files whose footer [min,max]
    can intersect [lo, hi]. A file with missing stats can never be
    skipped (prune must degrade to reading, never to guessing)."""
    return [
        f
        for f, mn, mx in zone_maps
        if mn is None or mx is None or not (mx < lo or mn > hi)
    ]


def read_pruned(spark, path: str, col: str, lo, hi):
    """Statistics-driven file-level pruning: list the parquet files
    whose footer zone maps can contain ``col`` in [lo, hi] and scan
    ONLY those, with the residual predicate still applied (the stats
    prune is an optimization; the filter remains the truth — same
    contract as an engine's partition pruning). On a range-clustered
    or z-ordered layout this reads O(selectivity) of the files; on a
    random layout it degrades to a full scan, never a wrong answer.

    This is the manual twin of what a catalog-backed engine does with
    table-level zone maps; exposed as an operator because plain
    ``spark.read.parquet(dir)`` consults footers only per ROW GROUP
    after listing + opening every file — at 100 TB the listing itself
    is the cost a file-level prune avoids."""
    zone_maps = file_zone_maps(path, col)
    files = prune_files(zone_maps, lo, hi)
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if not files:
        # preserve schema: empty frame from the full layout
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*files).where(pred)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    granularity: str = "day",
    cluster_col: str | None = None,
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> str:
    """Event-table layout: Hive-partition by a DERIVED time column
    (``dt=YYYY-MM-DD`` for day, ``dt=YYYY-MM`` for month, ``dt=YYYY-MM-DD-HH``
    for hour) — Iceberg's days(ts)/hours(ts) hidden-partitioning
    transform, spelled explicitly. A time-range query then prunes whole
    partition DIRECTORIES before any file is opened (cheaper than zone
    maps, which still require listing + footer reads), which is why
    every at-scale event table partitions on time first. Within each
    partition, optional range clustering on ``cluster_col`` tightens
    file/row-group zone maps for the secondary key. Returns the derived
    partition column name ('dt').

    The derived column stays IN the data (reads see it), and filters on
    the raw ``ts_col`` still prune: readers filter on both (the test
    pins the PartitionFilters plan). At 100 TB pick granularity so
    partitions land in the 1-10 GB band — daily for most event rates,
    hourly for firehoses."""
    fmt = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "hour": "yyyy-MM-dd-HH"}[granularity]
    out = df.withColumn("dt", F.date_format(F.col(ts_col), fmt))
    if cluster_col is not None:
        write_range_clustered(
            out, path, cluster_col,
            n_files=files_per_partition, partition_cols=["dt"], mode=mode,
        )
    else:
        out.repartition(files_per_partition, F.col("dt")).write.mode(
            mode
        ).partitionBy("dt").parquet(path)
    return "dt"


def write_bloom_filtered(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    expected_ndv: int = 100_000,
    mode: str = "overwrite",
) -> None:
    """Write parquet with BLOOM FILTERS on ``bloom_cols`` — the
    point-lookup skipping lever zone maps cannot provide: min/max
    pruning needs the key CLUSTERED (write_range_clustered), but a
    bloom filter skips row groups for an arbitrary-layout table at the
    cost of ~1.2 bytes/distinct value, which is how a 100 TB table
    answers "does user X appear in this file" without sorting by user.
    `expected_ndv` sizes the filter (parquet-mr derives bits from it;
    undersizing inflates the false-positive rate, which costs wasted
    reads, never wrong results)."""
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    w.parquet(path)


def parquet_data_bytes(path: str) -> int:
    """Total bytes of the data files under ``path`` (hidden dirs and
    non-parquet sidecars excluded) — the probe the bloom test uses:
    pyarrow 16.1, the package's footer reader, predates the
    footer's bloom_filter_offset exposure, so presence is proven by
    the deterministic size delta the serialized filters add (same
    data, same encoding, only the filters differ)."""
    import os

    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def drop_partitions_before(path: str, cutoff_dt: str) -> dict:
    """Retention by PARTITION DROP on a write_time_partitioned layout:
    remove every ``dt=<value>`` directory with value < ``cutoff_dt``
    (string compare — the dt formats are lexicographically ordered by
    construction). Metadata-only: no file is read, no row rewritten;
    at 100 TB this is the only affordable retention primitive (a
    predicate delete that touches data costs a table scan; dropping a
    day costs one directory unlink). Idempotent; returns
    {partitions_dropped, partitions_kept}. Refuses a path with no
    dt= partitions (a flat table would silently lose everything)."""
    import os
    import shutil

    parts = [
        d
        for d in os.listdir(path)
        if d.startswith("dt=") and os.path.isdir(os.path.join(path, d))
    ]
    if not parts:
        raise ValueError(
            f"no dt= partition directories under {path}: retention by "
            "partition drop needs a write_time_partitioned layout"
        )
    dropped = 0
    for d in sorted(parts):
        if d[len("dt="):] < cutoff_dt:
            shutil.rmtree(os.path.join(path, d))
            dropped += 1
    return {
        "partitions_dropped": dropped,
        "partitions_kept": len(parts) - dropped,
    }


def table_health(
    path: str,
    key_col: str | None = None,
    small_file_bytes: int = 32 * 1024 * 1024,
) -> dict:
    """Maintenance audit of a manifest table — everything an operator
    needs to decide whether to compact, re-cluster, or vacuum, from
    metadata (parquet footers + directory stat; the only data read is
    the churn-sized deletion vectors themselves):

    - ``n_files / total_bytes / total_rows / avg_file_bytes`` and the
      ``small_files`` count below ``small_file_bytes`` (compaction
      pressure);
    - ``n_versions`` plus tombstone and quarantine footprints
      (retention pressure — vacuum reclaims these);
    - with ``key_col``: ``clustering_overlap`` — the fraction of
      min-sorted adjacent file pairs whose [min,max] key ranges
      overlap. 0.0 = perfectly range-clustered (every point query
      prunes to one file); → 1.0 = every file spans every other
      (zone maps prune nothing; re-cluster). O(F log F), never
      pairwise.
    """
    import os

    from data_pipeline_project_spark.sinks import manifest
    from data_pipeline_project_spark.sinks.manifest import (
        PARTITION_FMTS,
        QUARANTINE_DIR,
        REMOVED_DIR,
        _data_files,
        _dv_positions_by_file,
        _key_zone_maps,
        _ndv_is_current,
        _resolve_snapshot_file,
        read_manifest,
        snapshot_versions,
        table_dv,
    )

    files = _data_files(path)
    sizes = [os.path.getsize(f) for f in files]
    # the head manifest (None for a plain directory): row counts, sketch
    # coverage, the partition-era audit and the clustering audit read it
    latest = os.path.join(path, "_manifests", "latest.json")
    head = None
    if os.path.exists(latest):
        try:
            head = read_manifest(latest)
        except FileNotFoundError:
            pass
    # row counts from the head's entries; a footer only for a listed
    # file the head does not pin
    logged = {f["path"]: f["rows"] for f in head["files"]} if head else {}
    rows = 0
    for f in files:
        n = logged.get(os.path.relpath(f, path).replace("\\", "/"))
        rows += n if n is not None else manifest._read_footer(f).num_rows

    def _dir_footprint(sub):
        root = os.path.join(path, sub)
        n, b = 0, 0
        if os.path.isdir(root):
            for r, _d, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        n += 1
                        b += os.path.getsize(os.path.join(r, f))
        return n, b

    tomb_n, tomb_b = _dir_footprint(REMOVED_DIR)
    quar_n, quar_b = _dir_footprint(QUARANTINE_DIR)

    health = {
        "n_files": len(files),
        "total_bytes": sum(sizes),
        "total_rows": rows,
        "avg_file_bytes": (sum(sizes) // len(files)) if files else 0,
        "small_files": sum(1 for s in sizes if s < small_file_bytes),
        "n_versions": len(snapshot_versions(path)),
        "tombstone_files": tomb_n,
        "tombstone_bytes": tomb_b,
        "quarantine_files": quar_n,
        "quarantine_bytes": quar_b,
    }
    # snapshot-log pressure: every commit writes a full file list, so
    # an uncompacted log holds n_versions copies of the table's
    # metadata; latest.json's size is one full copy — the yardstick
    # maintenance_plan compares against (see manifest.compact_log).
    # log_compactible_manifests counts historical versions compact_log
    # could still delta-encode (not the first, not the newest two),
    # sized like a full manifest — a stat-only proxy (a delta manifest
    # is far smaller than the head), so the health check never reads
    # the log it is auditing.
    mdir = os.path.join(path, "_manifests")
    if os.path.isdir(mdir):
        health["log_bytes"] = sum(
            os.path.getsize(os.path.join(mdir, f))
            for f in os.listdir(mdir)
            if f.endswith(".json")
        )
        latest = os.path.join(mdir, "latest.json")
        latest_b = os.path.getsize(latest) if os.path.exists(latest) else 0
        health["latest_manifest_bytes"] = latest_b
        vs = snapshot_versions(path)
        health["log_compactible_manifests"] = sum(
            1
            for v in vs[1:-2]
            if os.path.getsize(os.path.join(mdir, f"v{v}.json"))
            >= 0.5 * latest_b
        )
    # hive-partitioned layouts: per-directory fragmentation, so the
    # plan can name WHICH partitions the per-partition compactor
    # (manifest.compact_snapshot) will touch
    by_dir: dict[str, list[int]] = {}
    for f, s in zip(files, sizes):
        d = os.path.dirname(os.path.relpath(f, path)).replace("\\", "/")
        by_dir.setdefault(d, []).append(s)
    if set(by_dir) != {""} and by_dir:
        health["partitions"] = {
            d: {
                "n_files": len(ss),
                "small_files": sum(1 for s in ss if s < small_file_bytes),
                "bytes": sum(ss),
            }
            for d, ss in sorted(by_dir.items())
        }
    # NDV sketch coverage (r11): files without a sketch blind the
    # distribution-driven advice (join cardinality, skew, in-memory
    # broadcast sizing); analyze_table backfills them explicitly
    if files and head is not None:
        health["ndv_coverage"] = sum(
            1 for f in head["files"] if _ndv_is_current(f) or f["rows"] == 0
        ) / max(1, head["n_files"])
    # partition-era audit (r11): on a spec-evolved table, classify
    # each file's derived-column directory value by which era's
    # format produced it — files still under a non-current granularity
    # are the lazy-migration backlog maintenance should work through
    spec = head.get("partition_spec") if head is not None else None
    if spec:
        by_len = {
            len(PARTITION_FMTS[g][1].replace("%Y", "1234")
                .replace("%m", "12").replace("%d", "12")
                .replace("%H", "12")): g
            for g in PARTITION_FMTS
        }
        eras: dict = {}
        old_era = 0
        for f in head["files"]:
            segs = [
                s for s in f["path"].replace("\\", "/").split("/")[:-1]
                if s.startswith(spec["derived"] + "=")
            ]
            if not segs:
                continue
            val = segs[0].split("=", 1)[1]
            g = by_len.get(len(val), "unknown")
            eras[g] = eras.get(g, 0) + 1
            if g != spec["granularity"]:
                old_era += 1
        if eras:
            health["partition_eras"] = eras
            health["old_era_files"] = old_era
    # deletion-vector pressure: dead rows are a per-scan anti-join tax
    # until a whole-table rewrite materializes them away
    dv = table_dv(path)
    health["dv_files"] = len(dv)
    health["dv_dead_rows"] = sum(
        len(v) for v in _dv_positions_by_file(path, dv).values()
    )
    if key_col is not None and files:
        # the head's entries (live dir == head pins is the writers'
        # invariant): the log's stats answer wherever an entry records
        # the key, and only the rest cost a footer read; with no log,
        # the directory's footers. Files with no range are left out.
        if head is not None:
            entries = [
                (
                    _resolve_snapshot_file(head["root"], f["path"])
                    or os.path.join(head["root"], f["path"]),
                    f,
                )
                for f in head["files"]
            ]
        else:
            entries = [(f, None) for f in files]
        zm = sorted(
            (mn, mx)
            for _, mn, mx in _key_zone_maps(entries, key_col)
            if mn is not None and mx is not None
        )
        overlaps = sum(
            1 for (_, mx_a), (mn_b, _) in zip(zm, zm[1:]) if mn_b <= mx_a
        )
        health["clustering_overlap"] = (
            overlaps / (len(zm) - 1) if len(zm) > 1 else 0.0
        )
    return health


# Default maintenance thresholds; callers override per table. Chosen
# for the 100 TB posture: files under 32 MB waste scan parallelism and
# footer overhead; >30% overlapping adjacent zone maps means range
# scans read multiples of what clustering would give; retention areas
# above 25% of live bytes are reclaimable cost.
MAINTENANCE_DEFAULTS = {
    "small_file_fraction": 0.5,
    "clustering_overlap": 0.3,
    "retention_fraction": 0.25,
    "max_versions": 64,
    # dead rows above this fraction of physical rows: the per-scan DV
    # anti-join outweighs the one-time materializing rewrite
    "dv_dead_fraction": 0.05,
    # snapshot log holding more than this many full-table metadata
    # copies (log_bytes / latest_manifest_bytes): delta-encode history
    # (manifest.compact_log) — storage O(churn), not O(table), per kept
    # version
    "log_amplification": 8.0,
    # files lacking NDV sketches blind the distribution-driven join
    # advice; below this coverage, advise analyze_table (bootstrap-era
    # and streaming micro-batch files are the usual gap — the stream
    # sinks commit sketch-free, other optimistic commits sketch inline)
    "ndv_coverage_min": 1.0,
}


def maintenance_plan(health: dict, thresholds: dict | None = None) -> list[dict]:
    """Turn a table_health report into ordered maintenance actions —
    the decision rules an operator (or a scheduled job) applies:

    - ``compact``   when most files are below the small-file threshold;
    - ``recluster`` when adjacent zone maps overlap too much (point and
      range queries stop pruning);
    - ``vacuum``    when tombstone+quarantine bytes outgrow the live
      table fraction, or the version history is longer than retention
      needs.

    Pure function of the health dict: returns [{action, reason}, ...]
    most-urgent first (compaction before reclustering — rewriting small
    files re-sorts them anyway if done via compact_snapshot's
    cluster_col). An empty list means the table is healthy."""
    t = {**MAINTENANCE_DEFAULTS, **(thresholds or {})}
    plan = []
    n = max(1, health["n_files"])
    small_frac = health["small_files"] / n
    # advice must be ACTIONABLE: compaction merges ≥2 small files that
    # share a directory — a lone small file (e.g. a tiny table already
    # compacted to one file) has nothing to merge into, and advising a
    # no-op forever would make the plan cry wolf.
    if health.get("partitions"):
        mergeable = sorted(
            d
            for d, p in health["partitions"].items()
            if p["small_files"] >= 2
        )
    else:
        mergeable = [""] if health["small_files"] >= 2 else []
    if small_frac > t["small_file_fraction"] and mergeable:
        item = {
            "action": "compact",
            "reason": f"{health['small_files']}/{n} files below the "
                      f"small-file threshold ({small_frac:.0%})",
        }
        if health.get("partitions"):
            # name the fragmented directories: per-partition compaction
            # (compact_snapshot) touches exactly these, nothing else
            item["partitions"] = mergeable
        plan.append(item)
    ndv_cov = health.get("ndv_coverage")
    if ndv_cov is not None and ndv_cov < t.get("ndv_coverage_min", 1.0):
        plan.append({
            "action": "analyze",
            "reason": f"NDV sketches cover {ndv_cov:.0%} of files — "
                      f"distribution-driven join advice (cardinality, "
                      f"skew, in-memory broadcast sizing) is blind until "
                      f"analyze_table backfills the rest",
        })
    if health.get("old_era_files"):
        eras = health.get("partition_eras", {})
        plan.append({
            "action": "migrate_partitions",
            "reason": f"{health['old_era_files']}/{n} files still sit in "
                      f"pre-evolution partition directories ({eras}) — "
                      f"migrate one partition at a time with "
                      f"rewrite_partition(respec=True); reads work either "
                      f"way, but old-era dirs prune at the old granularity",
        })
    overlap = health.get("clustering_overlap")
    if overlap is not None and overlap > t["clustering_overlap"]:
        plan.append({
            "action": "recluster",
            "reason": f"adjacent zone-map overlap {overlap:.0%} exceeds "
                      f"{t['clustering_overlap']:.0%} — range scans stop pruning",
        })
    dead = health.get("dv_dead_rows", 0)
    if dead and dead / max(1, health["total_rows"]) > t["dv_dead_fraction"]:
        plan.append({
            "action": "materialize_dv",
            "reason": f"{dead} deletion-vector dead rows "
                      f"({dead / max(1, health['total_rows']):.0%} of physical"
                      f" rows) tax every scan — rewrite_table (or compaction)"
                      f" purges them in one pass",
        })
    lb, one = health.get("log_bytes", 0), health.get("latest_manifest_bytes", 0)
    # both conditions: the log is EXPENSIVE (amplification) AND
    # compact_log can actually shrink it (≥2 full historical manifests
    # to delta-encode) — amplification alone would cry wolf forever on
    # a table whose rewrite shrank the head below its old keyframes
    if (
        one
        and lb / one > t["log_amplification"]
        and health.get("log_compactible_manifests", 0) >= 2
    ):
        plan.append({
            "action": "compact_log",
            "reason": f"snapshot log holds {lb / one:.0f}x the head "
                      f"manifest's bytes ({lb} vs {one}) across "
                      f"{health['log_compactible_manifests']} compactible "
                      f"full manifests — delta-encode history (compact_log)",
        })
    live = max(1, health["total_bytes"])
    retention = health["tombstone_bytes"] + health["quarantine_bytes"]
    if retention / live > t["retention_fraction"]:
        plan.append({
            "action": "vacuum",
            "reason": f"retention areas hold {retention / live:.0%} of live "
                      f"bytes (tombstones {health['tombstone_files']}, "
                      f"quarantine {health['quarantine_files']} files)",
        })
    elif health["n_versions"] > t["max_versions"]:
        plan.append({
            "action": "vacuum",
            "reason": f"{health['n_versions']} snapshot versions exceed the "
                      f"retention window ({t['max_versions']})",
        })
    return plan


def table_detail(path: str) -> dict:
    """DESCRIBE DETAIL from the log alone — zero data I/O: head
    version and commit time, file/byte/row totals (physical rows plus
    the DV-adjusted live count), partition columns, schema pin and
    rename state, deletion-vector load, version count, and log bytes.
    The one-call operator view of what a table IS before touching
    it."""
    import os

    from data_pipeline_project_spark.sinks.manifest import (
        _ndv_is_current,
        _partition_cols_of,
        read_manifest,
        snapshot_rowcount,
        snapshot_versions,
    )

    latest = os.path.join(path, "_manifests", "latest.json")
    if not os.path.exists(latest):
        raise FileNotFoundError(f"{path!r} has no snapshot manifest")
    m = read_manifest(latest)
    mdir = os.path.join(path, "_manifests")
    schema_cols = None
    if m.get("schema_json"):
        schema_cols = [f["name"] for f in m["schema_json"].get("fields", [])]
    return {
        "version": m.get("version"),
        "committed_at": m.get("committed_at"),
        "last_op": (m.get("txn") or {}).get("op", "bootstrap"),
        "n_files": m["n_files"],
        "total_bytes": sum(f["bytes"] for f in m["files"]),
        "physical_rows": m["total_rows"],
        "live_rows": snapshot_rowcount(path),
        "partition_cols": _partition_cols_of([f["path"] for f in m["files"]]),
        "schema_pinned": m.get("schema_json") is not None,
        "schema_cols": schema_cols,
        "renames": m.get("renames") or {},
        "dropped_cols": m.get("dropped_cols") or [],
        "dv_files": len(m.get("dv") or []),
        "n_versions": len(snapshot_versions(path)),
        "log_bytes": sum(
            os.path.getsize(os.path.join(mdir, f))
            for f in os.listdir(mdir)
            if f.endswith(".json")
        ),
        "ndv_coverage": (
            # family-aware (r12): a legacy foreign-hash sketch reads
            # as uncovered so maintenance re-ANALYZEs it
            sum(
                1 for f in m["files"]
                if _ndv_is_current(f) or f["rows"] == 0
            ) / m["n_files"]
            if m["n_files"]
            else 1.0
        ),
        "partition_spec": m.get("partition_spec"),
        "stats_coverage": (
            sum(1 for f in m["files"] if f.get("stats")) / m["n_files"]
            if m["n_files"]
            else 1.0
        ),
    }


# Broadcast threshold for join advice — Spark's own default for
# spark.sql.autoBroadcastJoinThreshold. Callers tune per cluster.
BROADCAST_BYTES_DEFAULT = 10 * 1024 * 1024


def join_plan_advice(
    path_a: str,
    path_b: str,
    key: str,
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
) -> dict:
    """Stats-driven join planning advice for two manifest tables —
    the decision an engine makes from catalog statistics, answered
    here from the logs with zero data I/O:

    - ``empty``     when the key ranges PROVABLY don't intersect
      (logged min/max) — skip the join entirely;
    - ``broadcast`` when a side's bytes fit the broadcast threshold
      (build side = the smaller);
    - ``shuffle``   otherwise, with the overlap window [lo, hi] both
      sides could prune their scans to (read_version_pruned /
      zone-map pruning make that actionable, not aspirational).

    NDV upgrade (r11): when both logs carry full-coverage NDV
    sketches for the key, the advice additionally

    - estimates join OUTPUT cardinality (|A|x|B| / max(ndv) — the
      textbook containment assumption);
    - corrects the broadcast decision for COMPRESSION: on-disk bytes
      under the threshold can hide a hash table that will not fit —
      rows/ndv is exactly the dictionary/RLE compressibility signal,
      so the est. in-memory build size inflates disk bytes by the
      measured redundancy and a too-dense 'small' side flips
      broadcast -> shuffle (ranges and bytes alone mispredict this);
    - flags SKEW from the merged heavy-hitter summary: a top key
      holding a large fraction of the probe side's rows is the
      salting / AQE-skew-join case, called out explicitly.

    Key ranges missing from either log (partial stats coverage) drop
    the range-based advice but keep the size-based strategy; the
    returned dict says which inputs were known. Advice, not a
    contract: row-level selectivity still belongs to the engine."""
    from data_pipeline_project_spark.sinks.manifest import (
        table_column_minmax,
        table_column_ndv,
    )

    a, b = table_detail(path_a), table_detail(path_b)
    ra = table_column_minmax(path_a, key)
    rb = table_column_minmax(path_b, key)
    na = table_column_ndv(path_a, key)
    nb = table_column_ndv(path_b, key)
    if na and na["coverage"] < 1.0:
        na = None  # partial sketch: a lower bound would mislead
    if nb and nb["coverage"] < 1.0:
        nb = None
    out = {
        "key": key,
        "bytes_a": a["total_bytes"],
        "bytes_b": b["total_bytes"],
        "rows_a": a["live_rows"],
        "rows_b": b["live_rows"],
        "range_a": ra,
        "range_b": rb,
        "ndv_a": na["ndv"] if na else None,
        "ndv_b": nb["ndv"] if nb else None,
        "overlap": None,
        "notes": [],
    }
    if na and nb and out["rows_a"] and out["rows_b"]:
        out["est_join_rows"] = int(
            out["rows_a"] * out["rows_b"] / max(na["ndv"], nb["ndv"], 1)
        )
    if ra and rb and None not in ra and None not in rb:
        lo, hi = max(ra[0], rb[0]), min(ra[1], rb[1])
        if lo > hi:
            out["strategy"] = "empty"
            out["notes"].append(
                f"{key!r} ranges are disjoint ({ra} vs {rb}) — the join "
                f"is provably empty; skip it"
            )
            return out
        out["overlap"] = (lo, hi)
    else:
        out["notes"].append(
            f"{key!r} range unknown on at least one side (partial stats "
            f"coverage) — range advice unavailable"
        )
    def _est_inmem(path, disk_bytes, rows):
        """Disk bytes x measured redundancy: parquet dictionary/RLE
        compresses a column roughly in proportion to rows/ndv, so the
        hash table a broadcast build materializes is about that much
        BIGGER than the file. Median across the sketched columns,
        capped — a conservative planner inflates, it never deflates."""
        from data_pipeline_project_spark.sinks.manifest import (
            read_manifest,
            table_column_ndv,
        )

        import os

        if not rows:
            return disk_bytes, 1.0
        m = read_manifest(
            os.path.join(path, "_manifests", "latest.json")
        )
        cols = set()
        for f in m["files"]:
            cols |= set((f.get("ndv") or {}).keys())
        reds = []
        for c in sorted(cols):
            sk = table_column_ndv(path, c)
            if sk and sk["coverage"] == 1.0 and sk["ndv"] > 0:
                reds.append(max(1.0, rows / sk["ndv"]))
        if not reds:
            return disk_bytes, 1.0
        reds.sort()
        # lower median: a single constant-ish column (a status flag)
        # must not inflate a genuinely diverse table by itself
        infl = min(32.0, reds[(len(reds) - 1) // 2])
        # HLL noise floor: m=128 registers carry ~9.2% standard
        # error, so an apparent inflation within ~2 se of 1.0 is
        # sketch noise on an all-distinct column, not redundancy
        if infl < 1.2:
            infl = 1.0
        return int(disk_bytes * infl), infl

    est_a, infl_a = _est_inmem(path_a, a["total_bytes"], out["rows_a"])
    est_b, infl_b = _est_inmem(path_b, b["total_bytes"], out["rows_b"])
    out["est_inmem_a"], out["est_inmem_b"] = est_a, est_b
    # build side = min ESTIMATED IN-MEMORY size (disk bytes break
    # ties): the broadcast decision is about the hash table a build
    # materializes, so a side that is smaller on disk but inflates
    # past the threshold must not mask the OTHER side fitting — the
    # r11 picker chose by disk bytes first and said "shuffle" in
    # exactly that case (ADVICE r11)
    small_est, small_disk, small_name = min(
        (est_a, a["total_bytes"], "a"), (est_b, b["total_bytes"], "b")
    )
    if small_est <= broadcast_bytes:
        out["strategy"] = "broadcast"
        out["build_side"] = small_name
        out["notes"].append(
            f"side {small_name} is {small_disk} bytes on disk, "
            f"~{small_est} in memory (<= {broadcast_bytes}): broadcast "
            f"it — the big side never shuffles"
        )
    else:
        out["strategy"] = "shuffle"
        if min(a["total_bytes"], b["total_bytes"]) <= broadcast_bytes:
            # THE NDV FLIP: disk bytes alone would have said broadcast
            flip = "a" if a["total_bytes"] <= b["total_bytes"] else "b"
            infl = infl_a if flip == "a" else infl_b
            fdisk = a["total_bytes"] if flip == "a" else b["total_bytes"]
            fest = est_a if flip == "a" else est_b
            out["notes"].append(
                f"side {flip}'s {fdisk} disk bytes hide a "
                f"~{fest}-byte build table (measured column "
                f"redundancy {infl:.1f}x — dictionary/RLE compression): "
                f"broadcasting would not fit; shuffle instead"
            )
        if out["overlap"]:
            out["notes"].append(
                f"both sides exceed the broadcast threshold; shuffle on "
                f"{key!r} and prune each scan to the overlap "
                f"{out['overlap']} first"
            )
        # skew only hurts the SHUFFLED plan: one hot key lands one
        # reducer with a disproportionate slice of the probe side
        for side, sk, rows in (("a", na, out["rows_a"]),
                               ("b", nb, out["rows_b"])):
            if not sk or not rows or not sk["top"]:
                continue
            top_v, top_n = sk["top"][0]
            mass = top_n / rows
            if mass >= 0.2:
                out["skew_side"] = side
                out["skew_key"] = top_v
                out["skew_mass"] = round(mass, 3)
                out["notes"].append(
                    f"side {side} is SKEWED on {key!r}: value "
                    f"{top_v!r} holds >= {mass:.0%} of its rows — salt "
                    f"that key or enable AQE skew-join before shuffling"
                )
    return out


def advised_join(
    spark,
    path_a: str,
    path_b: str,
    key: str,
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    salt_buckets: int = 16,
    advice: dict | None = None,
):
    """EXECUTE a join the way ``join_plan_advice`` recommends — the
    r12 step from advisory statistics to a consumed plan (r11 shipped
    the advice; nothing acted on it):

    - ``empty``     -> no scan at all: a provably-empty frame with the
      joined schema (the ranges said the keys cannot intersect);
    - ``broadcast`` -> ``F.broadcast`` on the advised build side (the
      in-memory estimate, not Spark's disk-bytes heuristic, picked
      it — the NDV-flip fixture is exactly where the two disagree);
    - ``shuffle``   -> both scans PRUNED to the logged key-range
      overlap before the exchange (rows outside it cannot match, and
      the filter pushes into the parquet scan), with a ``merge`` hint
      so a mispredicting size heuristic cannot silently re-broadcast
      a side the estimate proved too big;
    - flagged SKEW  -> the shuffle is SALTED: the skewed side gets a
      uniform salt in [0, salt_buckets), the other side explodes to
      every salt value, and the join key becomes (key, _salt) — one
      hot key's rows spread across ``salt_buckets`` reducers instead
      of one. Result equality with the unsalted join is pinned by
      test; the wall-clock win is measured at scale (SCALE_r12).

    Returns (DataFrame, advice). Columns: every column of A, then B's
    non-key columns (the usual equi-join projection)."""
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.sinks.manifest import read_version

    adv = advice or join_plan_advice(
        path_a, path_b, key, broadcast_bytes=broadcast_bytes
    )
    a = read_version(spark, path_a)
    b = read_version(spark, path_b)
    b_cols = [c for c in b.columns if c != key]
    if adv["strategy"] == "empty":
        out = a.join(b, key).where(F.lit(False))
        return out, adv
    if adv.get("overlap"):
        lo, hi = adv["overlap"]
        a = a.where(F.col(key).between(F.lit(lo), F.lit(hi)))
        b = b.where(F.col(key).between(F.lit(lo), F.lit(hi)))
    if adv["strategy"] == "broadcast":
        build, probe = (a, b) if adv["build_side"] == "a" else (b, a)
        out = probe.join(F.broadcast(build), key)
        return out.select(key, *[c for c in a.columns if c != key],
                          *b_cols), adv
    if adv.get("skew_side"):
        nsalt = max(2, int(salt_buckets))
        skewed, other = (a, b) if adv["skew_side"] == "a" else (b, a)
        # DETERMINISTIC salt from row content, never F.rand: under a
        # shuffle-fetch failure Spark re-executes the map stage, and a
        # nondeterministic salt would assign recomputed rows to
        # different reducers than the attempt some consumers already
        # fetched — the classic duplicated/lost-rows class for
        # nondeterministic repartitioning. xxhash64 over every column
        # spreads a hot key's rows (they share the key but not the
        # payload) and recomputes identically on retry.
        skewed = skewed.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in skewed.columns]),
                F.lit(nsalt),
            ).cast("int"),
        )
        other = other.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1))),
        )
        sa, sb = (skewed, other) if adv["skew_side"] == "a" else (
            other, skewed
        )
        out = (
            sa.hint("merge")
            .join(sb, [key, "_salt"])
            .drop("_salt")
        )
        return out.select(key, *[c for c in a.columns if c != key
                                 and c != "_salt"],
                          *[c for c in b_cols if c != "_salt"]), adv
    out = a.hint("merge").join(b, key)
    return out, adv


def run_maintenance(
    spark,
    path: str,
    key_col: str | None = None,
    thresholds: dict | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep_versions: int = 2,
    dry_run: bool = False,
    older_than=None,
) -> dict:
    """Execute the plan ``maintenance_plan`` emits — the OPTIMIZE /
    VACUUM command a scheduler runs nightly: audit (table_health),
    decide (maintenance_plan), act. Dispatch per action:

    - ``compact``        → ``compact_snapshot`` (per-partition on hive
      layouts, clustered on ``key_col`` when given) — SKIPPED when a
      whole-table rewrite below will run anyway (it merges small files
      for free, so compacting first would rewrite the same bytes
      twice);
    - ``recluster`` / ``materialize_dv`` → ONE ``rewrite_table`` on
      ``key_col`` covers both (a rewrite re-clusters and purges
      deletion vectors in the same pass); skipped with an honest
      entry when no ``key_col`` was given — clustering needs a key;
    - ``vacuum``         → ``vacuum(keep_versions=..., older_than=...)``
      (``older_than`` adds Delta's RETAIN wall-clock floor);
    - ``compact_log``    → ``compact_log(path)`` (delta-encode the
      snapshot history — metadata-only, content-preserving).

    ``dry_run=True`` returns the plan (and the health it derives from)
    without touching the table; vacuum inside a real run is still the
    only byte-destroying step and honors the same retention argument
    an explicit call would. Every commit these actions make carries
    its own txn intent, so maintenance coexists with concurrent
    writers (losers rebase or conflict loudly, never corrupt).
    Returns {health, plan, executed: [{action, ...result}]}."""
    from data_pipeline_project_spark.sinks.manifest import (
        compact_log,
        compact_snapshot,
        rewrite_table,
        vacuum,
    )

    health = table_health(
        path, key_col, small_file_bytes=target_file_bytes // 4
    )
    plan = maintenance_plan(health, thresholds)
    if dry_run:
        return {"health": health, "plan": plan, "executed": []}

    executed: list[dict] = []
    actions = [a["action"] for a in plan]
    rewrite_covers = key_col is not None and (
        {"recluster", "materialize_dv"} & set(actions)
    )
    rewritten = False
    n_out = max(1, health["total_bytes"] // target_file_bytes)
    for a in plan:
        act = a["action"]
        if act == "compact":
            if rewrite_covers:
                executed.append({
                    "action": act,
                    "skipped": "covered by the whole-table rewrite",
                })
                continue
            res = compact_snapshot(
                spark, path,
                small_bytes=target_file_bytes // 2,
                cluster_col=key_col,
            )
            executed.append({"action": act, **res})
        elif act in ("recluster", "materialize_dv"):
            if key_col is None:
                executed.append({
                    "action": act,
                    "skipped": "no key_col given — clustering needs a key",
                })
            elif rewritten:
                executed.append({
                    "action": act,
                    "skipped": "covered by the rewrite above",
                })
            else:
                res = rewrite_table(spark, path, key_col, n_files=n_out)
                rewritten = True
                executed.append({"action": act, **res})
        elif act == "vacuum":
            res = vacuum(
                path, keep_versions=keep_versions, older_than=older_than
            )
            executed.append({"action": act, **res})
        elif act == "compact_log":
            res = compact_log(path)
            executed.append({"action": act, **res})
        elif act == "analyze":
            if rewritten or rewrite_covers:
                # the rewrite's fresh files sketch inline — analyzing
                # first would read bytes the rewrite replaces anyway
                executed.append({
                    "action": act,
                    "skipped": "rewrite sketches its output inline",
                })
            else:
                from data_pipeline_project_spark.sinks.manifest import (
                    analyze_table,
                )

                res = analyze_table(path, spark=spark)
                executed.append({"action": act, **res})
    return {"health": health, "plan": plan, "executed": executed}
