"""Parquet table loaders for the driver's synthetic star schema.

Tables per /root/repo/TESTDATA.md: TPC-H-ish star schema + events
stream table + documents/embeddings for the LLM-ops surface.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session -> {resolved path: ((st_mtime_ns, st_size), inferred schema)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, which infers the schema with a
    Spark job, the first time; later loads of the unchanged path reuse
    that exact schema and start no job. A rewrite changes the file's
    (or directory's) mtime or size and so is inferred afresh. The
    schema is Spark's own, never a pyarrow footer read: pyarrow maps
    TIMESTAMP(NANOS) differently from Spark's nanosAsLong reader."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:  # not a local path: no cheap change check
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark, {})
    stamp = (st.st_mtime_ns, st.st_size)
    hit = memo.get(real)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[real] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
        # rejects unless read as long. Runtime-settable, so this also
        # covers driver-supplied sessions built without our factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives
    # as epoch-nanos LongType — convert to a true timestamp (values are
    # microsecond-aligned in the testdata, so the division is exact).
    for fld in df.schema.fields:
        if fld.name == "ts" and isinstance(fld.dataType, LongType):
            # integer div — a double division here loses precision at
            # epoch-nanos magnitude (2^53 < 1.7e18) and shifts values 1us
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NOTE: a load reads the schema Spark inferred for the same path
    # earlier in this session, unless the file (or directory) has
    # changed since: _read_parquet keys it on st_mtime_ns and st_size.
    # Without it every query build pays a one-task inference job per
    # table it loads.
    # NOTE: the testdata ships every table as single-row-group parquet,
    # so scans are unsplittable and run on one core. Measured both
    # ways: repartitioning documents/embeddings to session parallelism
    # made the doc-heavy queries 2-3x SLOWER at this scale — 32 tiny
    # partitions cost more in task + Python-worker round-trips than the
    # parallelism returns. Much of that round-trip was a fixed ~100 ms
    # per Python task spent re-reading pyspark.zip and the Spark jar,
    # which functions/zip_finders.py now skips; splitting single-file
    # inputs has not been re-measured since. At cluster scale real
    # corpora arrive as many files/row groups and the scan parallelizes
    # on its own; don't hand-repartition small inputs.
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so spark.sql() queries run."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


def harmonize_union(spark_frames, renames=None, casts=None):
    """Union frames written under EVOLVED schemas into one logical
    frame: per-frame, ``renames`` maps old column names to current
    ones and ``casts`` coerces legacy types (e.g. an era that wrote
    int sensor readings); columns a frame lacks arrive as nulls
    (unionByName allowMissingColumns — additive evolution). The
    write-side counterpart of sinks/manifest.read_with_schema_evolution
    for when the eras live in DIFFERENT datasets (per-vendor drops,
    migrating pipelines) rather than one dir.

    Column ORDER never matters (by-name union), which is the bug this
    guards: plain union() matches by position and silently transposes
    values between same-typed columns."""
    from functools import reduce

    from pyspark.sql import functions as F

    fixed = []
    for df in spark_frames:
        for old, new in (renames or {}).items():
            if old in df.columns:
                df = df.withColumnRenamed(old, new)
        for col, typ in (casts or {}).items():
            if col in df.columns:
                df = df.withColumn(col, F.col(col).cast(typ))
        fixed.append(df)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), fixed
    )
