"""Sinks — the reference's storage layer (K1-K8), behind one interface.

Reference semantics:
- raw append (K1): batched INSERT INTO raw_sensor_data
  (pipeline.py:215-225);
- aggregate upsert (K2): INSERT ... ON DUPLICATE KEY UPDATE keyed by
  uk_sensor_file_metric_time (pipeline.py:227-245,
  setup_database_in_mysql.py:94) — the idempotency mechanism that makes
  micro-batch replays safe (K3/K6);
- DDL bootstrap (K8): setup_database_in_mysql.py:58-103.

Engine design: `Sink.write(df, epoch_id)`, called once per output in
each stream epoch. The stream's sink is the manifest table
(``streaming/lakehouse_ingest.ManifestTableSink``): each append carries
the epoch id as a batch stamp, so a replayed epoch is skipped. For the
aggregates that leaves the table the K2 upsert would: the unique key
includes file_name, and the checkpointed file source delivers each file
in exactly one epoch. ``ParquetAppendSink`` is a plain batch sink; the
JDBC implementations carry the reference's MySQL semantics and are
exercised only where a database exists.
"""

from __future__ import annotations

import time
from abc import ABC, abstractmethod
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connect_with_retry(
    connect: Callable[[], object],
    retry_count: int = 3,
    delay: float = 5.0,
    sleep: Callable[[float], None] = time.sleep,
):
    """K6 — the reference's DB connect retry loop (pipeline.py:59-82):
    up to ``retry_count`` attempts, ``delay`` seconds apart; re-raises
    the last error once attempts are exhausted (the reference returns
    None and skips the file — in a dataflow engine the batch must fail
    so the stream's checkpoint retries it, K3)."""
    last: Exception | None = None
    for attempt in range(retry_count):
        try:
            return connect()
        except Exception as e:  # noqa: BLE001 — driver errors vary by DB-API
            last = e
            if attempt + 1 < retry_count:
                sleep(delay)
    assert last is not None
    raise last


class Sink(ABC):
    @abstractmethod
    def write(self, df: DataFrame, epoch_id: int | None = None) -> None: ...


class ParquetAppendSink(Sink):
    """K1 — append-only parquet fact sink; files stay immutable.

    It keeps no record of the epochs it wrote, so a replayed epoch
    appends its rows again: inside ``run_sensor_stream``, where a
    failing output replays the whole epoch, it is not replay-safe —
    use ``streaming.lakehouse_ingest.ManifestTableSink`` there."""

    def __init__(self, path: str):  # noqa: D107
        self.path = path

    def write(self, df: DataFrame, epoch_id: int | None = None) -> None:
        df.write.mode("append").parquet(self.path)


class JdbcAppendSink(Sink):
    """K1 over JDBC — the reference's executemany INSERT becomes the
    JDBC writer's batched inserts (batchsize, per-partition
    connections: strictly better than the reference's single
    connection)."""

    def __init__(
        self,
        url: str,
        table: str,
        properties: dict[str, str] | None = None,
        batchsize: int = 5000,
        retry_count: int = 3,
        retry_delay: float = 5.0,
    ):  # noqa: D107
        self.url = url
        self.table = table
        self.properties = dict(properties or {})
        self.batchsize = batchsize
        self.retry_count = retry_count
        self.retry_delay = retry_delay

    def write(self, df: DataFrame, epoch_id: int | None = None) -> None:
        # K6 — retried connectivity probe BEFORE the save, mirroring the
        # reference's get_db_connection-then-store split: the probe is
        # one SELECT 1 round-trip; the save itself runs once (a mid-save
        # retry could append a partition's rows twice).
        spark = df.sparkSession

        def probe() -> None:  # pragma: no cover - needs a live DB
            (
                spark.read.format("jdbc")
                .option("url", self.url)
                .option("query", "SELECT 1")
                .options(**self.properties)
                .load()
                .collect()
            )

        connect_with_retry(probe, self.retry_count, self.retry_delay)
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
            .option("batchsize", str(self.batchsize))
            .options(**self.properties)
            .mode("append")
            .save()
        )


class JdbcUpsertSink(Sink):
    """K2 over JDBC — INSERT ... ON DUPLICATE KEY UPDATE per partition.

    Spark's JDBC writer has no native upsert; the reference's SQL
    (pipeline.py:240-243) runs per executor partition via
    ``foreachPartition`` with one connection and batched executes —
    the unique key makes streaming replays idempotent (K3/K6).
    Requires a DB-API driver on the executors; import is deferred so
    environments without one can still import the module.
    """

    def __init__(
        self,
        connect_kwargs: dict,
        table: str,
        keys: Sequence[str],
        update_cols: Sequence[str],
        batchsize: int = 1000,
        retry_count: int = 3,
        retry_delay: float = 5.0,
        connect_fn: Callable[..., object] | None = None,
    ):  # noqa: D107
        self.connect_kwargs = dict(connect_kwargs)
        self.table = table
        self.keys = list(keys)
        self.update_cols = list(update_cols)
        self.batchsize = batchsize
        self.retry_count = retry_count
        self.retry_delay = retry_delay
        # injectable for tests / non-MySQL DB-API drivers; must be
        # picklable (executors call it)
        self.connect_fn = connect_fn

    def write(self, df: DataFrame, epoch_id: int | None = None) -> None:
        cols = df.columns
        placeholders = ", ".join(["%s"] * len(cols))
        updates = ", ".join(f"{c}=VALUES({c})" for c in self.update_cols)
        sql = (
            f"INSERT INTO {self.table} ({', '.join(cols)}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
        connect_kwargs = self.connect_kwargs
        batchsize = self.batchsize
        retry_count, retry_delay = self.retry_count, self.retry_delay
        connect_fn = self.connect_fn

        def write_partition(rows):
            if connect_fn is None:  # pragma: no cover - needs a live DB
                import mysql.connector  # deferred: not bundled in CI images

                make = lambda: mysql.connector.connect(**connect_kwargs)  # noqa: E731
            else:
                make = lambda: connect_fn(**connect_kwargs)  # noqa: E731
            conn = connect_with_retry(make, retry_count, retry_delay)
            try:
                cur = conn.cursor()
                batch = []
                for row in rows:
                    batch.append(tuple(row))
                    if len(batch) >= batchsize:
                        cur.executemany(sql, batch)
                        batch.clear()
                if batch:
                    cur.executemany(sql, batch)
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                conn.close()

        df.foreachPartition(write_partition)


RAW_TABLE_DDL = """
CREATE TABLE IF NOT EXISTS raw_sensor_data (
    id BIGINT AUTO_INCREMENT PRIMARY KEY,
    sensor_id VARCHAR(255) NOT NULL,
    timestamp DATETIME NOT NULL,
    temperature FLOAT,
    humidity FLOAT,
    pressure FLOAT,
    file_name VARCHAR(255),
    processed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
    INDEX idx_sensor_id (sensor_id),
    INDEX idx_timestamp (timestamp),
    INDEX idx_file_name (file_name)
)
"""

AGG_TABLE_DDL = """
CREATE TABLE IF NOT EXISTS aggregated_sensor_data (
    id BIGINT AUTO_INCREMENT PRIMARY KEY,
    sensor_id VARCHAR(255) NOT NULL,
    file_name VARCHAR(255),
    metric_name VARCHAR(64) NOT NULL,
    aggregation_time DATETIME,
    min_value FLOAT,
    max_value FLOAT,
    avg_value FLOAT,
    std_dev_value FLOAT,
    record_count INT,
    processed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
    UNIQUE KEY uk_sensor_file_metric_time
        (sensor_id, file_name, metric_name, aggregation_time)
)
"""


def bootstrap_database(
    connect_fn: Callable[..., object],
    connect_kwargs: dict | None = None,
    ddls: Sequence[str] = (RAW_TABLE_DDL, AGG_TABLE_DDL),
    retry_count: int = 3,
    retry_delay: float = 5.0,
) -> None:
    """K8 — run the table DDL once at startup, the reference's
    setup_database_in_mysql.py:58-103 as an entry point: connect with
    the K6 retry loop, execute each CREATE TABLE IF NOT EXISTS, commit,
    close. ``connect_fn`` is any DB-API connect callable (injectable
    for tests; pass ``mysql.connector.connect`` in production)."""
    conn = connect_with_retry(
        lambda: connect_fn(**(connect_kwargs or {})), retry_count, retry_delay
    )
    try:
        cur = conn.cursor()
        for ddl in ddls:
            cur.execute(ddl)
        conn.commit()
    finally:
        conn.close()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by join/agg
    keys — the co-location contract that removes the shuffle from
    every later join or aggregation on those keys. At 100 TB this is
    the difference between an hourly fact-fact join re-shuffling the
    big table every run and reading pre-hashed buckets: pay the
    shuffle once at write time, never again at read time. (Bucket
    pruning also kicks in for point predicates on the bucket key.)
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def shard_id(col, n_shards: int, method: str = "xxhash64"):
    """Deterministic shard id: a pure function of the key, so the same
    row always lands in the same shard regardless of input partitioning,
    cluster size, or task retries (``repartition(n)`` round-robin is
    none of those).

    - ``xxhash64`` (default): Spark's fastest JVM hash — the production
      path for the shard writer.
    - ``md5``: cross-engine reproducible (md5-prefix bigint, the same
      construction as ``operators/text.token_hash``) — slower per row
      but byte-identical in any engine with md5(), which is what lets
      the ``training_shard_assignment`` registry row hash-check this
      sharding logic against a DuckDB oracle.

    Both are uniform over shards; pick by whether cross-engine
    reproducibility is part of the contract.
    """
    if method == "xxhash64":
        h = F.xxhash64(col)
    elif method == "md5":
        # 15 hex chars = 60 bits, always non-negative, so pmod == %
        h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
            "bigint"
        )
    else:
        raise ValueError(f"unknown shard hash method {method!r}")
    return F.pmod(h, F.lit(n_shards)).cast("int")


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    salt_col: str,
    max_records_per_file: int | None = None,
    hash_method: str = "xxhash64",
) -> None:
    """Write a corpus as ``n_shards`` deterministic parquet shards —
    the hand-off format for a training dataloader (epoch = read shards
    in order; resume = shard offset).

    Shard id is ``shard_id(salt_col, n_shards)`` — see ``shard_id`` for
    the determinism contract. The write is one hash shuffle;
    ``maxRecordsPerFile`` bounds file size within a shard so a skewed
    shard splits into more files instead of one huge one.

    Readers get ``shard=k/`` Hive partitions: a dataloader ranks over
    shard directories, prunable by partition in any engine.
    """
    sharded = df.withColumn(
        "shard", shard_id(F.col(salt_col), n_shards, hash_method)
    )
    writer = (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
