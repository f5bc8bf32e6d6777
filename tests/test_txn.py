"""Cross-table atomic transactions (sinks/txn.py) — the lakehouse
twin of the reference's single MySQL transaction committing the raw
batch and the aggregate upsert together (pipeline.py:246-259,
rollback on error).

Contracts under test:

- the reference flow (raw append + agg merge) publishes BOTH
  atomically on clean exit; an exception rolls BOTH back;
- during the transaction, readers of every participant see the
  pre-transaction state (staged versions are invisible);
- crash injection at EVERY protocol point — after the first prepare,
  after the second, after the marker, before the heal — converges to
  both-or-neither through recovery (presumed abort before the
  marker, completion after it);
- a concurrent writer meeting an in-doubt staged version
  force-aborts it after the grace window and proceeds; the losing
  coordinator's commit() raises and rolls back;
- one commit per table per transaction; explicit staged versions are
  not time-travel readable; history audits the outcome.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks import manifest as M
from data_pipeline_project_spark.sinks.layout import write_range_clustered
from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    committed_versions,
    merge_upsert,
    read_version,
    snapshot_versions,
    table_history,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sinks.txn import (
    TransactionAborted,
    transaction,
)


@pytest.fixture(autouse=True)
def _fast_grace_and_clean():
    prev = M.TXN_INDOUBT_GRACE_SECS
    M.TXN_INDOUBT_GRACE_SECS = 0.05
    yield
    M.TXN_INDOUBT_GRACE_SECS = prev
    M._clear_active_txn()


def _pair(spark, tmp_path):
    """raw (append-only events) + agg (keyed aggregate) tables."""
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).coalesce(2).write.parquet(raw)
    write_versioned_manifest(raw)
    spark.createDataFrame(
        [(0, 100), (1, 200)], "k long, total long"
    ).coalesce(1).write.parquet(agg)
    write_versioned_manifest(agg)
    return raw, agg


def _state(spark, path):
    return sorted(map(tuple, read_version(spark, path).collect()))


def test_reference_flow_publishes_both_atomically(spark, tmp_path):
    raw, agg = _pair(spark, tmp_path)
    batch = spark.createDataFrame([(1000, 1), (1001, 2)], "k long, v long")
    aggs = spark.createDataFrame([(1, 777)], "k long, total long")

    with transaction([raw, agg]) as t:
        append_snapshot(spark, raw, batch)
        merge_upsert(spark, agg, "k", aggs)
        # the coordinator's OWN thread reads its staged writes (r12
        # read-your-own-writes)...
        assert read_version(spark, raw).count() == 302
        # ...while a PEER thread still reads pre-transaction state —
        # nothing is visible to anyone else until publish
        import threading

        peer_seen = {}

        def _peer():
            peer_seen["raw"] = read_version(spark, raw).count()
            peer_seen["agg"] = {
                r.k: r.total for r in read_version(spark, agg).collect()
            }

        th = threading.Thread(target=_peer)
        th.start()
        th.join(timeout=60)
        assert peer_seen == {"raw": 300, "agg": {0: 100, 1: 200}}

    assert t.outcome == "committed"
    assert read_version(spark, raw).count() == 302
    assert {r.k: r.total for r in read_version(spark, agg).collect()} == {
        0: 100, 1: 777
    }
    # history audits the atomic publish on both participants
    for p in (raw, agg):
        head_entry = table_history(p, limit=1)[0]
        assert head_entry["atomic_txn"]["outcome"] == "committed"
        assert head_entry["atomic_txn"]["id"] == t.txn_id


def test_exception_rolls_back_both(spark, tmp_path):
    raw, agg = _pair(spark, tmp_path)
    before_raw, before_agg = _state(spark, raw), _state(spark, agg)

    with pytest.raises(RuntimeError, match="mid-transaction failure"):
        with transaction([raw, agg]):
            append_snapshot(
                spark, raw,
                spark.createDataFrame([(1000, 1)], "k long, v long"),
            )
            merge_upsert(
                spark, agg, "k",
                spark.createDataFrame([(0, -1)], "k long, total long"),
            )
            raise RuntimeError("mid-transaction failure")

    assert _state(spark, raw) == before_raw
    assert _state(spark, agg) == before_agg
    # the abort's rollback recovery swept the staged slots
    assert committed_versions(raw) == [1]
    assert committed_versions(agg) == [1]
    # and the tables accept ordinary commits afterwards
    append_snapshot(
        spark, raw, spark.createDataFrame([(2000, 5)], "k long, v long")
    )
    assert read_version(spark, raw).count() == 301


@pytest.mark.parametrize(
    "crash_after", ["first_prepare", "second_prepare", "marker", "one_heal"]
)
def test_crash_injection_converges_both_or_neither(
    spark, tmp_path, crash_after
):
    """Simulate a coordinator dying at each protocol point (by simply
    not running the remaining steps), then drive recovery on both
    tables and assert the pair is consistent: BOTH published (crash at
    or after the marker) or NEITHER (crash before it)."""
    raw, agg = _pair(spark, tmp_path)
    before_raw, before_agg = _state(spark, raw), _state(spark, agg)

    t = transaction([raw, agg]).__enter__()
    try:
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(1000, 1)], "k long, v long"),
        )
        if crash_after != "first_prepare":
            merge_upsert(
                spark, agg, "k",
                spark.createDataFrame([(0, 999)], "k long, total long"),
            )
        if crash_after in ("marker", "one_heal"):
            os.makedirs(os.path.dirname(t.marker), exist_ok=True)
            assert M.get_log_store().publish_once(
                t.marker,
                json.dumps({"outcome": "committed", "id": t.txn_id}),
            )
        if crash_after == "one_heal":
            M._update_latest_monotonic(
                os.path.join(raw, "_manifests"), t.staged[os.path.abspath(raw)]
            )
    finally:
        t.simulate_crash()  # the coordinator process is gone

    # an operator (or any later reader/writer) recovers each table
    # independently, in either order
    M.recover_to_last_manifest(agg)
    M.recover_to_last_manifest(raw)

    raw_after, agg_after = _state(spark, raw), _state(spark, agg)
    published = crash_after in ("marker", "one_heal")
    if published:
        assert len(raw_after) == 301
        assert (0, 999) in agg_after
    else:
        assert raw_after == before_raw
        assert agg_after == before_agg


@pytest.mark.parametrize(
    "crash_after", ["first_op", "chain_staged", "marker"]
)
def test_chained_same_table_crash_converges_all_or_nothing(
    spark, tmp_path, crash_after
):
    """r12 read-your-own-writes chain (append raw -> merge raw ->
    merge agg) with the coordinator dying at each point: recovery
    converges every participant to ALL the chained ops or NONE."""
    raw, agg = _pair(spark, tmp_path)
    before_raw, before_agg = _state(spark, raw), _state(spark, agg)

    t = transaction([raw, agg]).__enter__()
    try:
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(1000, 1)], "k long, v long"),
        )
        if crash_after != "first_op":
            merge_upsert(
                spark, raw, "k",
                spark.createDataFrame([(1000, -5)], "k long, v long"),
            )
            merge_upsert(
                spark, agg, "k",
                spark.createDataFrame([(0, 999)], "k long, total long"),
            )
        if crash_after == "marker":
            os.makedirs(os.path.dirname(t.marker), exist_ok=True)
            assert M.get_log_store().publish_once(
                t.marker,
                json.dumps({"outcome": "committed", "id": t.txn_id}),
            )
    finally:
        t.simulate_crash()  # the coordinator process is gone

    M.recover_to_last_manifest(raw)
    M.recover_to_last_manifest(agg)
    raw_after, agg_after = _state(spark, raw), _state(spark, agg)
    if crash_after == "marker":
        rows = dict(raw_after)
        assert rows[1000] == -5 and len(rows) == 301
        assert (0, 999) in agg_after
    else:
        assert raw_after == before_raw
        assert agg_after == before_agg
    # the tables accept ordinary commits afterwards
    append_snapshot(
        spark, raw, spark.createDataFrame([(2000, 5)], "k long, v long")
    )


def test_concurrent_writer_aborts_in_doubt_txn(spark, tmp_path):
    """Writer meets a staged-but-unpublished version: after the grace
    window it decides 'aborted' and commits on the pre-transaction
    head; the coordinator's later publish loses and rolls back."""
    raw, agg = _pair(spark, tmp_path)

    t = transaction([raw, agg]).__enter__()
    append_snapshot(
        spark, raw, spark.createDataFrame([(1000, 1)], "k long, v long")
    )
    M._clear_active_txn()  # the concurrent writer is another thread/process
    append_snapshot(
        spark, raw, spark.createDataFrame([(3000, 9)], "k long, v long")
    )
    # the writer's commit force-aborted the in-doubt transaction
    assert M._read_marker_settled(t.marker) == "aborted"
    with pytest.raises(TransactionAborted):
        t.commit()

    rows = {r.k for r in read_version(spark, raw).collect()}
    assert 3000 in rows and 1000 not in rows
    assert read_version(spark, agg).count() == 2


def test_chained_commits_on_one_table_read_their_own_writes(
    spark, tmp_path
):
    """r12: multiple ops per table inside one transaction — the
    coordinator's thread reads its own staged state between them
    (the r11 one-commit-per-table rule is lifted); everything
    publishes atomically."""
    raw, agg = _pair(spark, tmp_path)
    with transaction([raw, agg]):
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(1000, 1)], "k long, v long"),
        )
        # read-your-own-writes: the staged append is visible HERE
        assert read_version(spark, raw).count() == 301
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(1001, 1)], "k long, v long"),
        )
        assert read_version(spark, raw).count() == 302
        # and a chained MERGE bases on the staged appends
        merge_upsert(
            spark, raw, "k",
            spark.createDataFrame([(1000, -5)], "k long, v long"),
        )
        merge_upsert(
            spark, agg, "k",
            spark.createDataFrame([(0, 999)], "k long, total long"),
        )
    rows = {r.k: r.v for r in read_version(spark, raw).collect()}
    assert rows[1000] == -5 and rows[1001] == 1
    assert len(rows) == 302
    agg_rows = {r.k: r.total for r in read_version(spark, agg).collect()}
    assert agg_rows[0] == 999


def test_chained_commits_abort_rolls_back_the_whole_chain(
    spark, tmp_path
):
    raw, agg = _pair(spark, tmp_path)
    before = sorted(
        map(tuple, read_version(spark, raw).collect())
    )
    with pytest.raises(RuntimeError, match="boom"):
        with transaction([raw, agg]):
            append_snapshot(
                spark, raw,
                spark.createDataFrame([(1000, 1)], "k long, v long"),
            )
            merge_upsert(
                spark, raw, "k",
                spark.createDataFrame([(0, -7)], "k long, v long"),
            )
            raise RuntimeError("boom")
    assert sorted(map(tuple, read_version(spark, raw).collect())) == before
    assert read_version(spark, agg).count() == 2


def test_staged_chain_invisible_to_peer_threads(spark, tmp_path):
    """RYOW is thread-local: a peer thread reading the table mid-
    transaction sees the pre-transaction head, not the staged chain."""
    import threading

    raw, agg = _pair(spark, tmp_path)
    peer_counts = []
    with transaction([raw, agg]) as t:
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(1000, 1)], "k long, v long"),
        )
        assert read_version(spark, raw).count() == 301  # own thread

        def peer():
            peer_counts.append(read_version(spark, raw).count())

        th = threading.Thread(target=peer)
        th.start()
        th.join(timeout=60)
        assert peer_counts == [300], peer_counts
        assert t is not None
    # after publish the same peer read sees the chain
    th2 = threading.Thread(target=peer)
    th2.start()
    th2.join(timeout=60)
    assert peer_counts == [300, 301], peer_counts


def test_staged_version_not_time_travel_readable(spark, tmp_path):
    raw, agg = _pair(spark, tmp_path)
    t = transaction([raw, agg]).__enter__()
    append_snapshot(
        spark, raw, spark.createDataFrame([(1000, 1)], "k long, v long")
    )
    staged_v = t.staged[os.path.abspath(raw)]["version"]
    with pytest.raises(ValueError, match="cross-table transaction"):
        read_version(spark, raw, staged_v)
    M._clear_active_txn()
    t.abort()
    # the abort's rollback recovery swept the staged slot entirely
    # (the torn-claim sweep removes versions beyond the committed
    # head), so the version is simply gone
    with pytest.raises(FileNotFoundError):
        read_version(spark, raw, staged_v)
    assert snapshot_versions(raw) == [1]


def test_single_table_commits_pay_no_marker_io(spark, tmp_path):
    """Outside a transaction nothing changes: no txn2 stamp, no _txns
    directory, latest advances immediately."""
    raw, agg = _pair(spark, tmp_path)
    append_snapshot(
        spark, raw, spark.createDataFrame([(1000, 1)], "k long, v long")
    )
    head = M.read_manifest(os.path.join(raw, "_manifests", "latest.json"))
    assert "txn2" not in head
    assert not os.path.exists(os.path.join(raw, "_txns"))
    assert head["version"] == snapshot_versions(raw)[-1] == 2


def test_marker_gc_after_both_vacuums(spark, tmp_path):
    """Marker retirement protocol: each table's vacuum INLINES the
    transaction outcome into its kept manifests; once every
    participant has, vacuum_txn_markers deletes the shared marker —
    and resolution still answers from the inline field (history,
    explicit time travel, committed_versions all keep working)."""
    from data_pipeline_project_spark.sinks.manifest import vacuum
    from data_pipeline_project_spark.sinks.txn import vacuum_txn_markers

    raw, agg = _pair(spark, tmp_path)
    with transaction([raw, agg]) as t:
        append_snapshot(
            spark, raw,
            spark.createDataFrame([(1000, 1)], "k long, v long"),
        )
        merge_upsert(
            spark, agg, "k",
            spark.createDataFrame([(0, 777)], "k long, total long"),
        )
    assert os.path.exists(t.marker)

    # only raw vacuumed: agg's manifests still need the marker
    vacuum(raw, keep_versions=2)
    rep = vacuum_txn_markers([raw, agg], dry_run=True)
    assert rep["markers_kept"] == 1 and rep["markers_deleted"] == 0

    vacuum(agg, keep_versions=2)
    rep = vacuum_txn_markers([raw, agg])
    assert rep["markers_deleted"] == 1
    assert not os.path.exists(t.marker)

    # resolution survives the marker: inline outcome answers
    assert read_version(spark, raw).count() == 301
    v = t.staged[os.path.abspath(raw)]["version"]
    assert read_version(spark, raw, v).count() == 301
    assert committed_versions(raw)[-1] == v
    assert table_history(raw, limit=1)[0]["atomic_txn"]["outcome"] == (
        "committed"
    )
