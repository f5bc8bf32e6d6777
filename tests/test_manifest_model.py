"""Stateful model-checking of the lakehouse manifest layer.

Random sequences of MERGE / targeted DELETE / compaction / vacuum are
applied to a real on-disk table AND to a trivial in-memory dict model;
a cross-table transaction op (r11) pairs the main table with a sibling
aggregate table — committing or aborting atomically — and both tables
must track their models through every interleaving;
after every operation the live table must equal the model exactly, and
randomly chosen historical versions must time-travel to the model's
recorded snapshot (or fail loudly once vacuum dropped them). Sequence
bugs — a merge leaving a stale file live, compaction dropping rows, a
version pin capturing the wrong file set, vacuum deleting a tombstone
a kept version still references — are exactly the class single-op
tests cannot see.

Three fixed seeds × 8 ops keeps CI bounded; the per-op invariant means
a failure pinpoints the first divergent operation."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_spark.sinks.manifest import (
    append_snapshot,
    compact_log,
    compact_snapshot,
    delete_bulk,
    delete_rows_dv,
    delete_rows_targeted,
    merge_bulk,
    merge_upsert,
    read_version,
    restore_table,
    snapshot_changes,
    snapshot_versions,
    vacuum,
    write_versioned_manifest,
)

N_KEYS = 300
OPS_PER_SEED = 8


def _mk_rows(keys, salt):
    return [(int(k), int((k * 7 + salt) % 1000), f"s{(k + salt) % 13}") for k in keys]


def _live_state(spark, path):
    # the committed snapshot, not the raw directory: a deletion-vector
    # delete leaves the dead rows physically in place by design
    rows = read_version(spark, path).collect()
    return sorted((r.k, r.v, r.s) for r in rows)


def _model_state(model):
    return sorted((k, v, s) for k, (v, s) in model.items())


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_op_sequences_match_reference_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    path = str(tmp_path / "table")

    init = _mk_rows(range(N_KEYS), salt=0)
    df = spark.createDataFrame(init, "k long, v long, s string")
    df.repartitionByRange(6, "k").write.parquet(path)
    write_versioned_manifest(path)

    # sibling aggregate table: touched ONLY by the cross-table
    # transaction op, mirroring the reference's raw+agg pair
    agg_path = str(tmp_path / "agg")
    agg_init = [(k, 0) for k in range(5)]
    spark.createDataFrame(agg_init, "k long, total long").coalesce(
        1
    ).write.parquet(agg_path)
    write_versioned_manifest(agg_path)
    agg_model = dict(agg_init)

    model = {k: (v, s) for k, v, s in init}
    history = {snapshot_versions(path)[-1]: _model_state(model)}
    next_key = N_KEYS
    # named refs (r13): {name: (pinned version, pinned state)} — a tag
    # must survive every vacuum and replay its pinned state exactly
    tags: dict = {}

    for step in range(OPS_PER_SEED):
        op = rng.choice(
            ["merge", "merge", "delete", "compact", "vacuum", "merge_bulk",
             "delete_bulk", "delete_dv", "crash_recover", "append",
             "restore", "compact_log", "txn_pair", "tag"]
        )
        if op == "tag":
            # r13 named refs: pin the head under a new name, or drop a
            # live ref (making its version vacuum-eligible again) —
            # the vacuum branch below asserts the exemption both ways
            from data_pipeline_project_spark.sinks.manifest import (
                drop_tag,
                tag_snapshot,
            )

            if tags and rng.random() < 0.4:
                name = rng.choice(sorted(tags))
                drop_tag(path, name)
                del tags[name]
            else:
                name = f"ref{step}"
                info = tag_snapshot(path, name)
                tags[name] = (info["version"], _model_state(model))
        elif op == "compact_log":
            # metadata-only log rewrite: NO new version, no row change —
            # the live-equality, time-travel, and CDF probes below must
            # all hold on the delta-encoded log
            res = compact_log(
                path,
                keep_full_every=rng.choice([2, 3, 4]),
                keep_recent=rng.choice([1, 2]),
            )
            assert res["log_bytes_after"] <= res["log_bytes_before"], (
                step, res,
            )
        elif op == "restore":
            # rollback-as-commit: the model jumps to the pinned
            # snapshot; directory realignment must leave every other
            # version replayable and later writers unaffected
            v = rng.choice(sorted(history))
            res = restore_table(path, version=v)
            if res["restored"]:
                model = {k: (val, s) for k, val, s in history[v]}
                history[res["version"]] = _model_state(model)
            else:
                assert _model_state(model) == history[v], (step, v)
        elif op == "txn_pair":
            # the reference's raw+agg single transaction: append to the
            # main table + merge to the aggregate table publish
            # atomically (or abort atomically on a drawn failure) —
            # BOTH models must track through either outcome
            import os as _os

            from data_pipeline_project_spark.sinks.txn import transaction

            class _InjectedAbort(RuntimeError):
                pass

            n_ins = rng.randrange(1, 10)
            ins_keys = list(range(next_key, next_key + n_ins))
            next_key += n_ins
            rows = _mk_rows(ins_keys, salt=step + 1)
            agg_rows = [
                (int(rng.randrange(5)), int(100 * step + seed))
            ]
            # r12: half the draws CHAIN a second op on the MAIN table
            # inside the transaction (read-your-own-writes — the merge
            # bases on the just-staged append and updates a mix of the
            # new keys and one pre-existing key)
            chained = rng.random() < 0.5
            chain_rows = []
            if chained:
                upd = sorted(
                    set(
                        rng.sample(
                            ins_keys, min(len(ins_keys), 3)
                        )
                        + [int(rng.randrange(N_KEYS))]
                    )
                )
                chain_rows = _mk_rows(upd, salt=step + 7_001)
            do_abort = rng.random() < 0.4
            t = None
            try:
                with transaction([path, agg_path]) as t:
                    append_snapshot(
                        spark, path,
                        spark.createDataFrame(rows, "k long, v long, s string"),
                    )
                    if chained:
                        merge_upsert(
                            spark, path, "k",
                            spark.createDataFrame(
                                chain_rows, "k long, v long, s string"
                            ),
                        )
                    merge_upsert(
                        spark, agg_path, "k",
                        spark.createDataFrame(agg_rows, "k long, total long"),
                    )
                    if do_abort:
                        raise _InjectedAbort()
            except _InjectedAbort:
                assert t.outcome == "aborted", (step, t.outcome)
            if not do_abort:
                assert t.outcome == "committed", (step, t.outcome)
                for k, v, s in rows:
                    model[k] = (v, s)
                for k, v, s in chain_rows:
                    model[k] = (v, s)  # upsert over append + existing
                for k, tv in agg_rows:
                    agg_model[k] = tv
                history[
                    t.staged[_os.path.abspath(path)]["version"]
                ] = _model_state(model)
            got_agg = sorted(
                (r.k, r.total)
                for r in read_version(spark, agg_path).collect()
            )
            assert got_agg == sorted(agg_model.items()), (
                f"seed {seed}: agg table diverged after step {step} "
                f"(txn_pair, abort={do_abort})"
            )
        elif op == "append":
            # intent-stamped O(added) delta commit — must satisfy the
            # same model / time-travel / CDF invariants as every writer
            n_ins = rng.randrange(1, 15)
            ins_keys = list(range(next_key, next_key + n_ins))
            next_key += n_ins
            rows = _mk_rows(ins_keys, salt=step + 1)
            res = append_snapshot(
                spark, path,
                spark.createDataFrame(rows, "k long, v long, s string"),
                key_col="k" if rng.random() < 0.5 else None,
            )
            assert res["rows_appended"] == n_ins, (step, res)
            for k, v, s in rows:
                model[k] = (v, s)
            history[res["version"]] = _model_state(model)
        elif op in ("merge", "merge_bulk"):
            n_upd = rng.randrange(1, 40)
            n_ins = rng.randrange(0, 20)
            upd_keys = rng.sample(sorted(model), min(n_upd, len(model)))
            ins_keys = list(range(next_key, next_key + n_ins))
            next_key += n_ins
            rows = _mk_rows(upd_keys + ins_keys, salt=step + 1)
            updates = spark.createDataFrame(rows, "k long, v long, s string")
            if op == "merge_bulk":
                # the table-wide shuffle plan must satisfy the SAME
                # model + time-travel + CDF invariants as targeted merge
                res = merge_bulk(spark, path, "k", updates)
            else:
                res = merge_upsert(spark, path, "k", updates)
            assert res["rows_updated"] == len(upd_keys), (step, res)
            assert res["rows_inserted"] == len(ins_keys), (step, res)
            for k, v, s in rows:
                model[k] = (v, s)
            history[res["version"]] = _model_state(model)
        elif op == "delete_dv":
            # merge-on-read delete: same model semantics as the rewrite
            # deletes, different physics (positions in a vector, files
            # untouched) — every downstream invariant (live equality,
            # time travel, CDF, vacuum replay) must hold identically
            present = rng.sample(sorted(model), min(rng.randrange(1, 30), len(model)))
            keys = spark.createDataFrame(
                [(int(k),) for k in present + [10_000 + rng.randrange(1000)]],
                "k long",
            )
            res = delete_rows_dv(spark, path, "k", keys)
            assert res["rows_deleted"] == len(present), (step, res)
            for k in present:
                del model[k]
            history[res["version"]] = _model_state(model)
        elif op in ("delete", "delete_bulk"):
            present = rng.sample(sorted(model), min(rng.randrange(1, 30), len(model)))
            absent = [10_000 + rng.randrange(1000) for _ in range(3)]
            keys = spark.createDataFrame(
                [(int(k),) for k in present + absent], "k long"
            )
            if op == "delete_bulk":
                res = delete_bulk(spark, path, "k", keys)
                assert res["rows_deleted"] == len(present), (step, res)
                for k in present:
                    del model[k]
                history[res["version"]] = _model_state(model)
            else:
                res = delete_rows_targeted(spark, path, "k", keys)
                assert res["rows_deleted"] == len(present), (step, res)
                for k in present:
                    del model[k]
                m = write_versioned_manifest(path)
                history[m["version"]] = _model_state(model)
        elif op == "crash_recover":
            # a writer dies mid-operation: one pinned live file already
            # tombstoned, one uncommitted orphan moved in. Recovery must
            # restore the model state exactly; history is untouched (no
            # new version was committed).
            import os as _os

            from data_pipeline_project_spark.sinks.manifest import (
                REMOVED_DIR,
                _data_files,
                recover_to_last_manifest,
            )

            live = _data_files(path)
            victim = rng.choice(live)
            rel = _os.path.relpath(victim, path)
            tomb = _os.path.join(path, REMOVED_DIR, rel)
            if not _os.path.exists(tomb):  # committed tombstone may pin it
                _os.makedirs(_os.path.dirname(tomb), exist_ok=True)
                _os.replace(victim, tomb)
            spark.createDataFrame(
                _mk_rows([99_000 + step], salt=step), "k long, v long, s string"
            ).coalesce(1).write.mode("append").parquet(path)
            stats = recover_to_last_manifest(path)
            assert stats["quarantined"] >= 1, (step, stats)
            res = compact_snapshot(
                spark, path, small_bytes=1 << 30,
                cluster_col="k" if rng.random() < 0.5 else None,
            )
            if res["files_compacted"]:
                history[snapshot_versions(path)[-1]] = _model_state(model)
        else:
            keep = rng.choice([2, 3])
            vacuum(path, keep_versions=keep)
            kept = snapshot_versions(path)
            history = {v: s for v, s in history.items() if v in kept}
            # vacuum must never break a KEPT version (deleting a
            # tombstone some kept manifest still references is the
            # classic retention bug) — replay every survivor now.
            for v, snap in history.items():
                got = sorted(
                    (r.k, r.v, r.s) for r in read_version(spark, path, v).collect()
                )
                assert got == snap, (
                    f"seed {seed}: kept version {v} broken by vacuum at step {step}"
                )
            # tagged versions are vacuum-EXEMPT (r13): every live ref
            # must survive any retention policy and replay the exact
            # state pinned at tag time
            for name, (tv, snap) in tags.items():
                assert tv in kept, (
                    f"seed {seed}: vacuum dropped tagged v{tv} "
                    f"({name!r}) at step {step}"
                )
                got = sorted(
                    (r.k, r.v, r.s)
                    for r in read_version(spark, path, tag=name).collect()
                )
                assert got == snap, (
                    f"seed {seed}: tag {name!r} replayed wrong state "
                    f"after vacuum at step {step}"
                )

        assert _live_state(spark, path) == _model_state(model), (
            f"seed {seed}: live table diverged from model after step {step} ({op})"
        )

        # time-travel probe: one random pinned version must replay its
        # recorded snapshot; versions vacuum dropped must fail loudly.
        if history and rng.random() < 0.7:
            v = rng.choice(sorted(history))
            got = sorted(
                (r.k, r.v, r.s)
                for r in read_version(spark, path, v).collect()
            )
            assert got == history[v], f"seed {seed}: version {v} replayed wrong state"

        # change-data-feed probe: the insert/delete feed between two
        # pinned versions must equal the model's set difference (keys
        # are unique per state, so multiset == set here). Compaction
        # versions make this non-vacuous: rewritten-but-identical
        # content must cancel in the exceptAll, yielding NO changes.
        if len(history) >= 2 and rng.random() < 0.6:
            v_from, v_to = sorted(rng.sample(sorted(history), 2))
            feed = snapshot_changes(spark, path, v_from, v_to).collect()
            got_ins = sorted((r.k, r.v, r.s) for r in feed if r._change_type == "insert")
            got_del = sorted((r.k, r.v, r.s) for r in feed if r._change_type == "delete")
            s_from, s_to = set(history[v_from]), set(history[v_to])
            assert got_ins == sorted(s_to - s_from), (
                f"seed {seed}: CDF inserts wrong for v{v_from}->v{v_to}"
            )
            assert got_del == sorted(s_from - s_to), (
                f"seed {seed}: CDF deletes wrong for v{v_from}->v{v_to}"
            )

    # post-sequence: release every live ref (a tag would exempt its
    # version — that's the r13 contract, asserted above), then a final
    # vacuum to 1 version — only the newest survives, every earlier
    # version must now refuse to read.
    if tags:
        from data_pipeline_project_spark.sinks.manifest import drop_tag

        for name in list(tags):
            drop_tag(path, name)
    vacuum(path, keep_versions=1)
    versions = snapshot_versions(path)
    assert len(versions) == 1
    assert (
        sorted((r.k, r.v, r.s) for r in read_version(spark, path, versions[0]).collect())
        == _model_state(model)
    )


def test_time_travel_fails_after_vacuum(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(_mk_rows(range(50), 0), "k long, v long, s string") \
        .repartitionByRange(3, "k").write.parquet(path)
    write_versioned_manifest(path)
    v0 = snapshot_versions(path)[-1]
    updates = spark.createDataFrame(_mk_rows(range(10), 9), "k long, v long, s string")
    merge_upsert(spark, path, "k", updates)
    vacuum(path, keep_versions=1)
    with pytest.raises(Exception):
        read_version(spark, path, v0).collect()
