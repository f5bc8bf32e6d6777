"""Stateful model-checking of schema evolution on the manifest layer.

Random interleavings of MERGE / DELETE / ADD COLUMN / WIDEN / RENAME /
DROP / rewrite_table / compaction / vacuum against a real table AND an
in-memory reference whose columns carry stable internal IDS — the id
survives renames, so the model can render any historical version under
that version's names and project rows across schema changes for the
change-feed oracle. After every op the live table must equal the
model; random historical versions must time-travel to their recorded
(columns, rows); the CDF between two pinned versions must equal the
model's projection diff under the LATER version's columns.

This is the interaction coverage the single-purpose evolution tests
cannot give: a rename followed by compaction followed by a merge, a
drop between two CDF endpoints, vacuum after rewrite_table, etc."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling suites)

from data_pipeline_project_spark.sinks.manifest import (
    compact_snapshot,
    delete_rows_targeted,
    drop_column,
    merge_upsert,
    read_version,
    rename_column,
    rewrite_table,
    snapshot_changes,
    snapshot_versions,
    vacuum,
    write_versioned_manifest,
)

OPS_PER_SEED = 10
N_KEYS = 120


def _render(cols, rows):
    """rows: {key: {col_id: value}} -> set of tuples under ``cols``
    (list of (id, name)); absent values render as None."""
    return {
        tuple(row.get(cid) for cid, _ in cols) for row in rows.values()
    }


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_random_evolution_sequences_match_reference_model(
    spark, tmp_path, seed
):
    rng = random.Random(seed)
    path = str(tmp_path / "t")

    # column identities: (id, name); id 0 is the key, c0 starts INT so
    # a widen op has something to widen
    key_name = "k"
    cols = [(0, "k"), (1, "c0"), (2, "c1")]
    types = {0: "long", 1: "int", 2: "long"}
    next_id, next_name = 3, 2
    dropped_names = set()

    rows = {
        k: {0: k, 1: (k * 3) % 97, 2: (k * 5) % 89} for k in range(N_KEYS)
    }
    spark.createDataFrame(
        [(k, r[1], r[2]) for k, r in rows.items()], "k long, c0 int, c1 long"
    ).repartitionByRange(4, "k").write.parquet(path)
    write_versioned_manifest(path)

    history = {
        snapshot_versions(path)[-1]: (list(cols), {k: dict(r) for k, r in rows.items()})
    }
    next_key = N_KEYS

    def ddl():
        return ", ".join(f"{n} {types[cid]}" for cid, n in cols)

    def make_rows(keys, salt, extra=None):
        out = []
        for k in keys:
            vals = {0: int(k)}
            for cid, _ in cols[1:]:
                vals[cid] = None if (k + salt) % 9 == 0 else int((k * cid + salt) % 101)
            if extra is not None:
                vals[extra] = int((k + salt) % 53)
            out.append(vals)
        return out

    def apply_merge(batch_vals, evolve=False, extra_field=None):
        nonlocal rows
        schema = ddl()
        if extra_field is not None:
            schema += f", {extra_field[1]} {types[extra_field[0]]}"
        data = [
            tuple(v.get(cid) for cid, _ in cols)
            + ((v[extra_field[0]],) if extra_field else ())
            for v in batch_vals
        ]
        res = merge_upsert(
            spark, path, key_name,
            spark.createDataFrame(data, schema),
            schema_evolution=evolve,
        )
        for v in batch_vals:
            rows[v[0]] = {cid: v.get(cid) for cid, _ in cols}
            if extra_field is not None:
                rows[v[0]][extra_field[0]] = v[extra_field[0]]
        return res

    def record():
        history[snapshot_versions(path)[-1]] = (
            list(cols),
            {k: dict(r) for k, r in rows.items()},
        )

    for step in range(OPS_PER_SEED):
        op = rng.choice(
            ["merge", "merge", "delete", "add_col", "widen", "rename_col",
             "drop_col", "rename_key", "rewrite", "compact", "vacuum"]
        )
        if op == "merge":
            upd = rng.sample(sorted(rows), min(rng.randrange(1, 20), len(rows)))
            ins = list(range(next_key, next_key + rng.randrange(0, 8)))
            next_key += len(ins)
            apply_merge(make_rows(upd + ins, salt=step + 1))
            record()
        elif op == "delete":
            present = rng.sample(sorted(rows), min(rng.randrange(1, 15), len(rows)))
            delete_rows_targeted(
                spark, path, key_name,
                spark.createDataFrame([(int(k),) for k in present], f"{key_name} long"),
            )
            for k in present:
                del rows[k]
            write_versioned_manifest(path)
            record()
        elif op == "add_col":
            name = f"c{next_name + 1}"
            next_name += 1
            if name in dropped_names:
                continue  # fresh monotonically — shouldn't happen
            cid = next_id
            next_id += 1
            types[cid] = "long"
            upd = rng.sample(sorted(rows), min(5, len(rows)))
            apply_merge(
                make_rows(upd, salt=step + 1, extra=cid), evolve=True,
                extra_field=(cid, name),
            )
            cols.append((cid, name))
            record()
        elif op == "widen":
            narrow = [cid for cid, _ in cols if types[cid] == "int"]
            if not narrow:
                continue
            cid = narrow[0]
            types[cid] = "long"
            upd = rng.sample(sorted(rows), min(4, len(rows)))
            apply_merge(make_rows(upd, salt=step + 1), evolve=True)
            record()
        elif op == "rename_col":
            candidates = [(cid, n) for cid, n in cols if cid != 0]
            if not candidates:
                continue
            cid, old = rng.choice(candidates)
            new = f"r{next_name + 1}"
            next_name += 1
            rename_column(spark, path, old, new)
            cols[:] = [(c, new if c == cid else n) for c, n in cols]
            record()
        elif op == "drop_col":
            candidates = [(cid, n) for cid, n in cols if cid != 0]
            if len(candidates) < 2:
                continue  # keep at least one value column
            cid, name = rng.choice(candidates)
            drop_column(spark, path, name)
            dropped_names.add(name)
            cols[:] = [(c, n) for c, n in cols if c != cid]
            for r in rows.values():
                r.pop(cid, None)
            record()
        elif op == "rename_key":
            new = f"id{step}"
            rename_column(spark, path, key_name, new)
            cols[:] = [(c, new if c == 0 else n) for c, n in cols]
            old_key = key_name
            key_name = new
            # the guard must fire before materialization...
            with pytest.raises(ValueError, match="pending rename"):
                merge_upsert(
                    spark, path, key_name,
                    spark.createDataFrame(
                        [tuple(rows[next(iter(rows))].get(cid) for cid, _ in cols)],
                        ddl(),
                    ),
                )
            # ...and rewrite_table clears it
            rewrite_table(spark, path, key_name)
            record()
            del old_key
        elif op == "rewrite":
            rewrite_table(spark, path, key_name)
            record()
        elif op == "compact":
            res = compact_snapshot(spark, path, small_bytes=1 << 30)
            if res["files_compacted"]:
                record()
        else:
            vacuum(path, keep_versions=rng.choice([2, 3]))
            kept = set(snapshot_versions(path))
            for v in list(history):
                if v not in kept:
                    del history[v]
            for v, (vcols, vrows) in history.items():
                df = read_version(spark, path, v)
                assert df.columns == [n for _, n in vcols], (seed, step, v)
                got = {tuple(r) for r in df.collect()}
                assert got == _render(vcols, vrows), (
                    f"seed {seed}: kept v{v} broken by vacuum at step {step}"
                )

        # live state == model, columns and values
        live = read_version(spark, path)
        assert live.columns == [n for _, n in cols], (seed, step, op)
        got = {tuple(r) for r in live.collect()}
        assert got == _render(cols, rows), (
            f"seed {seed}: diverged after step {step} ({op})"
        )

        # time-travel probe
        if history and rng.random() < 0.7:
            v = rng.choice(sorted(history))
            vcols, vrows = history[v]
            df = read_version(spark, path, v)
            assert df.columns == [n for _, n in vcols], (seed, step, v)
            assert {tuple(r) for r in df.collect()} == _render(vcols, vrows)

        # CDF probe: diff rendered under the LATER version's columns,
        # rows projected across schema changes by column ID
        if len(history) >= 2 and rng.random() < 0.6:
            v_from, v_to = sorted(rng.sample(sorted(history), 2))
            (fcols, frows), (tcols, trows) = history[v_from], history[v_to]
            feed = snapshot_changes(spark, path, v_from, v_to)
            assert feed.columns[:-1] == [n for _, n in tcols], (seed, v_from, v_to)
            got_ins = {
                tuple(r)[:-1] for r in feed.collect() if r._change_type == "insert"
            }
            got_del = {
                tuple(r)[:-1] for r in feed.collect() if r._change_type == "delete"
            }
            f_proj = {
                tuple(row.get(cid) for cid, _ in tcols) for row in frows.values()
            }
            t_proj = _render(tcols, trows)
            assert got_ins == t_proj - f_proj, (seed, v_from, v_to, "inserts")
            assert got_del == f_proj - t_proj, (seed, v_from, v_to, "deletes")