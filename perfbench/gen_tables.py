"""Seeded generator for the query tables.

Writes the ten single-file parquet tables the registered queries read
(``sources.tables.TABLES``): a TPC-H-like star schema, an ``events``
stream table, and the ``documents``/``embeddings`` corpus. Schemas,
key ranges and value distributions follow the synthetic tables the
engine's oracle tests run on; row counts scale with ``sf`` (1.0 =
6M lineitem rows). Every table is one parquet file with one row group,
so single-file scans run as one task, as they do on that data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data spark query table column row key value join hash group "
    "agg sort merge scan filter window stream batch line part order "
    "customer vector small big fast slow"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "red", "small", "large", "hot", "cold", "new", "old")
_PART_NOUN = ("bolt", "gear", "ring", "rod", "plate", "widget", "gizmo", "anvil")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EMBED_DIM = 64
_N_LABELS = 10


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offsets = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offsets, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        # ~5% near duplicates: an earlier document plus a marker token
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, _WORDS, int(rng.integers(8, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (_N_LABELS, _EMBED_DIM))
    labels = rng.integers(0, _N_LABELS, n)
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))

    # 1-7 lines per order, 4 on average
    lines_per_order = rng.integers(1, 8, n_ord)
    n_line = int(lines_per_order.sum())
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    events_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_events
    ).astype("timedelta64[us]")

    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(_pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _dates(rng, "1995-01-01", 2404, n_ord),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(
                    rng.permutation(np.repeat(np.arange(n_ord), lines_per_order)), pa.int64()
                ),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
                "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _dates(rng, "1995-01-01", 2600, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(np.sort(events_ts), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(10, n_events // 66), n_events), pa.int64()),
                "event_type": _pick(rng, _EVENT_TYPES, n_events),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts
