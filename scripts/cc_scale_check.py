#!/usr/bin/env python
"""Scale check: connected_components' distributed rounds on a pair list
above the union-find gate.

Shape: a forest of deep chains, ``--chains`` paths of ``--length`` nodes
each. Node ids are scrambled by a multiplicative bijection mod the node
count, so a chain's minimum sits anywhere along it. The default forest
has 2,047,500 pairs, more than ``dedup.LOCAL_CC_MAX_PAIRS`` (2M), so the
min-label rounds with pointer jumping run with the gate unpatched. Every
label is checked against a driver-side union-find over the same pairs.
Prints one JSON line: pairs, nodes, components, rounds, wall time.

Run solo: python scripts/cc_scale_check.py [--chains 500] [--length 4096]
(``SPARK_GRAFT_CPUS`` sets the local core count, as for the tests).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_pipeline_project_spark.operators import dedup  # noqa: E402
from data_pipeline_project_spark.session import get_spark  # noqa: E402

SCRAMBLE = 1_000_003  # prime: a bijection mod any node count it does not divide


def expected_labels(n: int, length: int) -> np.ndarray:
    """Component-min label per node id, by union-find over the pairs."""
    i = np.arange(n, dtype=np.int64)
    i = i[i % length < length - 1]
    a, b = ((i * SCRAMBLE) % n).tolist(), (((i + 1) * SCRAMBLE) % n).tolist()
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a, b):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)  # the root is the component min
    return np.fromiter((find(x) for x in range(n)), dtype=np.int64, count=n)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chains", type=int, default=500)
    ap.add_argument("--length", type=int, default=4096)
    args = ap.parse_args()
    n = args.chains * args.length
    if n % SCRAMBLE == 0:
        raise SystemExit(f"node count {n} is a multiple of {SCRAMBLE}")

    spark = get_spark(app_name="cc-scale-check")
    i = F.col("id")
    pairs = (
        spark.range(n)
        .where(i % args.length < args.length - 1)
        .select(
            ((i * SCRAMBLE) % n).alias("id_a"),
            (((i + 1) * SCRAMBLE) % n).alias("id_b"),
        )
    )

    rounds, sums = [], []
    real_rounds, real_sum = dedup._label_rounds, dedup._label_sum
    dedup._label_rounds = lambda p: rounds.append(1) or real_rounds(p)
    dedup._label_sum = lambda lbl: sums.append(1) or real_sum(lbl)
    try:
        t0 = time.perf_counter()
        labels = dedup.connected_components(pairs).toPandas()
        wall = time.perf_counter() - t0
    finally:
        dedup._label_rounds, dedup._label_sum = real_rounds, real_sum

    got = labels.sort_values("doc_id")
    want = expected_labels(n, args.length)
    ok = (
        len(got) == n
        and np.array_equal(got["doc_id"].to_numpy(), np.arange(n))
        and np.array_equal(got["cluster_id"].to_numpy(), want)
    )
    print(
        json.dumps(
            {
                "pairs": args.chains * (args.length - 1),
                "gate": dedup.LOCAL_CC_MAX_PAIRS,
                "nodes": n,
                "components": int(np.unique(want).size),
                "rounds_ran": bool(rounds),
                "rounds": len(sums) - 1,
                "wall_s": round(wall, 2),
                "labels_ok": bool(ok),
            }
        )
    )
    return 0 if ok and rounds else 1


if __name__ == "__main__":
    sys.exit(main())
