"""Soak the two stateful model checkers beyond their CI seeds.

CI carries 3 seeds each (bounded wall time); this driver runs extra
seeds of the same tests — the lakehouse op-sequence checker
(merge/bulk/delete/delete_dv/compact/vacuum/crash) and the schema
evolution checker (add/widen/rename/drop/rewrite interleavings) —
against fresh temp tables. Zero divergence expected; any failure
pinpoints the first divergent op of a seed.

Usage: python scripts/model_soak.py [n_seeds_each]
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))) + "/tests")


class _TmpPath:
    def __init__(self, base):
        self.base = base

    def __truediv__(self, name):
        class _P(str):
            pass

        return _P(os.path.join(self.base, name))


def main():
    from pyspark.sql import SparkSession

    from tests.test_manifest_model import (
        test_random_op_sequences_match_reference_model as ops_model,
    )
    from tests.test_schema_evolution_model import (
        test_random_evolution_sequences_match_reference_model as evo_model,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .appName("model-soak")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    ran = 0
    for name, fn, base_seed in (
        ("lakehouse-ops", ops_model, 100),
        ("schema-evolution", evo_model, 200),
    ):
        for i in range(n):
            seed = base_seed + i
            work = tempfile.mkdtemp(prefix=f"soak_{name}_{seed}_")
            try:
                fn(spark, _TmpPath(work), seed)
                ran += 1
                print(f"{name} seed {seed}: ok")
            finally:
                shutil.rmtree(work, ignore_errors=True)
    print(f"\nsoak complete: {ran} seeds, zero divergence")
    spark.stop()


if __name__ == "__main__":
    main()
