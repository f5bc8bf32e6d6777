"""NULL keys the testdata never carries: registered queries whose
semantics rest on SQL's NULL rules must match the DuckDB oracle when a
key column does hold NULLs. Each case copies sf0.001, appends NULL-key
rows to one or two tables, and runs the registry's oracle compare."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_project_spark.sources.tables import TABLES
from tests.oracle_harness import check_query

SF = "/root/testdata/sf0.001"


def _sf_with_rows(tmp_path, extra: dict) -> str:
    """sf0.001 with ``extra[table]`` rows (dicts over a copied real row)
    appended; every other table is a symlink to the original."""
    out = tmp_path / "sf"
    out.mkdir()
    for t in TABLES:
        src = os.path.join(SF, f"{t}.parquet")
        if t not in extra:
            os.symlink(src, out / f"{t}.parquet")
            continue
        tbl = pq.read_table(src)
        proto = tbl.slice(0, 1).to_pylist()[0]
        rows = [{**proto, **r} for r in extra[t]]
        add = pa.Table.from_pylist(rows, schema=tbl.schema)
        pq.write_table(pa.concat_tables([tbl, add]), out / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize(
    "name,extra",
    [
        # NULL custkey in both EXCEPT inputs: SQL EXCEPT removes it, a
        # plain equi anti join keeps it
        (
            "set_union_intersect_except",
            {
                "customer": [{"c_custkey": None, "c_mktsegment": "BUILDING"}],
                "orders": [{"o_custkey": None, "o_orderstatus": "F"}],
            },
        ),
        # a priority group whose custkeys are all NULL: COUNT(DISTINCT)
        # emits it with 0, and 0 is within any relative bound
        (
            "approx_distinct_accuracy",
            {
                "orders": [
                    {"o_custkey": None, "o_orderpriority": "6-NULLKEYS"},
                    {"o_custkey": None, "o_orderpriority": "6-NULLKEYS"},
                ],
            },
        ),
    ],
)
def test_null_keys_match_oracle(spark, duck, tmp_path, name, extra):
    problems = check_query(spark, duck, name, _sf_with_rows(tmp_path, extra))
    assert not problems, f"{name}: {problems}"
