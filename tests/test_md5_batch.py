"""functions/md5_batch — the batched-md5 helpers behind the dedup/
corpus Arrow kernels. The digest contract is oracle-load-bearing
(int(md5(utf8).hexdigest()[:15], 16)), so the one hashing path must
agree with hashlib bit-for-bit at every batch size."""

import hashlib
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from data_pipeline_project_spark.functions import md5_batch  # noqa: E402


def _ref60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


EDGE = [
    "",
    "a",
    "hello world",
    "x" * 200,
    "ümlaut STRAßE İstanbul K kelvin",  # multi-byte utf-8
    "tab\tand\nnewline",
    "0" * 55,  # exactly one md5 block after padding
    "0" * 56,  # first length that needs a second block
    "y" * 119,
    "y" * 120,
]


# sizes span one value, a typical kernel batch and a batch above the
# 32,768 values where an earlier version switched hashing engines
SIZES = (1, 50, 40_000)


@pytest.mark.parametrize("n", SIZES)
def test_prefix60_strings_matches_hashlib(n):
    strings = (EDGE + [f"value-{i}-{'p' * (i % 37)}" for i in range(n)])[:n]
    got = md5_batch.md5_prefix60_strings(strings)
    assert got.dtype == np.int64
    assert got.tolist() == [_ref60(s) for s in strings]


@pytest.mark.parametrize("n", SIZES)
def test_prefix60_slices_matches_hashlib(n):
    # a shared ascii buffer with overlapping slices, empty ones included
    base = b"the quick brown fox jumps over the lazy dog 0123456789 " * 300
    buf = np.frombuffer(base, dtype=np.uint8)
    rng = np.random.RandomState(7)
    starts = rng.randint(0, len(base) - 64, size=n).astype(np.int64)
    lens = rng.randint(0, 64, size=n).astype(np.int64)
    got = md5_batch.md5_prefix60_slices(buf, starts, lens)
    assert got.dtype == np.int64
    want = [
        int(hashlib.md5(base[s : s + ln]).hexdigest()[:15], 16)
        for s, ln in zip(starts.tolist(), lens.tolist())
    ]
    assert got.tolist() == want


def test_md5_hex_strings_matches_hashlib():
    for n in SIZES:
        strings = (EDGE + [f"doc {i} body" for i in range(n)])[:n]
        got = md5_batch.md5_hex_strings(strings)
        assert got == [hashlib.md5(s.encode()).hexdigest() for s in strings]


def test_kernels_never_import_duckdb():
    """The md5 kernels and their callers run in Python workers without
    DuckDB: a fresh interpreter importing every caller and calling all
    three functions has no duckdb module loaded."""
    code = """
import sys
import numpy as np
import data_pipeline_project_spark.operators.dedup
import data_pipeline_project_spark.operators.text
import data_pipeline_project_spark.operators.corpus
import data_pipeline_project_spark.streaming.distinct_stream
from data_pipeline_project_spark.functions import md5_batch as m
big = [f"s{i}" for i in range(40_000)]
m.md5_prefix60_strings(big)
m.md5_hex_strings(big)
buf = np.frombuffer(b"abc def " * 10_000, dtype=np.uint8)
m.md5_prefix60_slices(buf, np.arange(40_000, dtype=np.int64), np.full(40_000, 5))
assert "duckdb" not in sys.modules, "duckdb imported"
"""
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=300)


def test_empty_inputs():
    assert md5_batch.md5_prefix60_strings([]).size == 0
    assert md5_batch.md5_hex_strings([]) == []
    buf = np.frombuffer(b"abc", dtype=np.uint8)
    assert md5_batch.md5_prefix60_slices(
        buf, np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    ).size == 0


@pytest.mark.parametrize("n", [3, 6])
def test_batch_shingle_hashes_matches_per_row_form(n):
    import re

    import pyarrow.parquet as pq

    from data_pipeline_project_spark.operators.dedup import (
        _batch_shingle_hashes,
    )

    pat = re.compile("[^a-z0-9]+")
    texts = (
        pq.read_table("/root/testdata/sf0.001/documents.parquet")
        .column("text")
        .to_pylist()
    )
    texts = ["", None, "one two", "a b c d e f g h"] + texts
    counts, flat = _batch_shingle_hashes(texts, n, pat)
    assert int(counts.sum()) == len(flat)
    pos = 0
    for t, c in zip(texts, counts.tolist()):
        toks = [x for x in pat.split(t.lower()) if x] if t else []
        want = [
            _ref60(" ".join(toks[i : i + n]))
            for i in range(max(len(toks) - (n - 1), 0))
        ]
        assert flat[pos : pos + c].tolist() == want
        pos += c
