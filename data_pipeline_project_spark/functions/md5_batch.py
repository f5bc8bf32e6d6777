"""Batched md5 for the Arrow kernels: one stdlib md5 path.

The corpus kernels (minhash/simhash shingles, positional shingles, CDC
chunk hashes) hash one short string or byte slice per shingle/token.
Each function here hashes a whole batch in one comprehension of
``md5(...).digest()`` calls (no Python int per value), joins the
16-byte digests into one bytes object, and reads the first 8 bytes of
every digest with a single big-endian ``np.frombuffer`` view. Python
workers never import DuckDB for this.

The digest contract is oracle-load-bearing:
``int(md5(utf8).hexdigest()[:15], 16)`` — the top 60 bits of the
digest read big-endian, i.e. ``first_8_bytes >> 4`` (pinned in
tests/test_md5_batch.py, tests/test_text_signals.py and the dedup-tier
oracle rows).

Overlapping shingles are hashed straight from ``memoryview`` slices of
the shared token buffer, so no per-shingle copy of the text bytes is
ever built: a batch holds only its 16-byte digests.
"""

from __future__ import annotations

import numpy as np

try:  # CPython's built-in md5: the digests hashlib.md5 gives, at about
    # half its per-call cost on short inputs (no OpenSSL context set-up)
    from _md5 import md5
except ImportError:  # interpreter built without the built-in module
    from hashlib import md5


def _prefix60(digests: list[bytes]) -> np.ndarray:
    # 16-byte digests back to back: every other big-endian u8 is a
    # digest's first 8 bytes; >> 4 keeps the hexdigest()[:15] bits
    return (np.frombuffer(b"".join(digests), ">u8")[::2] >> 4).astype(np.int64)


def md5_prefix60_strings(strings) -> np.ndarray:
    """``int(md5(s).hexdigest()[:15], 16)`` for every string, as int64."""
    return _prefix60([md5(s.encode()).digest() for s in strings])


def md5_prefix60_slices(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Prefix-60 md5 of ``buf[starts[i] : starts[i]+lens[i]]`` per i.

    ``buf`` is a uint8 array of ASCII bytes (the tokenizer only emits
    [a-z0-9 ]).
    """
    mv = memoryview(buf)
    return _prefix60(
        [md5(mv[s : s + n]).digest() for s, n in zip(starts.tolist(), lens.tolist())]
    )


def md5_hex_strings(strings) -> list[str]:
    """Full 32-char md5 hexdigest per string (CDC chunk hashes)."""
    return [md5(s.encode()).hexdigest() for s in strings]
