"""Deduplication operators for the training-data pipeline surface.

Four tiers, mirroring the standard large-corpus dedup stack:

- exact (hash groupBy) — one shuffle on the content hash;
- n-gram Jaccard — the exact pairwise baseline (quadratic; sampled);
- MinHash + LSH banding — the scale path: candidate generation is a
  bucket join on band keys (near-linear), exact Jaccard verification
  only on candidates;
- SimHash — 60-bit fingerprint per doc via higher-order functions, with
  banded Hamming-distance candidate pairs.

All hashing is the cross-engine md5-prefix bigint (operators/text.py),
so every step is reproducible bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from data_pipeline_project_spark.functions.expr import let
from data_pipeline_project_spark.operators.text import HASH_MOD, tokens

# MinHash permutation parameters: h_i(x) = (A[i]*x + B[i]) mod HASH_MOD.
# Fixed constants (odd multipliers < 2^30 keep products inside int64
# under ANSI mode); identical literals are inlined in the oracle SQL.
MINHASH_A = (
    472882049, 741103597, 282475249, 622729787, 983459867, 338563577,
    885564451, 571685077, 428821393, 646519031, 934030901, 109843943,
    793304573, 264575131, 550290847, 716952361,
)
MINHASH_B = (
    862973737, 178525121, 449467651, 975431119, 524287339, 313758797,
    692939051, 237461459, 814586903, 365178313, 120789517, 587369659,
    908794807, 462157277, 673925161, 296417389,
)
N_PERM = 16
BAND_SIZE = 4  # 16 perms -> 4 bands of 4: catches J>=~0.5 reliably

SIMHASH_BITS = 60  # <64 so 1<<j never overflows signed int64 either engine
SIMHASH_BANDS = 4  # 4x15-bit chunks: pigeonhole catches hamming<=3 exactly


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined). The token array is
    let-bound so tokenization runs once per row, not once per
    element_at reference (higher-order lambdas re-inline and run
    interpreted — see functions/expr.py)."""
    return let(
        tokens(text),
        lambda tk: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(0))),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tk, i + j) for j in range(n)]
                ),
            )
        ),
    )


_SCRATCH: dict = {}


def _scratch(name: str, size: int, dtype):
    """Growable per-process scratch arrays (views of cached buffers)."""
    import numpy as np

    a = _SCRATCH.get(name)
    if a is None or a.size < size:
        a = np.empty(max(int(size * 1.25), 1024), dtype=dtype)
        _SCRATCH[name] = a
    return a[:size]


def _batch_shingle_hashes(texts, n: int, pat, mod: int | None = None):
    """Positional k-shingle hashes for a whole batch, vectorized
    (guide §4.2 / r13 verdict item 3 — no per-shingle Python hashing).

    Per DOC Python does only tokenize + " ".join (the shingle i of a
    space-joined token string is exactly the byte slice from token i's
    start to token i+n-1's end — tokens are ASCII by construction, so
    char offsets are byte offsets). Per SHINGLE everything is one NumPy
    gather + one batched md5 (functions/md5_batch). Digests identical
    to ``int(md5(shingle).hexdigest()[:15], 16)``; the oracle contract
    is untouched.

    Returns ``(counts, flat)``: shingle count per doc (int64 array, doc
    order) and the flat int64 hash array in (doc, position) order.
    """
    import numpy as np
    import pandas as pd

    from data_pipeline_project_spark.functions.md5_batch import md5_prefix60_slices

    ndocs = len(texts)
    counts = np.zeros(ndocs, dtype=np.int64)
    bufparts: list[bytes] = []
    tok_lens: list[int] = []  # token byte lengths, all kept docs flat
    tok_counts: list[int] = []  # tokens per kept doc
    flat_toks: list[str] = []  # tokens flat (n<=3 dedup path)
    for di, t in enumerate(texts):
        toks = [x for x in pat.split(t.lower()) if x] if t else []
        m = len(toks)
        nsh = m - (n - 1)
        if nsh <= 0:
            continue
        counts[di] = nsh
        bufparts.append(" ".join(toks).encode())
        tok_lens.extend(map(len, toks))
        tok_counts.append(m)
        if n <= 3:
            flat_toks.extend(toks)
    if not bufparts:
        return counts, np.empty(0, dtype=np.int64)
    # Global span math (no per-doc numpy calls): in the "all tokens
    # joined by one space" layout, token j starts at c[j-1] where
    # c = cumsum(len+1); the real buffer has no separator BETWEEN docs,
    # so subtract one phantom separator per preceding doc.
    buf = np.frombuffer(b"".join(bufparts), dtype=np.uint8)
    tl = np.fromiter(tok_lens, dtype=np.int64, count=len(tok_lens))
    tc = np.fromiter(tok_counts, dtype=np.int64, count=len(tok_counts))
    base = np.empty(len(tl), dtype=np.int64)
    base[0] = 0
    np.cumsum(tl[:-1] + 1, out=base[1:])
    doc_idx = np.repeat(np.arange(len(tc), dtype=np.int64), tc)
    starts_g = base - doc_idx
    doc_first = np.empty(len(tc), dtype=np.int64)
    doc_first[0] = 0
    np.cumsum(tc[:-1], out=doc_first[1:])
    within = np.arange(len(tl), dtype=np.int64) - doc_first[doc_idx]
    head = np.nonzero(within < np.repeat(tc - (n - 1), tc))[0]  # shingle starts
    S = starts_g[head]
    # shingle from token j spans to the end of token j+n-1 (same doc
    # by construction of `head`)
    L = starts_g[head + (n - 1)] + tl[head + (n - 1)] - S
    # Short shingles (n<=3) repeat heavily across positions and docs
    # (sf0.1: 27k distinct of 260k k=3 shingles — the redundancy the
    # old per-row memo exploited). Hash each DISTINCT shingle once:
    # factorize the token vocabulary (C hash table), pack a shingle's
    # <=3 token codes into one exact int64 key (21 bits each — exact
    # while the batch vocabulary stays under 2^21), unique the keys,
    # hash only first occurrences, scatter back. Within-session
    # interleaved A/B: the hash-every-occurrence form read 1.23x the
    # memoized loop on dedup_minhash_lsh; this form hashes 10x fewer
    # slices than either.
    if n <= 3:
        codes, vocab = pd.factorize(np.asarray(flat_toks, dtype=object))
        if len(vocab) < (1 << 21):
            codes = codes.astype(np.int64)
            keys = codes[head]
            for j in range(1, n):
                keys = (keys << 21) | codes[head + j]
            uniq, first_idx, inverse = np.unique(
                keys, return_index=True, return_inverse=True
            )
            uh = md5_prefix60_slices(buf, S[first_idx], L[first_idx])
            flat = uh[inverse]
            if mod is not None:
                flat = flat % mod
            return counts, flat
    flat = md5_prefix60_slices(buf, S, L)
    if mod is not None:
        flat = flat % mod
    return counts, flat


def _shingle_kernel_factory(n: int):
    import re

    import numpy as np
    import pandas as pd

    pat = re.compile("[^a-z0-9]+")

    def kernel(texts):
        counts, flat = _batch_shingle_hashes(texts, n, pat, mod=HASH_MOD)
        # pd.unique = first-occurrence-order distinct (C hash table) —
        # mirrors list_distinct in the oracle's shingle SQL;
        # ndarray elements avoid per-hash Python int materialization
        return pd.Series(
            [
                pd.unique(part)
                for part in np.split(flat, np.cumsum(counts)[:-1])
            ]
        )

    return kernel


def _signature_kernel_factory(n: int):
    """Shingle hashes AND the 16 minhash values in one kernel pass:
    mh_i = min((A_i*h + B_i) mod P over the shingle set), vectorized as
    an int64 (16, total) matrix op with one segmented min per doc
    (``np.minimum.reduceat``) — exact integer arithmetic, identical to
    the affine-permutation SQL the oracle runs. Products stay under
    2^60 (A_i < 2^30, h < P < 2^30)."""
    import re

    import numpy as np
    import pandas as pd

    pat = re.compile("[^a-z0-9]+")
    A = np.array(MINHASH_A, dtype=np.int64)[:, None]
    B = np.array(MINHASH_B, dtype=np.int64)[:, None]

    def kernel(texts):
        counts, flat = _batch_shingle_hashes(texts, n, pat, mod=HASH_MOD)
        parts = np.split(flat, np.cumsum(counts)[:-1])
        shs = [pd.unique(part) for part in parts]
        dl = np.fromiter((len(s) for s in shs), dtype=np.int64, count=len(shs))
        nz = np.nonzero(dl)[0]
        empty = np.empty(0, dtype=np.int64)
        mhs: list = [empty] * len(shs)
        if len(nz):
            dist = np.concatenate([shs[i] for i in nz])
            # (16, total) affine images; segmented min per doc — exact,
            # order-independent (min over the same value set). The
            # matrix lives in a REUSED scratch buffer with in-place
            # ops: the expression form allocated ~100 MB of fresh
            # temporaries per call, whose page faults stalled the
            # kernel for SECONDS under co-tenant memory pressure
            # (measured 0.4 s -> 3-6 s intermittents; rss flat).
            prod = _scratch("mh_prod", 16 * len(dist), np.int64).reshape(
                16, len(dist)
            )
            np.multiply(A, dist[None, :], out=prod)
            prod += B
            np.mod(prod, HASH_MOD, out=prod)
            offs = np.empty(len(nz), dtype=np.int64)
            offs[0] = 0
            np.cumsum(dl[nz][:-1], out=offs[1:])
            mins = np.minimum.reduceat(prod, offs, axis=1)
            for j, i in enumerate(nz):
                mhs[i] = mins[:, j]
        # struct return type => one DataFrame column per struct field;
        # ndarray cells skip per-value Python int materialization
        return pd.DataFrame({"sh": shs, "mh": mhs})

    return kernel


def _jaccard_scores(a, b) -> list[float]:
    out = []
    for xa, xb in zip(a, b):
        sa, sb = set(xa), set(xb)
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        out.append(round(inter / union, 6) if union else 0.0)
    return out


def jaccard_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: (id_a, id_b,
    sh_a, sh_b) hash-set rows in, (id_a, id_b, jaccard) out for the
    pairs with jaccard >= ``threshold``.

    One mapInPandas pass scores each pair with Python set ops (not the
    interpreted array_intersect/array_union that dominated all-pairs
    verification cost) and drops the failing pairs inside the kernel.
    A Column UDF filtered on its own result would run twice per pair:
    Catalyst pushes the filter below the projection that computes it. len ratios are exact ints -> identical doubles ->
    identical round(.,6) in both engines (round on a double never
    lands on an exact .5 tie at 1e-6, so Python banker's vs SQL
    half-up cannot diverge here)."""
    import numpy as np
    import pandas as pd

    schema = StructType(
        [pairs.schema["id_a"], pairs.schema["id_b"], StructField("jaccard", DoubleType())]
    )

    def verify(frames):
        for f in frames:
            j = np.asarray(_jaccard_scores(f["sh_a"], f["sh_b"]), dtype=np.float64)
            keep = j >= threshold
            yield pd.DataFrame(
                {
                    "id_a": f["id_a"].to_numpy()[keep],
                    "id_b": f["id_b"].to_numpy()[keep],
                    "jaccard": j[keep],
                }
            )

    return pairs.select("id_a", "id_b", "sh_a", "sh_b").mapInPandas(verify, schema)


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Shingle set → bigint hash set (mod HASH_MOD for minhash range).

    Arrow-batched Python kernel, not the expression form: per-shingle
    md5 through interpreted higher-order transforms measured ~1 s per
    pass at 5k docs, while hashlib.md5 (the identical digest) with a
    vocabulary memo runs the batch in tens of ms. Tokenization is the
    same lower → split [^a-z0-9]+ → drop-empties contract as
    operators/text.tokens (ASCII-identical in Java regex, Python re,
    and DuckDB RE2)."""
    from data_pipeline_project_spark.operators.similarity import _udf

    return _udf(f"shingle_hashes_{n}", _shingle_kernel_factory(n), "array<long>")(text)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Plan shape (the part that must survive 100 TB):
    1. one narrow scan computing shingle sets + signatures per doc (no
       shuffle), MATERIALIZED once (persist here; at cluster scale
       you'd write this signature table to storage) — the band
       self-join and both verification joins all consume it, and
       without materialization Spark recomputes the scan subtree once
       per consumer (measured 4x the work);
    2. explode to 4 band rows/doc, shuffle ONCE on (band, band_key) —
       bucket sizes are tiny because random 4-minhash collisions are
       ~(1/J^4)-rare, so the within-bucket self-join never blows up;
    3. distinct candidate pairs (second small shuffle);
    4. verification joins only the candidates back to their shingle
       sets — |candidates| << |pairs|.
    """
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist
    from data_pipeline_project_spark.operators.similarity import _udf

    sig_udf = _udf(
        f"minhash_sig_{n}",
        _signature_kernel_factory(n),
        "struct<sh:array<long>,mh:array<long>>",
    )
    # The empty-set filter goes on the CACHED rows: inside the persisted
    # plan Catalyst would push it below the projection computing the
    # signature UDF and run the kernel twice per doc.
    base = scoped_persist(
        docs.select(F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("s"))
        .select("doc_id", F.col("s.sh").alias("sh"), F.col("s.mh").alias("mh"))
    ).where(F.size("sh") > 0)

    bands = base.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("mh", b * BAND_SIZE + r + 1).cast("string")
                                for r in range(BAND_SIZE)
                            ],
                        ).alias("key"),
                    )
                    for b in range(N_PERM // BAND_SIZE)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")

    left = bands.alias("l")
    right = bands.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .distinct()
    )

    a = base.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return jaccard_pairs(candidates.join(a, "id_a").join(b, "id_b"), threshold)


def _simhash_kernel_factory(bits: int):
    import re

    import numpy as np
    import pandas as pd

    pat = re.compile("[^a-z0-9]+")
    jbits = np.arange(bits, dtype=np.uint64)

    def kernel(texts):
        from data_pipeline_project_spark.functions.md5_batch import (
            md5_prefix60_strings,
        )

        # Per doc: distinct token set (first-occurrence order is
        # irrelevant — the per-bit sums are commutative). Per TOKEN:
        # one batched md5 + one segmented bit-count, no Python loop
        # (guide §4.2 / r13 verdict item 3).
        tok_sets = [
            list(dict.fromkeys(x for x in pat.split(t.lower()) if x)) if t else []
            for t in texts
        ]
        dl = np.fromiter((len(s) for s in tok_sets), dtype=np.int64, count=len(tok_sets))
        out = np.zeros(len(tok_sets), dtype=np.int64)
        nz = np.nonzero(dl)[0]
        if len(nz):
            flat: list[str] = []
            for i in nz:
                flat.extend(tok_sets[i])
            # hash the batch VOCABULARY once (tokens repeat heavily
            # across docs), then scatter back via factorize codes
            codes, vocab = pd.factorize(np.asarray(flat, dtype=object))
            hs = md5_prefix60_strings(vocab.tolist()).astype(np.uint64)[codes]
            # per-doc bit sums via one segmented reduce PER BIT — exact
            # int ops, commutative, identical to the per-doc
            # SUM(CASE...) the oracle runs. Sign trick: sum(2*b - 1)
            # > 0  <=>  ones > ntok/2. The bit loop keeps temporaries
            # to one (ntok,) scratch row — the (ntok, 60) matrix form
            # allocated ~130 MB fresh per call, whose page faults
            # stall for seconds under co-tenant memory pressure.
            offs = np.empty(len(nz), dtype=np.int64)
            offs[0] = 0
            np.cumsum(dl[nz][:-1], out=offs[1:])
            row = _scratch("sh_row", len(hs), np.uint64)
            fp = np.zeros(len(nz), dtype=np.uint64)
            half = dl[nz].astype(np.int64)  # sum(±1) > 0 <=> 2*ones > n
            for j in range(bits):
                np.right_shift(hs, np.uint64(j), out=row)
                np.bitwise_and(row, np.uint64(1), out=row)
                cnt = np.add.reduceat(row, offs)  # (ndocs_nz,)
                fp |= (2 * cnt.astype(np.int64) > half).astype(
                    np.uint64
                ) << np.uint64(j)
            out[nz] = fp.astype(np.int64)
        return pd.Series(out)

    return kernel


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint over the distinct token set: per bit j, sum
    +-1 across token hashes' bit j; bit set iff the sum is positive.

    Arrow-batched numpy kernel (token-hash bit matrix -> column sums):
    the expression form (fold of zip_with over a 60-power array) is
    ~2400 interpreted lambda ops per row; all arithmetic here is exact
    integer work, so kernel and DuckDB oracle agree bit-for-bit."""
    from data_pipeline_project_spark.operators.similarity import _udf

    return _udf(f"simhash_{bits}", _simhash_kernel_factory(bits), "long")(text)


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming: the SimHash
    fingerprint scan fed to :func:`banded_hamming_pairs` (pigeonhole
    over SIMHASH_BANDS chunks, true distance verified with
    bit_count(xor))."""
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    # Persist: both sides of the band self-join consume the fingerprint
    # scan; unmaterialized it is computed twice (simhash is the most
    # expensive per-row expression in the engine).
    fp = scoped_persist(
        docs.select(F.col(id_col).alias("doc_id"), simhash(F.col(text_col)).alias("fp"))
    )
    return banded_hamming_pairs(fp, max_hamming=max_hamming)


# Pair-count gate of connected_components: an edge list of at most this
# many pairs (~32 MB of longs, the driver-memory class of the broadcast
# key sets the targeted-delete path accepts) resolves with driver-side
# union-find; a larger one runs the distributed rounds.
LOCAL_CC_MAX_PAIRS = 2_000_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: (doc_id, cluster_id) where
    cluster_id = min doc id reachable through the pair graph — the
    keeper-selection step of a dedup pipeline. Ids must be integral
    (TypeError otherwise, whatever the input size).

    The pair list is checkpointed and counted. At most
    ``LOCAL_CC_MAX_PAIRS`` pairs resolve with driver-side union-find:
    the verified near-dup pair list is orders of magnitude smaller than
    the corpus (it IS the dedup signal), so it usually fits long after
    the corpus stopped fitting anywhere, and union-find replaces every
    fixed-latency round with one linear pass. A larger list runs
    distributed min-label propagation with pointer jumping
    (:func:`_label_rounds`, the star-contraction family of Kiveris et
    al., SoCC 2014). Both sides give identical labels (pinned in
    tests/test_llmops.py and by the differential fuzzer).
    """
    from pyspark.sql.types import IntegralType

    p = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    for f in p.schema:
        if not isinstance(f.dataType, IntegralType):
            raise TypeError(
                f"connected_components needs integral ids, got {f.dataType.simpleString()}"
            )
    # Materialize the PAIR LIST itself before symmetrizing: the union
    # has two branches over `pairs`, and an unmaterialized expensive
    # subtree (e.g. the full MinHash candidate + verification pipeline)
    # would execute once PER BRANCH — measured ~2x the whole query's
    # cost for dedup_clusters. After the checkpoint the union is a
    # narrow transform over stored blocks.
    p = p.localCheckpoint()
    if p.count() <= LOCAL_CC_MAX_PAIRS:
        return _union_find_labels(p)
    return _label_rounds(p)


def _union_find_labels(p: DataFrame) -> DataFrame:
    """Driver-side union-find over the collected (a, b) pairs."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes: set = set()
    for a, b in p.collect():
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root: the label contract is
            # cluster_id == min reachable id, so the smaller root
            # always wins — no rank heuristic needed (path
            # compression alone keeps this near-linear)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    id_type = p.schema[0].dataType  # labels keep the ids' own type
    return p.sparkSession.createDataFrame(
        [(n, find(n)) for n in sorted(nodes)],
        StructType(
            [
                StructField("doc_id", id_type),
                StructField("cluster_id", id_type),
            ]
        ),
    )


def _label_sum(labels: DataFrame):
    """Sum of the label column as decimal(38,0), so billions of 64-bit
    ids cannot overflow it."""
    return labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]


def _label_rounds(p: DataFrame) -> DataFrame:
    """Distributed min-label propagation with pointer jumping over the
    checkpointed (a, b) pairs.

    Each node starts labeled with the min of itself and its neighbors.
    A round takes the min of a node's label and its neighbors' labels
    (one join on dst + groupBy src), then contracts label <- label[label]
    (one self-join), so path lengths to the component min halve every
    round: O(log diameter) rounds on deep chains, 2-4 on the shallow
    graphs LSH banding emits. Each round is localCheckpointed so round
    N does not replay rounds 1..N-1.

    Labels are integers that never rise (every update is a least()), so
    an unchanged label sum means no label moved and the labels are the
    fixpoint: the loop stops there, after at most diameter + 1 rounds.
    The sum costs one aggregate scan where comparing old and new labels
    would cost a join and a count.
    """
    sym = p.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        p.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("min_nbr"))
        .select("node", F.least("node", "min_nbr").alias("label"))
        .localCheckpoint()
    )
    prev_sum = _label_sum(labels)
    while True:
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # materialized so both sides of the pointer-jump join read one
        # result
        hop = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # label <- label[label]: every label value is itself a node
        # (labels are initialized from node ids), so the self-join
        # always resolves; taking the least keeps monotonicity.
        l2 = hop.select(F.col("node").alias("_jn"), F.col("label").alias("_jl"))
        labels = (
            hop.join(l2, hop.label == l2._jn, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("_jl", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def banded_hamming_pairs(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Generic banded Hamming-neighbor search over ANY precomputed
    bit-fingerprint column (simhash, perceptual image hash, audio
    fingerprint): band the ``bits``-bit fingerprint into ``bands``
    chunks, equi-join on (band, chunk), verify with bit_count(xor).
    Pigeonhole guarantees completeness for distance <= bands - 1;
    callers wanting larger radii raise ``bands`` (recall) at the cost
    of hotter buckets. One shuffle on (band, key), bucket sizes
    bounded by fingerprint entropy; :func:`simhash_near_pairs` is this
    over the SimHash scan."""
    chunk = bits // bands
    bands_df = fp_df.select(
        F.col(id_col).alias("doc_id"),
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(fp_col), b * chunk)
                        .bitwiseAND((1 << chunk) - 1)
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.band", "bk.key")

    left, right = bands_df.alias("l"), bands_df.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp"))).alias("hamming"),
        )
        # filter BEFORE the dedup shuffle (r13): a pair sharing k bands
        # appears k times, so the distinct is required — but hamming is
        # determined by the pair, so filtering first is identical and
        # the exchange carries only true near-pairs instead of every
        # band collision (collisions >> near-pairs at corpus scale).
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
