"""Embedding similarity search (approximate-nearest-neighbor surface).

Baseline: brute-force cosine top-k — a broadcast of the (small) query
set against the (huge) corpus, dot products as JVM array expressions,
per-query top-k via window rank. Linear in corpus size, pleasantly
parallel, no Python in the loop.

Scale path: random-hyperplane LSH — each vector gets a sign-bit bucket
key from dot products with fixed pseudo-random hyperplanes; candidates
are corpus vectors sharing a bucket (or a neighboring probe bucket)
with the query, reranked exactly. Bucketing turns the all-pairs scan
into a bucket join, the standard trade of recall for throughput.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

EMB_DIM = 64
# 8 bits -> 256 buckets. The testdata embeddings are weakly clustered
# (top-5 cosine ~0.3-0.5), where angular LSH needs coarse buckets +
# multiprobe to keep recall: p(bit agrees) ~ 1 - theta/pi ~ 0.67 at
# sim 0.5, so 8 bits with <=2-bit probing recovers ~half the true
# neighbors while scanning ~15% of the corpus. On genuinely clustered
# corpora (the production case) the same machinery gives high recall
# with many more bits; both knobs are parameters.
N_HYPERPLANES = 8


def _mat(series: pd.Series) -> np.ndarray:
    """Arrow list column -> (n, EMB_DIM) float64 matrix. float32 ->
    float64 element casts are exact, matching the expression-side
    transform(x -> cast double)."""
    return np.vstack(series.to_numpy()).astype(np.float64)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot as an explicit per-dimension left fold —
    vectorized ACROSS rows, sequential across dims, so each row's
    summation order (and therefore every IEEE rounding step) is
    identical to the SQL fold `reduce(prepend(0.0, ...), acc+x)` the
    DuckDB oracle runs. np.sum/np.dot would be faster but use pairwise/
    BLAS summation with a different rounding path — close, but not
    hash-identical."""
    acc = a[:, 0] * b[:, 0]
    for i in range(1, a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def _cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    ma, mb = _mat(a), _mat(b)
    sim = _fold_dot(ma, mb) / (np.sqrt(_fold_dot(ma, ma)) * np.sqrt(_fold_dot(mb, mb)))
    return pd.Series(sim)


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (a zero row stays zero)."""
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


# pandas_udf construction parses the return type against the active
# session, so build lazily on first use (module import must not require
# a SparkContext).
_UDF_CACHE: dict[str, object] = {}


def _udf(name: str, kernel, ret: str):
    """The pandas_udf for ``kernel``, built once per ``name``.

    A later call with the same name gets the FIRST call's kernel, so
    this is only for kernels that their name fully determines: a fixed
    function, or a factory whose arguments are all spelled in the name
    (``simhash_{bits}``, ``jl_proj_{k}``). A kernel whose closure holds
    call data (centroids, codebooks, query vectors) is built with
    ``F.pandas_udf`` at each call instead, as :func:`ivf_lists` does."""
    if name not in _UDF_CACHE:
        _UDF_CACHE[name] = F.pandas_udf(kernel, ret)
    return _UDF_CACHE[name]


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity — Arrow-batched numpy kernel. Interpreted
    higher-order folds measured ~0.5us/element-op; an element_at add
    chain codegens into methods too large to JIT well. The vectorized
    fold keeps the exact summation order at ~100x the throughput."""
    return _udf("cosine", _cosine_kernel, "double")(a, b)


def _as_double(col: Column) -> Column:
    # float->double element casts BEFORE any arithmetic: both engines
    # then run identical IEEE double ops in identical order.
    return F.transform(col, lambda x: x.cast("double"))


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """The ranking contract of every top-k search here: from
    (query_id, neighbor_id, qv, cv) candidates, drop the self pair,
    score round(cosine, 6), rank per query by (sim desc, id asc) and
    keep rank <= k."""
    sims = cands.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _lcg(state: int):
    """The module's deterministic 64-bit LCG: the endless stream of raw
    states after ``state``. No numpy RNG state, so every caller's draws
    are identical across runs and engines; each caller keeps its own
    seed and maps a state to its own range."""
    while True:
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        yield state


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the query set, cross-join against the
    corpus, rank per query by (sim desc, id asc). Rounded to 6 decimals
    for cross-engine determinism (left-to-right double summation)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    return _rank_topk(c.crossJoin(F.broadcast(q)), k)


def _hyperplanes(dim: int = EMB_DIM, n: int = N_HYPERPLANES) -> list[list[float]]:
    """Fixed pseudo-random unit-free hyperplanes from the module's LCG,
    each state's top 32 bits mapped to (-1, 1)."""
    states = _lcg(0x2545F4914F6CDD1D)
    return [[((next(states) >> 32) / 2**31) - 1.0 for _ in range(dim)] for _ in range(n)]


def _bucket_kernel(vecs: pd.Series) -> pd.Series:
    if len(vecs) == 0:
        return pd.Series([], dtype="int64")
    planes = _hyperplanes()
    m = _mat(vecs)
    bucket = np.zeros(len(m), dtype=np.int64)
    for i, plane in enumerate(planes):
        dot = _fold_dot(m, np.broadcast_to(np.asarray(plane), m.shape))
        bucket |= (dot > 0).astype(np.int64) << i
    return pd.Series(bucket)


def lsh_bucket(vec: Column) -> Column:
    """Sign-bit bucket id: bit i = (vec . plane_i) > 0 — the same
    Arrow-batched fold kernel as cosine(), so bucket assignment is
    bit-identical to the oracle's SQL re-derivation."""
    return _udf("bucket", _bucket_kernel, "long")(vec)


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the vector-space tier of the
    dedup stack (operators/dedup.py has the text tiers).

    Candidates are pairs sharing an LSH bucket under 1-bit multiprobe
    (left side explodes to 9 probe keys, right side keeps its exact
    bucket), verified with the exact cosine. The bucket join replaces
    the quadratic all-pairs scan: at 100 TB the per-bucket self-join
    is the only superlinear piece and bucket count (2^N_HYPERPLANES)
    is a direct knob on its size. Recall is that of the probe radius —
    the oracle replicates the identical bucketing, so correctness
    checks are exact even though the candidate set is approximate.
    """
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    # Persist: both join sides consume the bucketed scan; the 8
    # hyperplane dot products per row are the expensive part and would
    # otherwise run once per consumer.
    base = scoped_persist(
        emb.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("bucket0", lsh_bucket(F.col("v")))
    )

    masks = [0] + [1 << i for i in range(N_HYPERPLANES)]
    left = base.select(
        F.col("vid").alias("id_a"),
        F.col("v").alias("va"),
        F.explode(
            F.array(*[F.col("bucket0").bitwiseXOR(F.lit(m).cast("long")) for m in masks])
        ).alias("bucket"),
    )
    right = base.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("bucket0").alias("bucket")
    )
    # No distinct: the right side keeps its single exact bucket and the
    # left side's 9 probe keys (bucket0 ^ distinct masks) are distinct
    # values, so an (id_a, id_b) pair joins at most once — and the
    # mirrored (id_b, id_a) orientation is cut by the id_a < id_b
    # filter. The dedup was a no-op costing the query's widest shuffle
    # (every scored candidate pair) — removed (r13).
    return cosine_pairs(
        left.join(right, "bucket").where(F.col("id_a") < F.col("id_b")), threshold
    )


def cosine_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verification of candidate pairs: (id_a, id_b, va,
    vb) double-vector rows in, (id_a, id_b, cosine_sim) out for the
    pairs with ``round(cosine, 6) >= threshold``.

    One mapInPandas pass scores each pair (the _cosine_kernel fold) and
    drops, inside the kernel, every pair whose raw score is more than
    1e-6 below the threshold; rounding moves a score by at most 5e-7,
    so no passing pair is lost. Spark then applies round(., 6) and the
    threshold itself, so the rounding is Spark's. A Column UDF filtered
    on its own result would run twice per pair: Catalyst pushes the
    filter below the projection that computes it. A NaN score (zero
    vector) is kept: Spark orders NaN above every number."""
    schema = StructType(
        [pairs.schema["id_a"], pairs.schema["id_b"], StructField("cosine_sim", DoubleType())]
    )
    floor = threshold - 1e-6

    def score(frames):
        for f in frames:
            sim = _cosine_kernel(f["va"], f["vb"]).to_numpy(dtype=np.float64)
            keep = ~(sim < floor)
            yield pd.DataFrame(
                {
                    "id_a": f["id_a"].to_numpy()[keep],
                    "id_b": f["id_b"].to_numpy()[keep],
                    "cosine_sim": sim[keep],
                }
            )

    raw = pairs.select("id_a", "id_b", "va", "vb").mapInPandas(score, schema)
    return raw.withColumn("cosine_sim", F.round("cosine_sim", 6)).where(
        F.col("cosine_sim") >= threshold
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_bits: int = 2,
) -> DataFrame:
    """ANN top-k: join query buckets (plus probe buckets within
    Hamming distance ``n_probe_bits`` for recall) to corpus buckets,
    rerank candidates exactly. Bucket count 2^N_HYPERPLANES bounds the
    candidate set; multiprobe trades compute for recall without
    rebucketing the corpus."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("bucket", lsh_bucket(F.col("cv")))

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("bucket0", lsh_bucket(F.col("qv")))
    masks = [0]
    if n_probe_bits >= 1:
        masks += [1 << i for i in range(N_HYPERPLANES)]
    if n_probe_bits >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(N_HYPERPLANES)
            for j in range(i + 1, N_HYPERPLANES)
        ]
    if n_probe_bits >= 3:
        masks += [
            (1 << i) | (1 << j) | (1 << k2)
            for i in range(N_HYPERPLANES)
            for j in range(i + 1, N_HYPERPLANES)
            for k2 in range(j + 1, N_HYPERPLANES)
        ]
    probes = [F.col("bucket0").bitwiseXOR(F.lit(m).cast("long")) for m in masks]
    q = q.withColumn("bucket", F.explode(F.array(*probes)))

    # No distinct: a corpus row has exactly ONE bucket and the probe
    # masks are distinct, so bucket0 ^ mask enumerates distinct probe
    # buckets — each (query, neighbor) pair matches at most once and a
    # dedup would only re-shuffle every scored candidate (r13).
    return _rank_topk(c.join(F.broadcast(q), "bucket"), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the data-adaptive alternative to the fixed
# random-hyperplane LSH above. Centroids learned from the data put
# bucket boundaries where the vectors actually are, so at equal
# candidate budget IVF recall beats LSH on clustered corpora (the
# production case for embedding stores; faiss's IndexIVFFlat is the
# canonical shape).
# ---------------------------------------------------------------------------


def _training_sample(
    corpus: DataFrame, vec_col: str, id_col: str, sample_size: int
) -> np.ndarray:
    """The bounded, deterministic training sample every trainer here
    uses: at most ``sample_size`` vectors, chosen by a hash-order rank
    over ids (uniform, reproducible, independent of partitioning),
    collected and L2-normalised driver-side."""
    sample = (
        corpus.select(_as_double(F.col(vec_col)).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample_size)
        .select("v")
    )
    return _unit_rows(np.vstack([r["v"] for r in sample.collect()]).astype(np.float64))


def train_ivf_centroids(
    corpus: DataFrame,
    n_list: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Spherical k-means centroids from a bounded, deterministic sample.

    Scale: training collects at most ``sample_size`` vectors — chosen
    by a hash-order rank over ids, so the sample is uniform,
    reproducible, and independent of partitioning — then runs Lloyd
    iterations driver-side in numpy. O(sample * iters * n_list) work on
    ~1 MB of data regardless of corpus size; this mirrors how IVF
    indexes are trained in practice (sample -> train -> assign the full
    corpus in one linear pass).
    """
    x = _training_sample(corpus, vec_col, id_col, sample_size)

    # k-means++ seeding with the module's deterministic LCG
    u = ((s >> 11) / float(1 << 53) for s in _lcg(0x9E3779B97F4A7C15))
    cents = [x[int(next(u) * len(x))]]
    for _ in range(1, n_list):
        d2 = np.min(
            [1.0 - x @ c for c in cents], axis=0
        )  # angular distance proxy on unit vectors
        d2 = np.maximum(d2, 0)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(x), 1.0 / len(x))
        cents.append(x[int(np.searchsorted(np.cumsum(probs), next(u)))])
    c = np.vstack(cents)

    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(n_list):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                c[j] = m / max(np.linalg.norm(m), 1e-12)
    return c.tolist()


def _ivf_assign_kernel_factory(centroids: list[list[float]], n_probe: int):
    cmat = np.asarray(centroids, dtype=np.float64)

    def kernel(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        sims = _unit_rows(_mat(vecs)) @ cmat.T
        # top-n_probe centroid ids per row, best first
        idx = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(list(idx.astype(np.int64)))

    return kernel


def ivf_lists(vec: Column, centroids: list[list[float]], n_probe: int = 1) -> Column:
    """``array<bigint>`` of the ``n_probe`` nearest centroid ids for
    each vector (Arrow-batched argmax over the broadcast centroid
    matrix — the matrix rides into the kernel closure, ~n_list*dim
    doubles, a few KB). ``n_probe=1`` is the corpus-side assignment;
    queries pass ``n_probe>1`` to probe neighboring lists."""
    kernel = _ivf_assign_kernel_factory(centroids, n_probe)
    return F.pandas_udf(kernel, "array<bigint>")(_as_double(vec))


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_list: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest-centroid
    list; each query probes its ``n_probe`` nearest lists; candidates
    are reranked with the exact cosine.

    Scale: one linear assignment pass over the corpus (Arrow kernel,
    no shuffle), then an equi-join on ``list_id`` — the candidate set
    per query is ~n_probe/n_list of the corpus, a direct recall/cost
    knob. The list table is the thing a real deployment would persist
    and reuse across query batches; here it is derived inline so the
    operator stays a pure DataFrame transform.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_list=n_list, vec_col=vec_col, id_col=id_col
        )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("list_id", F.element_at(ivf_lists(F.col("cv"), centroids, 1), 1))

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("list_id", F.explode(ivf_lists(F.col("qv"), centroids, n_probe)))

    # No distinct: each corpus row carries exactly ONE list_id and a
    # query's n_probe probe lists are distinct centroid ids (argsort
    # indices), so a (query, neighbor) pair can match the equi-join at
    # most once — a dedup here would be a no-op that costs a full
    # shuffle of every scored candidate (r13: removed; was the largest
    # exchange in the query).
    return _rank_topk(c.join(F.broadcast(q), "list_id"), k)


# ---- persisted IVF index ---------------------------------------------------

def _write_centroids(spark: SparkSession, path: str, centroids: list[list[float]]) -> None:
    """The index's parquet centroid sidecar, ``{path}/centroids``."""
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _read_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    """The centroids :func:`_write_centroids` stored, in id order."""
    return [
        r.centroid
        for r in spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    ]


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_list: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF index ``ivf_cosine_topk`` derives inline:
    one linear Arrow assignment pass over the corpus, written as a
    ``list_id=k/`` partitioned table plus a parquet centroid sidecar.
    Build once, serve many — the corpus is never rescanned or
    re-assigned at query time, and the partition layout is what makes
    query-time probing a PRUNED scan (only the probed lists' files are
    read). At 100 TB this is the difference between an ANN query
    costing n_probe/n_list of the corpus and costing a full scan.

    Returns the centroids (trained here if not supplied) so callers
    composing build+query in one session skip the sidecar read.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_list=n_list, vec_col=vec_col, id_col=id_col
        )
    spark = corpus.sparkSession
    assigned = corpus.select(F.col(id_col), F.col(vec_col)).withColumn(
        "list_id", F.element_at(ivf_lists(F.col(vec_col), centroids, 1), 1)
    )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/lists"
    )
    _write_centroids(spark, path, centroids)
    return centroids


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve ANN top-k from a ``build_ivf_index`` table. The probed
    list ids are collected driver-side (bounded by n_list — a few
    dozen ints) and pushed as a partition filter, so the scan touches
    ONLY the probed lists' files; candidates rerank with the exact
    cosine. Identical ranking contract to ``ivf_cosine_topk`` (round-6
    cosine, id tiebreak), so the two are interchangeable — pinned by
    tests/test_ann_index.py."""
    cents = _read_centroids(spark, path)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("list_id", F.explode(ivf_lists(F.col("qv"), cents, n_probe)))
    # Bounded collect (<= n_list ids): the prune list must be a LITERAL
    # to reach the partition filter — a join would scan every list.
    probed = sorted(r.list_id for r in q.select("list_id").distinct().collect())
    c = (
        spark.read.parquet(f"{path}/lists")
        .where(F.col("list_id").isin(probed))
        .select(
            F.col("list_id"),
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
    )
    # No distinct — same argument as ivf_cosine_topk: one list per
    # corpus row, distinct probe ids per query, so the join emits each
    # (query, neighbor) pair at most once (r13).
    return _rank_topk(c.join(F.broadcast(q), "list_id"), k)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    deduplicate ONLY within clusters — the practical recipe for
    semantic near-dup removal at corpus scale, where a global pairwise
    pass is quadratic but k-means cells bound each pairwise block.

    A vector is ``is_removed`` when a SMALLER-id vector in its cluster
    has cosine similarity >= ``threshold`` — a deterministic,
    iteration-free keep-one rule (the kept representative of every
    duplicate clique is its minimum id; chains may remove extra
    members, which for dedup only errs toward fewer duplicates kept).

    Scale: centroids train on a bounded sample
    (:func:`train_ivf_centroids`); assignment is one Arrow-batched
    linear pass; the self-join shuffles on cluster id, so work is
    sum(|cell|^2) — operators choose ``n_clusters`` proportional to
    corpus size to hold cell width constant (SemDeDup used 50k cells
    for LAION). Returns (id, cluster_id, is_removed, n_lower_dups).
    """
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    cents = centroids or train_ivf_centroids(
        corpus, n_list=n_clusters, vec_col=vec_col, id_col=id_col
    )
    assigned = scoped_persist(
        corpus.select(
            F.col(id_col).alias("_sd_id"),
            _as_double(F.col(vec_col)).alias("_sd_v"),
            F.element_at(ivf_lists(F.col(vec_col), cents, 1), 1).alias("cluster_id"),
        )
    )
    a = assigned.select(
        F.col("_sd_id").alias("_id_a"), F.col("_sd_v").alias("_v_a"), "cluster_id"
    )
    b = assigned.select(
        F.col("_sd_id").alias("_id_b"), F.col("_sd_v").alias("_v_b"), "cluster_id"
    )
    dup_counts = (
        a.join(b, "cluster_id")
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(cosine(F.col("_v_a"), F.col("_v_b")) >= threshold)
        .groupBy(F.col("_id_b").alias("_sd_id"))
        .agg(F.count(F.lit(1)).alias("n_lower_dups"))
    )
    return (
        assigned.join(dup_counts, "_sd_id", "left")
        .select(
            F.col("_sd_id").alias(id_col),
            "cluster_id",
            F.coalesce(F.col("n_lower_dups"), F.lit(0)).alias("n_lower_dups"),
            (F.coalesce(F.col("n_lower_dups"), F.lit(0)) > 0).alias("is_removed"),
        )
    )


def _jl_sign_matrix(d: int, k: int) -> "np.ndarray":
    """Deterministic +-1 projection matrix: sign(i, j) from
    md5('jl:<i>:<j>') (1-based, the exact formula the DuckDB oracle
    evaluates in SQL), so the projection is reproducible across runs,
    engines, and cluster sizes without shipping a matrix artifact.
    d*k md5 calls — microseconds for any practical k."""
    import hashlib

    m = np.empty((d, k), dtype=np.float64)
    for i in range(1, d + 1):
        for j in range(1, k + 1):
            h = int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:15], 16)
            m[i - 1, j - 1] = 1.0 if h % 2 == 0 else -1.0
    return m


def _jl_kernel_factory(k: int):
    signs: dict[int, np.ndarray] = {}  # sign matrix per input dimension

    def kernel(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        sign = signs.get(m.shape[1])
        if sign is None:
            sign = signs[m.shape[1]] = _jl_sign_matrix(m.shape[1], k)
        acc = np.zeros((m.shape[0], k), dtype=np.float64)
        for i in range(m.shape[1]):  # sequential over dims = SQL fold order
            acc = acc + m[:, i : i + 1] * sign[i]
        out = acc / np.sqrt(float(k))
        return pd.Series([row for row in out])

    return kernel


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    id_col: str = "vec_id",
    out_col: str = "proj",
) -> DataFrame:
    """Johnson-Lindenstrauss embedding compression: project D-dim
    vectors onto k dims with a deterministic +-1 sign matrix, scaled by
    1/sqrt(k) (Achlioptas 2001 — the database-friendly JL transform:
    pairwise distances are preserved within (1 +- eps) w.h.p., so ANN
    candidate generation can run on 4x-smaller vectors and rerank on
    the originals). Composes with build_ivf_index/cosine_topk.

    Scale: one narrow scan, zero shuffles, and no Spark job at plan
    build. The kernel builds the sign matrix for the length of the
    vectors it sees (D*k md5 calls, once per dimension per kernel
    instance) and folds input dims SEQUENTIALLY (vectorized across
    rows) so every IEEE rounding step matches the oracle's list_sum
    order — same trick as _fold_dot. Returns (id, out_col
    array<double>) UNROUNDED; callers round for cross-engine hashing.
    """
    return df.select(
        id_col,
        _udf(f"jl_proj_{k}", _jl_kernel_factory(k), "array<double>")(
            _as_double(F.col(vec_col))
        ).alias(out_col),
    )


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental index maintenance: assign NEW vectors to the
    EXISTING centroids and append them to their list partitions — one
    Arrow assignment pass over the batch and an append write into the
    touched ``list_id=k/`` directories, never a retrain or corpus
    rescan. Centroids drift as the distribution drifts; rebuild on a
    cadence (or when :func:`plans.llmops_queries.distribution_drift_psi`
    alarms), append between rebuilds — the standard serving pattern.

    The index holds ONE list row per non-NULL id (query_ivf_index's
    candidate join emits each (query, neighbor) pair at most once
    because of it), so a NULL id (no query could return it: the self
    filter ``query_id != neighbor_id`` is NULL) is not appended, a
    repeated id in the batch is appended once, and an id already in
    the index is not appended again (a null-safe anti join). That join
    reads the index's ``vec_id`` column across every list: a
    column-pruned scan of 8 bytes per indexed vector, the one cost
    here that grows with the index rather than the batch. Returns the
    number of vectors appended.

    Append visibility relies on the reader listing files at query time
    (query_ivf_index reads the directory per query) — a pinned
    :mod:`sinks.manifest` snapshot deliberately would NOT see appends.
    """
    spark = new_vectors.sparkSession
    cents = _read_centroids(spark, path)
    indexed = spark.read.parquet(f"{path}/lists").select(F.col(id_col).alias("_indexed"))
    fresh = (
        new_vectors.select(F.col(id_col), F.col(vec_col))
        .where(F.col(id_col).isNotNull())
        .dropDuplicates([id_col])
        .join(indexed, F.col(id_col).eqNullSafe(F.col("_indexed")), "left_anti")
    )
    assigned = fresh.withColumn(
        "list_id", F.element_at(ivf_lists(F.col(vec_col), cents, 1), 1)
    )
    n = assigned.count()
    if n:
        assigned.write.mode("append").partitionBy("list_id").parquet(f"{path}/lists")
    return n


# ---- product quantization (PQ) ---------------------------------------------

def _subspace_codebooks(x: np.ndarray, m: int, n_codes: int, iters: int, seed: int) -> list:
    """Per-subspace L2 k-means: each row of ``x`` splits into ``m``
    subvectors and each subspace gets ``n_codes`` centers, k-means++
    seeded from the module's LCG at ``seed``, then ``iters`` Lloyd
    steps. Plain and residual PQ are this trainer on different inputs
    (Jégou et al., TPAMI 2011). Returns an (m, n_codes, d/m) nested
    list."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    u = ((s >> 11) / float(1 << 53) for s in _lcg(seed))
    books = []
    for j in range(m):
        xs = np.ascontiguousarray(x[:, j * dsub : (j + 1) * dsub])
        cents = [xs[int(next(u) * len(xs))]]
        for _ in range(1, n_codes):
            d2 = np.min([((xs - c) ** 2).sum(axis=1) for c in cents], axis=0)
            tot = d2.sum()
            probs = d2 / tot if tot > 0 else np.full(len(xs), 1.0 / len(xs))
            cents.append(xs[int(np.searchsorted(np.cumsum(probs), next(u)))])
        c = np.vstack(cents)
        for _ in range(iters):
            dist = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(dist, axis=1)
            for q in range(n_codes):
                members = xs[assign == q]
                if len(members):
                    c[q] = members.mean(axis=0)
        books.append(c.tolist())
    return books


def _pq_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(B, m) code words: per subspace, the nearest of the (m, n_codes,
    dsub) ``books`` centers to each row's subvector."""
    m, _n_codes, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int64)
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        # (B, n_codes) squared distances to this subspace's codebook
        d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def _adc_lut(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(m, n_codes) lookup table of squared distances from each
    subvector of the full-precision ``q`` to its subspace's centers:
    scoring a code word against ``q`` is then m lookups."""
    m, _n_codes, dsub = books.shape
    return np.stack(
        [((books[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1) for j in range(m)]
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    iters: int = 12,
) -> list:
    """Product-quantization codebooks (Jégou et al. 2011 — the FAISS
    compression tier beyond int8/JL): the L2-normalized vector is split
    into ``m`` subvectors and each subspace gets its own ``n_codes``
    k-means codebook, so a d-dim float vector compresses to m code
    bytes (m * log2(n_codes) bits) while asymmetric-distance search
    stays accurate. Trained like the IVF centroids: bounded
    hash-order-deterministic sample, driver-side Lloyd on ~1 MB
    regardless of corpus size, LCG-seeded k-means++ — identical
    codebooks on any cluster/partitioning. Returns an (m, n_codes,
    d/m) nested list."""
    x = _training_sample(corpus, vec_col, id_col, sample_size)
    return _subspace_codebooks(x, m, n_codes, iters, seed=0x51ED2701A63C1D1F)


def _pq_encode_kernel_factory(codebooks: list):
    books = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)

    def kernel(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        codes = _pq_codes(_unit_rows(_mat(vecs)), books)
        return pd.Series([row.tolist() for row in codes])

    return kernel


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Attach the PQ code word (array<int>, length m) — a pure Arrow
    kernel projection, no shuffle; the compressed column is what a
    100 TB ANN serving layer stores and scans instead of raw floats
    (64-dim float32 -> 8 bytes here: 32x)."""
    k = F.pandas_udf(_pq_encode_kernel_factory(codebooks), "array<int>")
    return df.withColumn(out_col, k(F.col(vec_col)))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays FULL PRECISION
    and each subspace's distances to the query build a (m, n_codes)
    lookup table, so scoring a database vector is m table lookups on
    its code word — no float vector is read at scan time. The query
    set is collected and closed over by the Arrow kernel (bounded, the
    same contract as cosine_topk's broadcast); the corpus side streams
    through the kernel and a per-query window rank keeps k. On unit
    vectors L2² = 2 - 2·cos, so ADC ranking approximates cosine
    ranking; rerank the shortlist with exact cosine when recall
    matters (pq_topk_reranked in the tests does exactly that)."""
    qrows = queries.select(id_col, _as_double(F.col(vec_col)).alias("v")).collect()
    books = np.asarray(codebooks, dtype=np.float64)
    m = books.shape[0]
    q_ids = [r[id_col] for r in qrows]
    qmat = _unit_rows(np.vstack([r["v"] for r in qrows]).astype(np.float64))
    luts = np.stack([_adc_lut(q, books) for q in qmat])  # (Q, m, n_codes)

    def kernel(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="object")
        cm = np.vstack([np.asarray(c, dtype=np.int64) for c in codes])  # (B, m)
        # vectorized gather: acc[b, q] = sum_j luts[q, j, cm[b, j]]
        acc = np.zeros((cm.shape[0], luts.shape[0]), dtype=np.float64)
        for j in range(m):  # m is small (8); each step is a full-batch gather
            acc += luts[:, j, cm[:, j]].T
        return pd.Series([row.tolist() for row in acc])

    kd = F.pandas_udf(kernel, "array<double>")
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), kd(F.col(code_col)).alias("_d")
    ).select(
        "neighbor_id",
        F.posexplode("_d").alias("_qi", "approx_dist"),
    )
    qmap = F.array(*[F.lit(i) for i in q_ids])
    w = Window.partitionBy("_qi").orderBy("approx_dist", "neighbor_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select(
            F.element_at(qmap, F.col("_qi") + 1).alias("query_id"),
            "neighbor_id",
            F.round("approx_dist", 6).alias("approx_dist"),
        )
    )


# ---- IVF + residual PQ (the composed FAISS-style index) ---------------------

def _residual_pq_codebooks(
    corpus: DataFrame,
    centroids: list,
    m: int,
    n_codes: int,
    vec_col: str,
    id_col: str,
    sample_size: int = 4096,
    iters: int = 12,
) -> list:
    """PQ codebooks trained on RESIDUALS (vector minus its assigned
    centroid) — classic IVFPQ: residuals concentrate near the origin,
    so the same code budget quantizes them far more accurately than
    raw vectors. Bounded deterministic sample, driver-side Lloyd."""
    cmat = np.asarray(centroids, dtype=np.float64)
    x = _training_sample(corpus, vec_col, id_col, sample_size)
    resid = x - cmat[np.argmax(x @ cmat.T, axis=1)]
    return _subspace_codebooks(resid, m, n_codes, iters, seed=0x2545F4914F6CDD1D)


def _ivfpq_encode_kernel_factory(cmat: np.ndarray, bmat: np.ndarray):
    def kernel(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        x = _unit_rows(_mat(vecs))
        assign = np.argmax(x @ cmat.T, axis=1)
        out = np.column_stack([assign, _pq_codes(x - cmat[assign], bmat)])
        return pd.Series([row.tolist() for row in out])

    return kernel


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_list: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list, list]:
    """The composed FAISS-style index: IVF partitioning for PRUNING
    (only probed lists' files are read) + residual product quantization
    for COMPRESSION (the ADC pass reads m code bytes per vector, never
    a float vector — column pruning keeps the raw column, stored beside
    the codes for the rerank stage, out of the ADC scan). One Arrow
    assignment+encode pass over the corpus; centroids and codebooks
    land in parquet sidecars so serving needs no retraining. Returns
    (centroids, codebooks)."""
    spark = corpus.sparkSession
    centroids = train_ivf_centroids(
        corpus, n_list=n_list, vec_col=vec_col, id_col=id_col
    )
    books = _residual_pq_codebooks(
        corpus, centroids, m, n_codes, vec_col, id_col
    )
    bmat = np.asarray(books, dtype=np.float64)
    ek = F.pandas_udf(
        _ivfpq_encode_kernel_factory(np.asarray(centroids, dtype=np.float64), bmat),
        "array<bigint>",
    )
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), ek(F.col(vec_col)).alias("_lc")
    ).select(
        id_col,
        vec_col,
        F.element_at("_lc", 1).cast("int").alias("list_id"),
        F.slice("_lc", 2, m).alias("pq_codes"),
    )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/lists")
    _write_centroids(spark, path, centroids)
    spark.createDataFrame(
        [(j, q, bmat[j][q].tolist()) for j in range(m) for q in range(n_codes)],
        "subspace int, code int, center array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    return centroids, books


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage IVFPQ serving: (1) ADC over the probed lists' code
    words — per (query, probed list) the residual query builds an
    (m, n_codes) LUT, scoring a candidate costs m gathers; (2) exact
    cosine rerank of the per-query ``shortlist`` using the raw vectors
    (read only for shortlist rows' partitions; the ADC scan itself
    never touches the float column — ReadSchema shows codes only).
    Same ranking contract as query_ivf_index (round-6 cosine, id
    tiebreak, self excluded)."""
    cmat = np.asarray(_read_centroids(spark, path), dtype=np.float64)
    cb = spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    m = 1 + max(r.subspace for r in cb)
    n_codes = 1 + max(r.code for r in cb)
    bmat = np.zeros((m, n_codes, len(cb[0].center)))
    for r in cb:
        bmat[r.subspace][r.code] = r.center

    qrows = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).collect()
    q_ids = [r.query_id for r in qrows]
    qmat = _unit_rows(np.vstack([r.qv for r in qrows]).astype(np.float64))
    # per query: the n_probe nearest centroids
    order = np.argsort(-(qmat @ cmat.T), axis=1)[:, :n_probe]
    probed = sorted({int(l) for row in order for l in row})
    # LUTs per (query, list): residual q - c_l per subspace vs codebook
    lut = {
        (qi, int(l)): _adc_lut(qmat[qi] - cmat[int(l)], bmat)
        for qi, row in enumerate(order)
        for l in row
    }

    n_q = len(q_ids)

    def adc_kernel(list_ids: pd.Series, codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="object")
        cm = np.vstack([np.asarray(c, dtype=np.int64) for c in codes])
        lids = list_ids.to_numpy()
        out = np.full((len(cm), n_q), np.inf)
        for (qi, l), table in lut.items():
            mask = lids == l
            if not mask.any():
                continue
            sub = cm[mask]
            acc = np.zeros(sub.shape[0])
            for j in range(m):
                acc += table[j, sub[:, j]]
            out[mask, qi] = acc
        return pd.Series([row.tolist() for row in out])

    kd = F.pandas_udf(adc_kernel, "array<double>")
    scan = (
        spark.read.parquet(f"{path}/lists")
        .where(F.col("list_id").isin(probed))
        .select("list_id", F.col(id_col).alias("neighbor_id"), "pq_codes")
    )
    scored = scan.select(
        "neighbor_id", kd(F.col("list_id"), F.col("pq_codes")).alias("_d")
    ).select("neighbor_id", F.posexplode("_d").alias("_qi", "adist"))
    w = Window.partitionBy("_qi").orderBy("adist", "neighbor_id")
    qmap = F.array(*[F.lit(i) for i in q_ids])
    short = (
        scored.where(~F.isnan("adist") & (F.col("adist") != float("inf")))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= shortlist)
        .select(F.element_at(qmap, F.col("_qi") + 1).alias("query_id"), "neighbor_id")
    )
    # stage 2: exact rerank on raw vectors, shortlist rows only
    raw = (
        spark.read.parquet(f"{path}/lists")
        .where(F.col("list_id").isin(probed))
        .select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(q_ids, qmat)],
        "query_id long, qv array<double>",
    )
    return _rank_topk(short.join(raw, "neighbor_id").join(F.broadcast(qdf), "query_id"), k)
