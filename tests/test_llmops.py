"""LLM-ops semantic tests beyond the oracle harness: ANN recall vs the
exact baseline, and LSH candidate completeness on a planted near-dup."""

from pyspark.sql import functions as F

from data_pipeline_project_spark.operators.dedup import minhash_lsh_pairs
from data_pipeline_project_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from data_pipeline_project_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


def test_lsh_ann_recall_vs_bruteforce(spark):
    emb = load_table(spark, "embeddings", SF_ORACLE)
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(n_probe_bits):
        approx = lsh_cosine_topk(emb, queries, k=5, n_probe_bits=n_probe_bits)
        approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        return len(exact_set & approx_set) / len(exact_set)

    # These embeddings are weakly clustered (top-5 cosine ~0.25-0.5),
    # the worst case for angular LSH: p(bit agrees) ~ 0.58 for the
    # weakest true neighbors, so theory puts 2-bit multiprobe recall
    # near ~0.3 here. Assert the mechanism, and that the multiprobe
    # knob buys recall monotonically.
    r2 = recall(2)
    assert r2 >= 0.3, f"ANN recall {r2:.2f} too low — bucketing broken"
    r3 = recall(3)
    assert r3 > r2, f"multiprobe knob dead: probe3 {r3:.2f} <= probe2 {r2:.2f}"


def test_minhash_finds_planted_near_dup(spark):
    """A doc and its lightly-edited copy must be caught by LSH."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    variant = "the quick brown fox jumps over the lazy dog and runs far away into the hills tonight"
    other = "completely different content about spark query engines and shuffle partitioning strategies"
    docs = spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], ["doc_id", "text"]
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.7


def test_approx_distinct_within_tolerance(spark):
    """HLL++ sketch rel-error vs exact distinct: the registry query's
    hash-checked accuracy booleans must all be TRUE, and the raw sketch
    estimate pins the tighter 2% error the rsd promises."""
    from pyspark.sql import functions as F

    from data_pipeline_project_spark.plans.registry import get_queries
    from data_pipeline_project_spark.sources.tables import load_table

    rows = get_queries()["approx_distinct_accuracy"](spark, SF_ORACLE).collect()
    assert rows
    assert all(r.approx_within_bounds for r in rows)

    raw = (
        load_table(spark, "orders", SF_ORACLE)
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
            F.count_distinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    for r in raw:
        rel = abs(r.approx - r.exact) / max(r.exact, 1)
        assert rel <= 0.02, f"{r.o_orderpriority}: rel err {rel:.3f}"


def test_resize_media_shapes(spark):
    """Resize stub: payload normalized to width*height bytes, metadata
    preserved."""
    from data_pipeline_project_spark.operators.multimodal import (
        documents_as_media,
        resize_media,
    )
    from data_pipeline_project_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_ORACLE).limit(20)
    out = resize_media(documents_as_media(d), width=8, height=4).collect()
    assert len(out) == 20
    for r in out:
        assert len(r.payload) == 32
        assert (r.width, r.height) == (8, 4)


def _cc_both_sides(edges):
    """connected_components labels from the union-find side (the
    default pair-count gate) and from the distributed rounds (the gate
    patched to 0 in the owning module), each with a spy asserting which
    side ran. Returns (union_find_labels, rounds_labels, rounds)."""
    from unittest import mock

    from data_pipeline_project_spark.operators import dedup

    def labels():
        return {r.doc_id: r.cluster_id for r in dedup.connected_components(edges).collect()}

    with mock.patch.object(dedup, "_label_rounds", wraps=dedup._label_rounds) as spy:
        local = labels()
    assert spy.call_count == 0
    with mock.patch.object(dedup, "LOCAL_CC_MAX_PAIRS", 0), mock.patch.object(
        dedup, "_label_rounds", wraps=dedup._label_rounds
    ) as spy, mock.patch.object(dedup, "_label_sum", wraps=dedup._label_sum) as sums:
        dist = labels()
    assert spy.call_count == 1, "the patched gate did not reach the rounds"
    return local, dist, sums.call_count - 1


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain collapses to one cluster (needs >1 propagation
    round); disjoint pairs stay separate."""
    from data_pipeline_project_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # the size-gated local union-find (default here) and the forced
    # distributed rounds resolve IDENTICAL labels — on the chain and
    # on a random graph
    import random

    rng = random.Random(13)
    rand_pairs = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(150)],
        ["id_a", "id_b"],
    )
    for edges in (pairs, rand_pairs):
        local, dist, _ = _cc_both_sides(edges)
        assert local == dist


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF (data-adaptive centroids) must beat the candidate lottery:
    recall against the exact baseline at a modest probe budget, and the
    n_probe knob must buy recall monotonically. With n_probe == n_list
    every list is scanned, so the result must equal the exact top-k."""
    from data_pipeline_project_spark.operators.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF_ORACLE)
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    cents = train_ivf_centroids(emb, n_list=8)
    assert cents == train_ivf_centroids(emb, n_list=8), "training not deterministic"

    def recall(n_probe):
        approx = ivf_cosine_topk(
            emb, queries, k=5, n_list=8, n_probe=n_probe, centroids=cents
        )
        approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        return len(exact_set & approx_set) / len(exact_set)

    r2, r4, r8 = recall(2), recall(4), recall(8)
    assert r2 >= 0.3, f"IVF recall {r2:.2f} at n_probe=2 — assignment broken"
    assert r4 >= r2, f"n_probe knob dead: {r4:.2f} < {r2:.2f}"
    assert r8 == 1.0, f"full probe must be exact, got {r8:.2f}"


def test_pointer_jumping_converges_on_deep_chain(spark):
    """A 150-node path has diameter 149: propagation alone moves the
    min one hop per round, while the rounds' pointer jumping halves
    remaining distances, so the distributed side converges to the
    union-find labels in ~log2(149) rounds, with no round cap."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(149)], "id_a long, id_b long"
    )
    local, dist, rounds = _cc_both_sides(edges)
    assert dist == local == {i: 0 for i in range(150)}
    assert rounds <= 12, rounds


def _reference_components(edges):
    """{node: min node of its component} by a textbook union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_sides_match_union_find(spark):
    """Both sides give labels equal to a reference union-find on a
    random sparse graph."""
    import random

    rng = random.Random(7)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _reference_components(edges)

    local, dist, _ = _cc_both_sides(spark.createDataFrame(edges, "id_a long, id_b long"))
    assert local == want
    assert dist == want


def test_connected_components_rejects_string_ids(spark):
    """Labels are compared through an integral sum, so string ids are
    refused from the schema on both sides, before either side runs —
    not accepted below the pair-count gate and failing a cast above it."""
    from unittest import mock

    import pytest

    from data_pipeline_project_spark.operators import dedup

    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    for gate in (dedup.LOCAL_CC_MAX_PAIRS, 0):
        with mock.patch.object(dedup, "LOCAL_CC_MAX_PAIRS", gate), mock.patch.object(
            dedup, "_union_find_labels", wraps=dedup._union_find_labels
        ) as uf, mock.patch.object(dedup, "_label_rounds", wraps=dedup._label_rounds) as rounds:
            with pytest.raises(TypeError, match="integral ids"):
                dedup.connected_components(pairs)
        assert uf.call_count == rounds.call_count == 0


# ---- SemDeDup semantic dedup ----------------------------------------------

def test_semantic_dedup_matches_numpy_simulator(spark):
    """Removal decisions on the real embeddings equal a single-node
    numpy simulator given the SAME centroids: assignment by argmax
    cosine, removal iff a smaller-id same-cluster vector has cosine >=
    threshold (replicating the kernel's exact fold order)."""
    import numpy as np

    from data_pipeline_project_spark.operators.similarity import (
        _fold_dot,
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF_ORACLE)
    cents = train_ivf_centroids(emb, n_list=8)
    out = {
        r.vec_id: (r.cluster_id, r.is_removed, r.n_lower_dups)
        for r in semantic_dedup(
            emb, n_clusters=8, threshold=0.9, centroids=cents
        ).collect()
    }

    rows = sorted(
        (r.vec_id, r.embedding) for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    c = np.asarray(cents)
    norms = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    assign = np.argsort(-((x / norms) @ c.T), axis=1)[:, 0]

    removed = set()
    n_lower = {}
    for cl in np.unique(assign):
        members = np.where(assign == cl)[0]
        m = x[members]
        sim = _fold_dot(
            np.repeat(m, len(members), axis=0), np.tile(m, (len(members), 1))
        ).reshape(len(members), len(members))
        d = np.sqrt(_fold_dot(m, m))
        sim = sim / (d[:, None] * d[None, :])
        for j_i, j in enumerate(members):
            cnt = sum(
                1
                for i_i, i in enumerate(members)
                if ids[i] < ids[j] and sim[i_i, j_i] >= 0.9
            )
            n_lower[ids[j]] = cnt
            if cnt:
                removed.add(ids[j])

    assert set(out) == set(ids.tolist())
    for vid, (cl, is_removed, n) in out.items():
        k = np.where(ids == vid)[0][0]
        assert cl == assign[k], (vid, cl, assign[k])
        assert is_removed == (vid in removed), vid
        assert n == n_lower[vid], (vid, n, n_lower[vid])


def test_semantic_dedup_removes_planted_replicas(spark):
    """Exact copies (shifted ids) are all removed; the originals all
    survive at a near-exact threshold."""
    from data_pipeline_project_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "embeddings", SF_ORACLE).limit(100)
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    out = semantic_dedup(
        emb.unionByName(copies), n_clusters=8, threshold=0.9999
    ).collect()
    for r in out:
        if r.vec_id >= 100000:
            assert r.is_removed and r.n_lower_dups >= 1, r
        else:
            assert not r.is_removed, r


def test_semantic_dedup_plan_shape(spark):
    """The within-cluster self-join must hash on cluster_id — never a
    cartesian/broadcast-nested-loop pairing of the corpus with itself
    (100 TB bar: work is sum(|cell|^2), bounded by cell width)."""
    from data_pipeline_project_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF_ORACLE)
    cents = train_ivf_centroids(emb, n_list=8)
    df = semantic_dedup(emb, n_clusters=8, centroids=cents)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "cluster_id" in plan, plan


def test_leakage_safe_split_no_pair_straddles_splits(spark):
    """The whole point of the cluster-aware split: every near-dup pair
    lands in ONE split, while the plain per-doc hash split (at the same
    corpus) does let pairs straddle — proving the guard is non-vacuous.
    Singleton docs keep the exact split the plain hash gives them."""
    from data_pipeline_project_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from data_pipeline_project_spark.operators.text import token_hash
    from data_pipeline_project_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    d = load_table(spark, "documents", sf)
    pairs = minhash_lsh_pairs(d, threshold=0.5).select("id_a", "id_b")
    clusters = connected_components(pairs)
    assigned = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )

    def split_of(key_col):
        b = token_hash(F.concat(F.lit("split:"), key_col.cast("string"))) % 100
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")

    by_cluster = assigned.select(
        "doc_id", split_of(F.col("cluster_id")).alias("split")
    )

    # no pair straddles cluster-keyed splits
    a = by_cluster.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "split_a")
    b = by_cluster.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "split_b")
    straddle = pairs.join(a, "id_a").join(b, "id_b").where(
        F.col("split_a") != F.col("split_b")
    )
    assert straddle.count() == 0

    # the naive per-doc split DOES straddle on this corpus (non-vacuous)
    by_doc = assigned.select("doc_id", split_of(F.col("doc_id")).alias("split"))
    a2 = by_doc.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "split_a")
    b2 = by_doc.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "split_b")
    naive_straddle = pairs.join(a2, "id_a").join(b2, "id_b").where(
        F.col("split_a") != F.col("split_b")
    )
    assert naive_straddle.count() > 0

    # singletons (docs in no pair) get the plain per-doc split
    singles = assigned.where(F.col("cluster_id") == F.col("doc_id")).join(
        pairs.select(F.col("id_a").alias("doc_id")).unionByName(
            pairs.select(F.col("id_b").alias("doc_id"))
        ).distinct(),
        "doc_id",
        "left_anti",
    )
    mism = singles.select(
        "doc_id",
        split_of(F.col("cluster_id")).alias("s1"),
        split_of(F.col("doc_id")).alias("s2"),
    ).where(F.col("s1") != F.col("s2"))
    assert mism.count() == 0
