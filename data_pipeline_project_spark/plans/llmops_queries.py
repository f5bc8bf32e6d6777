"""LLM-data-pipeline queries (BASELINE.json north star): dedup tiers,
embedding similarity search, text analysis — each oracle-checked
against DuckDB where SQL-expressible.

The oracle SQL re-derives every hash from first principles (md5-prefix
bigints, affine minhash permutations, sign-bit simhash) so the compare
is bit-exact, not statistical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_project_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from data_pipeline_project_spark.operators.similarity import (
    cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from data_pipeline_project_spark.operators.text import LANG_MARKERS, STOPWORDS
from data_pipeline_project_spark.plans.registry import register
from data_pipeline_project_spark.sources.tables import load_table

# ---- shared SQL fragments (keep in lockstep with operators/text.py) --------

SQL_TOKENS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"
SQL_HASH = "('0x' || substr(md5({v}), 1, 15))::BIGINT"
P = 1_000_000_007
FP_MOD = 10**15

SQL_SHINGLE_HASHES = f"""
list_distinct(list_transform(
    list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, greatest(len(toks) - 1, 1))]),
    s -> {SQL_HASH.format(v='s')} % {P}))
"""


# ---- exact dedup -----------------------------------------------------------
# r13 registry swap: slot ceded to advised_join_parity (the consumed-
# advice path under the driver's hash gate); dedup_exact keeps full
# DuckDB parity in the deregistered harness (conftest
# EXTRA_ORACLE_QUERIES) and is exercised end-to-end by
# clean_corpus_pipeline, which subsumes it.

DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy: one shuffle on the content hash,
    deterministic keeper (min id). At 100 TB the hash (not the text)
    is the shuffle key — 32 bytes/row regardless of document size."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---- minhash LSH near-dup --------------------------------------------------

def _minhash_ctes() -> str:
    """CTE chain (no WITH keyword) deriving verified minhash near-dup
    pairs — shared by the pairs oracle and the clusters oracle."""
    mh_cols = ",\n       ".join(
        f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    band_keys = ", ".join(
        "mh%d::VARCHAR || ',' || mh%d::VARCHAR || ',' || mh%d::VARCHAR || ',' || mh%d::VARCHAR"
        % (4 * b, 4 * b + 1, 4 * b + 2, 4 * b + 3)
        for b in range(4)
    )
    return f"""
toks AS (
    SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
base AS (
    SELECT doc_id, {SQL_SHINGLE_HASHES} AS sh FROM toks
),
nonempty AS (SELECT * FROM base WHERE len(sh) > 0),
sigs AS (
    SELECT doc_id,
       {mh_cols}
    FROM nonempty
),
bands AS (
    SELECT doc_id, b.band,
           [{band_keys}][b.band + 1] AS key
    FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
),
candidates AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
),
pairs AS (
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM candidates c
    JOIN nonempty a ON a.doc_id = c.id_a
    JOIN nonempty b ON b.doc_id = c.id_b
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
)"""


def _minhash_oracle() -> str:
    return "WITH " + _minhash_ctes() + "\nSELECT id_a, id_b, jaccard FROM pairs"


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup text pairs: 3-gram shingles → 16 minhashes → 4-band LSH
    bucket join → exact-Jaccard verification >= 0.5."""
    d = load_table(spark, "documents", sf_dir)
    return minhash_lsh_pairs(d, threshold=0.5)


# ---- simhash ---------------------------------------------------------------

SQL_SIMHASH = f"""
WITH toks AS (
    SELECT doc_id, list_distinct({SQL_TOKENS}) AS toks FROM documents
),
th AS (
    SELECT doc_id, {SQL_HASH.format(v='t.t')} AS h
    FROM toks, unnest(toks.toks) AS t(t)
),
bitsum AS (
    SELECT doc_id, j.j,
           sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS tot
    FROM th CROSS JOIN (SELECT unnest(range(60)) AS j) j
    GROUP BY doc_id, j.j
),
fp AS (
    SELECT doc_id,
           sum(CASE WHEN tot > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS fp
    FROM bitsum GROUP BY doc_id
)
"""


@register(
    "dedup_simhash_pairs",
    oracle=SQL_SIMHASH
    + """,
bands AS (
    SELECT doc_id, fp, b.band, (fp >> (b.band * 15)) & 32767 AS key
    FROM fp CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       bit_count(xor(l.fp, r.fp)) AS hamming
FROM bands l JOIN bands r
  ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.fp, r.fp)) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) via 4x15-bit banding —
    pigeonhole-complete for distance <= 3."""
    d = load_table(spark, "documents", sf_dir)
    return simhash_near_pairs(d, max_hamming=3)


# ---- n-gram Jaccard quadratic baseline -------------------------------------

# Deregistered in round 6 (driver board slot ceded to the corpus tier);
# full oracle parity continues via tests/conftest.py EXTRA_ORACLE_QUERIES.
NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {SQL_TOKENS} AS toks FROM documents WHERE doc_id < 500
),
base AS (
    SELECT doc_id, {SQL_SHINGLE_HASHES} AS sh FROM toks
),
nonempty AS (SELECT * FROM base WHERE len(sh) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.3
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact pairwise baseline minhash approximates: all-pairs
    3-gram-shingle Jaccard on a bounded doc-id prefix window (500 docs
    — the whole corpus at sf0.01, so the check is non-vacuous; constant
    quadratic cost at any larger SF). An exact baseline exists to
    validate the LSH paths, not to run corpus-wide: dedup_minhash_lsh
    is the full-corpus scale path."""
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist
    from data_pipeline_project_spark.operators.dedup import jaccard_pairs, shingle_hashes

    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 500)
    # filter the cached rows, not inside the persisted plan (where it
    # would be pushed below the kernel's projection and run it twice)
    base = scoped_persist(
        d.select(F.col("doc_id"), shingle_hashes(F.col("text")).alias("sh"))
    ).where(F.size("sh") > 0)
    a = base.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return jaccard_pairs(a.join(b, F.col("id_a") < F.col("id_b")), 0.3)


# ---- embedding similarity --------------------------------------------------

SQL_DOT = """
list_reduce(list_prepend(0.0, list_transform(range(1, 65),
    i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)
"""


def _cosine_oracle() -> str:
    dot_qc = SQL_DOT.format(a="q.embedding", b="c.embedding")
    dot_qq = SQL_DOT.format(a="q.embedding", b="q.embedding")
    dot_cc = SQL_DOT.format(a="c.embedding", b="c.embedding")
    return f"""
WITH sims AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(({dot_qc}) / (sqrt({dot_qq}) * sqrt({dot_cc})), 6) AS cosine_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


@register("similarity_topk_bruteforce", oracle=_cosine_oracle())
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors as queries:
    broadcast cross-join + window rank. The oracle replicates the
    left-fold double summation, so similarity values are bit-exact."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "cosine_sim", "rank"
    )


@register("similarity_topk_ivf_fullprobe", oracle=_cosine_oracle())
def similarity_topk_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN run at n_probe == n_list (every inverted list probed):
    the candidate set is the full corpus, so the result is EXACTLY the
    brute-force top-k — which makes the whole IVF pipeline (sampled
    spherical k-means training, Arrow-batched centroid assignment,
    list-id equi join, exact rerank) hash-checkable against the same
    DuckDB oracle as the brute-force row. Recall at n_probe < n_list
    is the approximate operating point and stays pinned in
    tests/test_llmops.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_cosine_topk(emb, queries, k=5, n_list=16, n_probe=16).select(
        "query_id", "neighbor_id", "cosine_sim", "rank"
    )


# Not driver-registered: ANN results at the approximate operating point
# are rows-only (recall, not equality) so this slot buys no hash signal —
# it went to the exact temporal joins instead. Recall >= 0.6 vs brute
# force and multiprobe monotonicity stay pinned in tests/test_llmops.py;
# the IVF tier's machinery is hash-checked via
# similarity_topk_ivf_fullprobe above.
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: random-hyperplane LSH buckets + multiprobe,
    exact rerank of candidates. Non-SQL-expressible economically;
    tests/test_llmops.py asserts recall >= 0.6 vs brute force."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "cosine_sim", "rank"
    )


# ---- text analysis ---------------------------------------------------------

def _lang_case_sql() -> str:
    scores = {
        lang: f"len(list_intersect(dtoks, {list(markers)}))"
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    langs = sorted(scores)
    arms = []
    for i, lang in enumerate(langs):
        rest = [scores[o] for o in langs[i + 1 :]]
        cond = f"{scores[lang]} > 0"
        if rest:
            cond += f" AND {scores[lang]} >= greatest({', '.join(rest)})" if len(rest) > 1 else f" AND {scores[lang]} >= {rest[0]}"
        arms.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(arms) + " ELSE 'unknown' END"


@register(
    "text_stats",
    oracle=f"""
WITH t AS (
    SELECT doc_id, text, {SQL_TOKENS} AS toks,
           list_distinct({SQL_TOKENS}) AS dtoks
    FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(dtoks) AS n_distinct_tokens,
       round((CASE WHEN len(toks) > 0 AND
                        list_reduce(list_prepend(0::BIGINT,
                            list_transform(toks, x -> length(x)::BIGINT)),
                            (a, b) -> a + b)::DOUBLE / len(toks)
                        BETWEEN 3 AND 10
                   THEN 1.0 ELSE 0.5 END
              + CASE WHEN len(list_intersect(toks, {list(STOPWORDS)})) > 0
                     THEN 1.0 ELSE 0.5 END
              + CASE WHEN length(text) > 0
                     THEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE
                          / length(text)
                     ELSE 0.0 END) / 3, 6) AS quality,
       {_lang_case_sql()} AS detected_lang,
       list_reduce(list_prepend(0::BIGINT,
           list_transform(toks, t2 -> {SQL_HASH.format(v='t2')} % {P})),
           (acc, h) -> (acc * 31 + h) % {FP_MOD}) AS doc_fingerprint
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: token counts, quality score,
    marker-lexicon language ID, rolling-hash fingerprint — one Arrow
    kernel pass (operators/text.text_stats_struct; the expression forms
    in operators/text.py remain the documented SQL-equivalent
    semantics and are what the oracle re-derives)."""
    from data_pipeline_project_spark.operators.text import text_stats_struct

    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", text_stats_struct(F.col("text")).alias("s")).select(
        "doc_id", "s.n_tokens", "s.n_distinct_tokens", "s.quality",
        "s.detected_lang", "s.doc_fingerprint",
    )


@register(
    "lang_distribution",
    oracle=f"""
WITH t AS (
    SELECT doc_id, list_distinct({SQL_TOKENS}) AS dtoks FROM documents
)
SELECT {_lang_case_sql()} AS detected_lang, count(*) AS n_docs
FROM t GROUP BY 1
""",
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language histogram over the detected language."""
    from data_pipeline_project_spark.operators.text import text_stats_struct

    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(text_stats_struct(F.col("text")).alias("s"))
        .groupBy(F.col("s.detected_lang").alias("detected_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---- multimodal ------------------------------------------------------------

@register(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/fake' ELSE 'audio/fake' END AS media_type,
       ascii(substr(text, 1, 1)) AS width,
       ascii(substr(text, 2, 1)) AS height,
       octet_length(encode(text)) AS n_bytes
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns + Arrow-batched mapInPandas feature
    extraction (decode stubbed — operators/multimodal.py). The oracle
    recomputes the deterministic fake-decode from the text bytes."""
    from data_pipeline_project_spark.operators.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    d = load_table(spark, "documents", sf_dir)
    return extract_media_features(documents_as_media(d))


# ---- embedding-cosine near-dup (vector-space dedup tier) -------------------

def _bucket_sql(emb: str) -> str:
    """DuckDB expression for the random-hyperplane sign-bit bucket —
    identical literals + fold order as operators/similarity.lsh_bucket,
    so bucket ids (and therefore candidate sets) are bit-exact."""
    from data_pipeline_project_spark.operators.similarity import _hyperplanes

    bits = []
    for i, plane in enumerate(_hyperplanes()):
        lits = ", ".join(repr(v) for v in plane)
        dot = (
            "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> {emb}[i]::DOUBLE * [{lits}][i])), (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def _embedding_cosine_oracle() -> str:
    from data_pipeline_project_spark.operators.similarity import N_HYPERPLANES

    masks = [0] + [1 << i for i in range(N_HYPERPLANES)]
    dot_ab = SQL_DOT.format(a="a.embedding", b="b.embedding")
    dot_aa = SQL_DOT.format(a="a.embedding", b="a.embedding")
    dot_bb = SQL_DOT.format(a="b.embedding", b="b.embedding")
    return f"""
WITH base AS (
    SELECT vec_id AS vid, embedding, ({_bucket_sql("embedding")}) AS bucket0
    FROM embeddings
),
probes AS (
    SELECT vid, xor(bucket0, m.m) AS bucket
    FROM base, (SELECT unnest({masks}) AS m) m
),
pairs AS (
    SELECT DISTINCT l.vid AS id_a, r.vid AS id_b
    FROM probes l JOIN base r ON l.bucket = r.bucket0 AND l.vid < r.vid
)
SELECT p.id_a, p.id_b,
       round(({dot_ab}) / (sqrt({dot_aa}) * sqrt({dot_bb})), 6) AS cosine_sim
FROM pairs p
JOIN embeddings a ON a.vec_id = p.id_a
JOIN embeddings b ON b.vec_id = p.id_b
WHERE round(({dot_ab}) / (sqrt({dot_aa}) * sqrt({dot_bb})), 6) >= 0.4
"""


@register("dedup_embedding_cosine", oracle=_embedding_cosine_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-space near-dup tier: candidate pairs from 1-bit-multiprobe
    LSH buckets, verified with exact cosine >= 0.4. The oracle rebuilds
    the identical buckets, so the compare is exact despite the
    candidate set being approximate."""
    from data_pipeline_project_spark.operators.similarity import cosine_near_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    return cosine_near_pairs(emb, threshold=0.4)


# ---- tf-idf ----------------------------------------------------------------

@register(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
scored AS (
    SELECT doc_id, term,
           round(tf * ln(n_docs::DOUBLE / df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS rank
    FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf: one explode + (doc, term)
    partial-agg shuffle for tf; dfreq and n_docs are tiny aggregates
    broadcast back — no second shuffle of the big side; final per-doc
    top-k is a WindowGroupLimit-pruned window over the tf rows.

    r13: the tf persist inherited from earlier rounds is GONE — paired
    A/B (5 interleaved passes, rows identical) read 2.32 s cached vs
    1.11 s recomputed: the three consumers' tf subtrees are fused
    whole-stage pipelines over a page-cached file, and the cache's
    columnar encode + materialization barrier + decode x3 cost more
    than re-running them. At warehouse scale the tf table would be
    WRITTEN AND READ BACK (a storage materialization, not an executor
    cache); the in-memory persist is the one form that loses at both
    ends."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = tf.select(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)


# ---- BPE-ish token counting ------------------------------------------------

@register(
    "token_count_bpe",
    oracle=f"""
SELECT doc_id,
       len({SQL_TOKENS}) AS n_word_tokens,
       len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +'))
           AS n_bpe_tokens
FROM documents
""",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets per document: whitespace/word tokens and a
    GPT-2-style pretokenizer count (regex restricted to the syntax
    subset Java regex and RE2 interpret identically)."""
    from data_pipeline_project_spark.operators.text import bpe_tokens, tokens

    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_word_tokens"),
        F.size(bpe_tokens(F.col("text"))).alias("n_bpe_tokens"),
    )


# ---- custom stateful: EWMA -------------------------------------------------

@register(
    "ewma_smoothing",
    oracle="""
WITH RECURSIVE seq AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value::DOUBLE AS value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
    FROM events
),
r AS (
    SELECT user_id, ts, value, rn, value AS ewma FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.ts, s.value, s.rn, 0.5 * s.value + 0.5 * r.ewma
    FROM seq s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, ts, value, round(ewma, 6) AS ewma FROM r
""",
)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=0.5) over the event stream — the custom
    stateful operator Spark has no native expression for, run as
    grouped-map pandas (operators/stateful.py; streaming twin uses
    applyInPandasWithState). The oracle replays the identical
    recurrence with a recursive CTE, so even this non-relational
    operator gets a bit-exact value check."""
    from data_pipeline_project_spark.operators.stateful import ewma

    ev = load_table(spark, "events", sf_dir)
    return ewma(ev, alpha=0.5)


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id, i.i::INT AS frame_no,
       least(16, octet_length(encode(text)) - i.i * 16)::BIGINT AS frame_bytes,
       substr(text, (i.i * 16 + 1)::INT, 4) AS frame_prefix
FROM documents, (SELECT unnest(range(4)) AS i) i
WHERE i.i * 16 < octet_length(encode(text))
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding media op: frame sampling (1 doc -> up to 4 frame
    rows) through mapInPandas — the video-keyframe shape with the codec
    stubbed as a byte chunker (operators/multimodal.py). The oracle
    re-derives the chunks in SQL (testdata text is pure ASCII, so byte
    and char offsets coincide)."""
    from data_pipeline_project_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    d = load_table(spark, "documents", sf_dir)
    return sample_frames(documents_as_media(d))


@register(
    "dedup_clusters",
    oracle="WITH RECURSIVE " + _minhash_ctes() + """,
sym AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
    SELECT DISTINCT src, src FROM sym
    UNION
    SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the
    verified MinHash pair graph (cluster_id = min reachable doc id —
    the canonical keeper). Spark side is operators/dedup.
    connected_components (union-find on a small pair list, min-label
    rounds with pointer jumping on a large one); the oracle
    computes the same transitive closure with a recursive CTE, so even
    the iterative-algorithm surface gets an exact value check."""
    from data_pipeline_project_spark.operators.dedup import connected_components

    d = load_table(spark, "documents", sf_dir)
    return connected_components(minhash_lsh_pairs(d, threshold=0.5))


# ---- composite pipelines ---------------------------------------------------

@register(
    "clean_corpus_pipeline",
    oracle=f"""
WITH t AS (
    SELECT doc_id, text, {SQL_TOKENS} AS toks,
           list_distinct({SQL_TOKENS}) AS dtoks
    FROM documents
),
scored AS (
    SELECT doc_id, text, len(toks) AS n_tokens,
           round((CASE WHEN len(toks) > 0 AND
                            list_reduce(list_prepend(0::BIGINT,
                                list_transform(toks, x -> length(x)::BIGINT)),
                                (a, b) -> a + b)::DOUBLE / len(toks)
                            BETWEEN 3 AND 10
                       THEN 1.0 ELSE 0.5 END
                  + CASE WHEN len(list_intersect(toks, {list(STOPWORDS)})) > 0
                         THEN 1.0 ELSE 0.5 END
                  + CASE WHEN length(text) > 0
                         THEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE
                              / length(text)
                         ELSE 0.0 END) / 3, 6) AS quality,
           {_lang_case_sql()} AS detected_lang
    FROM t
),
filtered AS (
    SELECT * FROM scored
    WHERE quality >= 0.6 AND detected_lang = 'en' AND n_tokens BETWEEN 10 AND 1000
),
deduped AS (
    SELECT md5(text) AS h, min(doc_id) AS keeper FROM filtered GROUP BY md5(text)
)
SELECT f.doc_id, f.n_tokens, f.quality
FROM filtered f JOIN deduped d ON f.doc_id = d.keeper
""",
)
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pass: quality + language +
    length filters, then exact dedup keeping the smallest doc id — the
    C4-style end-to-end selection every corpus build runs. One narrow
    kernel scan that also applies the filter, then keeper selection as
    a window over the content hash (min(doc_id) per md5(text) group): a
    single parallel hash shuffle, no join and no broadcast — the keeper
    set is corpus-sized, so broadcasting it would OOM the driver at
    scale."""
    import pandas as pd

    from data_pipeline_project_spark.operators.text import _text_stats_kernel

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    # The filter runs inside the kernel pass: a filter on the fields of
    # the text-stats UDF would be pushed below the projection computing
    # it and run the kernel twice per document.
    def passing(frames):
        for f in frames:
            s = _text_stats_kernel(f["text"])
            keep = (
                (s["quality"] >= 0.6)
                & (s["detected_lang"] == "en")
                & s["n_tokens"].between(10, 1000)
            ).to_numpy()
            yield pd.DataFrame(
                {
                    "doc_id": f["doc_id"].to_numpy()[keep],
                    "text": f["text"].to_numpy()[keep],
                    "n_tokens": s["n_tokens"].to_numpy()[keep],
                    "quality": s["quality"].to_numpy()[keep],
                }
            )

    filtered = d.mapInPandas(
        passing, "doc_id long, text string, n_tokens int, quality double"
    )
    # r13 plan audit: windowing on md5(text) does NOT ship the text —
    # Catalyst projects the partition expression to a _w0 column and
    # prunes text before the exchange (verified in
    # plans/r13/clean_corpus_pipeline_before.txt: Exchange input is
    # [doc_id, n_tokens, quality, _w0]). Left as-is.
    w = Window.partitionBy(F.md5("text"))
    return (
        filtered.withColumn("_keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("_keeper"))
        .select("doc_id", "n_tokens", "quality")
    )


# Round-11 registry swap: ceded its driver-board slot to
# stats_catalog_parity (plans/catalog_queries.py — the manifest
# stats-vs-recompute gate); keeps full DuckDB parity in the
# deregistered harness (tests/conftest.py EXTRA_ORACLE_QUERIES).
TRAIN_VAL_TEST_ORACLE = f"""
WITH h AS (
    SELECT doc_id,
           {SQL_HASH.format(v="'split:' || doc_id::VARCHAR")} % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM h GROUP BY 1
"""


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by salted content-independent hash
    (md5 of 'split:<id>') — reproducible across runs, engines, and
    cluster sizes, unlike randomSplit; the split column is a pure
    projection so it composes with any downstream filter/write."""
    from data_pipeline_project_spark.operators.text import token_hash

    d = load_table(spark, "documents", sf_dir)
    bucket = token_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


TRAINING_SHARD_ORACLE = f"""
WITH s AS (
    SELECT doc_id, {SQL_HASH.format(v="doc_id::VARCHAR")} % 16 AS shard
    FROM documents
)
SELECT shard,
       count(*) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM s GROUP BY shard
"""


# registry slot traded to era_mixed_time_range in r12 (the capstone
# covers shard assignment end-to-end); full oracle parity continues in
# tests/conftest.py EXTRA_ORACLE_QUERIES
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard writer's shard-assignment logic as a
    hash-checkable frame: ``sinks.shard_id`` (md5 method — the
    cross-engine-reproducible variant of the writer's default xxhash64)
    over doc_id, rolled up to per-shard counts and key ranges. This is
    the pure-function core of ``sinks.write_training_shards``
    (`sinks/sinks.py`): identical shard for identical key regardless of
    partitioning — the property the oracle verifies row-for-row. The
    parquet-writing half stays pytest-verified (tests/test_llm_io.py)."""
    from data_pipeline_project_spark.sinks.sinks import shard_id

    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("shard", shard_id(F.col("doc_id"), 16, method="md5"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---- corpus balancing / sampling (pytest-oracle-checked; not driver-
# registered — the 50-slot registry is full, parity is pinned in
# tests/test_queries_vs_duckdb.py::test_deregistered_queries_still_match) ----

# Shared quality CTE: identical expression chain to text_stats_struct's
# kernel (and to clean_corpus_pipeline's oracle) so quality values are
# bit-equal across engines.
_QUALITY_CTE = f"""
t AS (
    SELECT doc_id, source, text, {SQL_TOKENS} AS toks FROM documents
),
scored AS (
    SELECT doc_id, source,
           round((CASE WHEN len(toks) > 0 AND
                            list_reduce(list_prepend(0::BIGINT,
                                list_transform(toks, x -> length(x)::BIGINT)),
                                (a, b) -> a + b)::DOUBLE / len(toks)
                            BETWEEN 3 AND 10
                       THEN 1.0 ELSE 0.5 END
                  + CASE WHEN len(list_intersect(toks, {list(STOPWORDS)})) > 0
                         THEN 1.0 ELSE 0.5 END
                  + CASE WHEN length(text) > 0
                         THEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE
                              / length(text)
                         ELSE 0.0 END) / 3, 6) AS quality
    FROM t
)
"""

DOMAIN_CAP_ORACLE = f"""
WITH {_QUALITY_CTE},
ranked AS (
    SELECT source, doc_id, quality,
           row_number() OVER (PARTITION BY source
                              ORDER BY quality DESC, doc_id) AS rk
    FROM scored
)
SELECT source, doc_id, quality FROM ranked WHERE rk <= 10
"""


def domain_balanced_cap(
    spark: SparkSession, sf_dir: str, max_per_domain: int = 10
) -> DataFrame:
    """Domain balancing for a training corpus: cap each source domain
    at its ``max_per_domain`` highest-quality documents (deterministic
    tiebreak on doc_id). The standard anti-overrepresentation pass —
    one hash shuffle on the domain key + a per-group top-k window; no
    global sort, no collect, so the plan is identical at 100 TB with
    AQE splitting any skewed mega-domain."""
    from data_pipeline_project_spark.operators.text import text_stats_struct

    d = load_table(spark, "documents", sf_dir)
    scored = d.select(
        "source", "doc_id", text_stats_struct(F.col("text"))["quality"].alias("quality")
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= max_per_domain)
        .select("source", "doc_id", "quality")
    )


# Per-stratum sampling rates: heavily keep src0, quarter src1, default
# 10% elsewhere — the "rebalance web-crawl vs curated" shape.
_STRATA_PERMILLE = {"src0": 500, "src1": 250}
_DEFAULT_PERMILLE = 100

STRATIFIED_SAMPLE_ORACLE = f"""
WITH b AS (
    SELECT doc_id, source,
           {SQL_HASH.format(v="'sample:' || doc_id::VARCHAR")} % 1000 AS bucket
    FROM documents
)
SELECT doc_id, source FROM b
WHERE bucket < CASE source WHEN 'src0' THEN 500
                           WHEN 'src1' THEN 250
                           ELSE 100 END
"""


def stratified_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep rates applied
    via a salted content-independent hash bucket (md5 of
    'sample:<doc_id>' mod 1000), NOT ``sampleBy`` — same sample on
    every run, engine, and cluster size, and the predicate is a pure
    projection (no shuffle, no RNG state), so it composes with pushdown
    and streams through any scan at 100 TB."""
    from data_pipeline_project_spark.operators.text import token_hash

    d = load_table(spark, "documents", sf_dir)
    bucket = token_hash(
        F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))
    ) % 1000
    rate = F.when(F.col("source") == "src0", _STRATA_PERMILLE["src0"]).when(
        F.col("source") == "src1", _STRATA_PERMILLE["src1"]
    ).otherwise(_DEFAULT_PERMILLE)
    return d.where(bucket < rate).select("doc_id", "source")


HEAVY_HITTER_ORACLE = f"""
WITH tok AS (
    SELECT unnest({SQL_TOKENS}) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n_occurrences FROM tok GROUP BY term),
total AS (SELECT count(*) AS n FROM tok)
SELECT term, n_occurrences
FROM counts, total
WHERE n_occurrences > n / 50.0
"""


def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus terms occurring in more than 1/50th of all token
    positions — boilerplate detection at corpus scale. Runs the
    Misra-Gries sketch-then-verify plan (operators/sketches.py: narrow
    sketch pass, broadcast recount of candidates only — raw tokens
    never shuffle), then keeps exactly the true >n/k items, which
    makes the result deterministic and hash-checkable against the
    plain GROUP BY oracle."""
    from data_pipeline_project_spark.operators.sketches import heavy_hitters
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    hh = heavy_hitters(tok, "term", 50)
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        hh.crossJoin(F.broadcast(total))
        .where(F.col("count") > F.col("n") / 50.0)
        .select(F.col("item").alias("term"), F.col("count").alias("n_occurrences"))
    )


RESERVOIR_PER_SOURCE_ORACLE = f"""
WITH h AS (
    SELECT source, doc_id,
           {SQL_HASH.format(v="'rsv:' || doc_id::VARCHAR")} AS hk
    FROM documents
),
ranked AS (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
    FROM h
)
SELECT source, doc_id FROM ranked WHERE rk <= 5
"""


def reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample per group, deterministically: rank rows
    within each source by a salted content-independent hash and keep
    the first k — the reservoir-sampling CONTRACT (each subset equally
    likely under the hash's uniformity) without reservoir STATE, so it
    reruns identically on any cluster and needs only the one group
    shuffle. Complements stratified_sample_by_source (fractional rates)
    with fixed-size-per-stratum sampling."""
    from data_pipeline_project_spark.operators.text import token_hash

    d = load_table(spark, "documents", sf_dir)
    hk = token_hash(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("source", "doc_id")
    )


DOCUMENT_CHUNKS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
sized AS (
    SELECT doc_id, toks, len(toks) AS n,
           CASE WHEN len(toks) > 50 THEN (len(toks) - 50 + 39) // 40
                ELSE 0 END AS n_extra
    FROM t WHERE len(toks) > 0
)
SELECT doc_id, i AS chunk_id,
       array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ') AS chunk_text,
       least(n - i * 40, 50) AS n_chunk_tokens
FROM sized, unnest(range(0, n_extra + 1)) AS r(i)
"""


def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50-token chunks, stride 40 —
    10-token overlap): the context-window preparation step of a
    RAG/embedding pipeline. Pure generate: tokenize once, explode a
    chunk-index sequence, slice — no shuffle at all, so it streams
    through a 100 TB corpus scan; chunk ids are deterministic
    (doc_id, position)."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks")
    n_extra = F.when(
        n > 50, F.floor((n - 50 + 39) / F.lit(40)).cast("int")
    ).otherwise(0)
    return (
        toked.select(
            "doc_id", "toks", n.alias("n"),
            F.explode(F.sequence(F.lit(0), n_extra)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(
                " ", F.slice("toks", F.col("chunk_id") * 40 + 1, 50)
            ).alias("chunk_text"),
            F.least(F.col("n") - F.col("chunk_id") * 40, F.lit(50)).alias(
                "n_chunk_tokens"
            ),
        )
    )


# Synthetic corpus text carries no PII, so the scrub query plants
# deterministic specimens on a doc_id spread IN THE QUERY (both
# engines), keeping the oracle non-vacuous.
PII_SCRUB_ORACLE = """
WITH planted AS (
    SELECT doc_id,
           text || CASE doc_id % 4
                WHEN 0 THEN ' reach me at jane.doe+spam@example.co.uk thanks'
                WHEN 1 THEN ' see https://example.com/a/b?q=1#frag for details'
                WHEN 2 THEN ' call +1 (555) 867-5309 now'
                ELSE '' END AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+', '<EMAIL>', 'g'),
           'https?://[^ \t\n]+', '<URL>', 'g'),
           '\\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed,
       regexp_matches(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+') AS had_email,
       regexp_matches(text, 'https?://[^ \t\n]+') AS had_url,
       regexp_matches(text, '\\+[0-9][0-9 ()-]{6,}[0-9]') AS had_phone
FROM planted
"""


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII/URL scrub over the corpus (operators/text.scrub_pii
    + pii_flags): emails, URLs, and international phone numbers become
    typed placeholders; audit booleans ride beside the scrubbed text.
    All JVM regexp — no shuffle, no Python — so it composes into any
    corpus-cleaning scan at 100 TB. Deterministic PII specimens are
    planted per doc_id residue so the oracle check exercises every
    rule."""
    from data_pipeline_project_spark.operators.text import pii_flags, scrub_pii

    d = load_table(spark, "documents", sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   " reach me at jane.doe+spam@example.co.uk thanks")
            .when(F.col("doc_id") % 4 == 1,
                  " see https://example.com/a/b?q=1#frag for details")
            .when(F.col("doc_id") % 4 == 2, " call +1 (555) 867-5309 now")
            .otherwise(""),
        ).alias("text"),
    )
    flags = pii_flags(F.col("text"))
    return planted.select(
        "doc_id",
        scrub_pii(F.col("text")).alias("scrubbed"),
        flags["had_email"].alias("had_email"),
        flags["had_url"].alias("had_url"),
        flags["had_phone"].alias("had_phone"),
    )


# The approximate-ANN accuracy contract, driver-visible: recall values
# themselves are not SQL-expressible, but "every query point's
# recall@10 clears the documented floor" is a deterministic boolean
# per query point (fixed data + LCG-deterministic centroid training +
# id-tiebroken ranking), which the oracle asserts as literal TRUE.
# Floor 0.75 at n_probe=6/8: the synthetic embeddings are near-uniform
# random — the WORST case for IVF (no cluster structure), where
# expected recall ~= fraction of lists probed; observed per-query min
# is 0.8 at both test SFs. Real corpora cluster, so the same probe
# budget buys far higher recall at far lower cost fractions.
IVF_ANN_RECALL_ORACLE = """
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


def ivf_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query-point recall floor for the APPROXIMATE IVF path
    (n_probe < n_list) against the exact result — the full-probe
    variant of the same index, which similarity_topk_ivf_fullprobe
    hash-proves equal to brute force. Centroids are trained once and
    shared by both sides, so the comparison isolates exactly the
    probe-budget approximation."""
    from data_pipeline_project_spark.operators.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    cents = train_ivf_centroids(emb, n_list=8)
    exact = ivf_cosine_topk(
        emb, queries, k=10, n_list=8, n_probe=8, centroids=cents
    ).select("query_id", "neighbor_id")
    approx = ivf_cosine_topk(
        emb, queries, k=10, n_list=8, n_probe=6, centroids=cents
    ).select("query_id", "neighbor_id")

    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    denom = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        denom.join(hits, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("_hits"), F.lit(0)) / F.col("_n") >= F.lit(0.75)
            ).alias("recall_ok"),
        )
    )


# ---- benchmark decontamination --------------------------------------------

# Eval set = every 17th doc_id: a deterministic stand-in for a held-out
# benchmark, so both engines derive the identical train/eval partition.
DECONTAMINATION_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
sh AS (
    SELECT doc_id, {SQL_SHINGLE_HASHES} AS sh FROM toks
),
eval_sh AS (
    SELECT DISTINCT u.h FROM sh, unnest(sh.sh) AS u(h) WHERE doc_id % 17 = 0
),
train_sh AS (
    SELECT doc_id, u.h FROM sh, unnest(sh.sh) AS u(h) WHERE doc_id % 17 <> 0
)
SELECT t.doc_id, count(*) AS n_shared_shingles
FROM train_sh t JOIN eval_sh e ON t.h = e.h
GROUP BY t.doc_id
"""


@register("decontamination_overlap", oracle=DECONTAMINATION_ORACLE)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.contaminated_docs):
    training docs sharing any word-trigram shingle with the eval set,
    with the shared-shingle count. The eval shingle vocabulary is
    deduped and broadcast; the corpus side never shuffles — the
    GPT-3/The-Pile n-gram-overlap rule in its scale-correct shape."""
    from data_pipeline_project_spark.operators.corpus import contaminated_docs

    d = load_table(spark, "documents", sf_dir)
    ev = d.where(F.col("doc_id") % 17 == 0)
    tr = d.where(F.col("doc_id") % 17 != 0)
    return contaminated_docs(tr, ev)


# ---- Gopher-style repetition filter ---------------------------------------

# Non-distinct positional n-grams (DuckDB list comprehension): trigrams
# i in [1, len-2], bigrams i in [1, len-1].
_SQL_TRIGRAMS = """[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    for i in range(1, greatest(len(toks) - 1, 1))]"""
_SQL_BIGRAMS = """[toks[i] || ' ' || toks[i+1]
                   for i in range(1, greatest(len(toks), 1))]"""

REPETITION_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
tri AS (
    SELECT doc_id,
           len({_SQL_TRIGRAMS}) AS n_tri,
           len(list_distinct({_SQL_TRIGRAMS})) AS n_tri_distinct
    FROM t
),
bg AS (
    SELECT doc_id, u.bg
    FROM (SELECT doc_id, {_SQL_BIGRAMS} AS bgs FROM t) b, unnest(b.bgs) AS u(bg)
),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
bstat AS (SELECT doc_id, max(c) AS maxc, sum(c) AS totc FROM bgc GROUP BY doc_id)
SELECT tri.doc_id,
       round(CASE WHEN n_tri > 0
                  THEN 1.0 - n_tri_distinct::DOUBLE / n_tri ELSE 0.0 END, 6)
           AS dup_trigram_frac,
       coalesce(round(maxc::DOUBLE / totc, 6), 0.0) AS top_bigram_frac,
       (round(CASE WHEN n_tri > 0
                   THEN 1.0 - n_tri_distinct::DOUBLE / n_tri ELSE 0.0 END, 6) > 0.2
        OR coalesce(round(maxc::DOUBLE / totc, 6), 0.0) > 0.18) AS is_repetitive
FROM tri LEFT JOIN bstat ON tri.doc_id = bstat.doc_id
"""


def repetition_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules over the corpus
    (operators/corpus.repetition_flags): duplicate-trigram fraction and
    most-frequent-bigram mass fraction, thresholded into the
    ``is_repetitive`` removal flag — the boilerplate/spam filter every
    pre-training cleanup runs (Rae et al. 2021 rules C4/MassiveText
    use)."""
    from data_pipeline_project_spark.operators.corpus import repetition_flags

    return repetition_flags(load_table(spark, "documents", sf_dir))


# ---- unigram-LM quality scoring -------------------------------------------

# Log-probs are fixed-pointed at 1e-6 (round(ln(p)*1e6) as int64) so
# the per-doc sum is integer — order-independent across partitions and
# engines; only the final single division touches floats.
UNIGRAM_LOGPROB_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
total AS (SELECT count(*) AS n FROM tok),
lp AS (
    SELECT term, round(ln(c::DOUBLE / n) * 1e6)::BIGINT AS lp6
    FROM vocab, total
),
dt AS (SELECT doc_id, term, count(*) AS k FROM tok GROUP BY doc_id, term)
SELECT dt.doc_id,
       sum(k)::BIGINT AS n_tokens,
       round(sum(k * lp6)::DOUBLE / (sum(k) * 1000000.0), 6) AS avg_logprob
FROM dt JOIN lp USING (term)
GROUP BY dt.doc_id
"""


def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality score: mean per-token natural-log
    probability under the corpus's own unigram distribution (spam and
    gibberish score low; fluent text scores near the corpus mode).
    Two-aggregate plan: the vocabulary (term, count) is corpus-bounded
    and broadcast back onto per-doc term counts — the raw token stream
    is shuffled once (doc,term aggregate); the corpus never re-shuffles
    to score. The scalar corpus-size cross join moves partial-agg rows
    only. Log-probs are fixed-pointed to int64 microlog units so the
    per-doc sum is order-independent — bit-stable across runs, engines,
    and cluster sizes despite being a float metric."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(F.col("c").cast("double") / F.col("n")) * 1e6, 0)
        .cast("bigint")
        .alias("lp6"),
    )
    dt = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("k"))
    return (
        dt.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("k") * F.col("lp6")).cast("double")
                / (F.sum("k") * F.lit(1000000.0)),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---- sequence packing ------------------------------------------------------

SEQUENCE_PACKING_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           len({SQL_TOKENS})::BIGINT AS n_tok,
           {SQL_HASH.format(v="doc_id::VARCHAR")} % 8 AS shard_id
    FROM documents
),
c AS (
    SELECT doc_id, shard_id,
           (sum(n_tok) OVER (PARTITION BY shard_id ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tok)::BIGINT AS strt
    FROM t
)
SELECT doc_id, shard_id,
       (strt // 512)::BIGINT AS pack_seq,
       (strt % 512)::BIGINT AS token_offset
FROM c
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing for training batches
    (operators/corpus.pack_sequences): per hash shard, documents
    concatenate in doc_id order and the token stream splits into
    512-token sequences; each doc gets (pack_seq, token_offset). One
    per-shard exchange, integer outputs — bit-identical across engines
    and cluster sizes."""
    from data_pipeline_project_spark.operators.corpus import pack_sequences
    from data_pipeline_project_spark.operators.text import token_count

    d = load_table(spark, "documents", sf_dir)
    sized = d.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    return pack_sequences(
        sized, "n_tok", id_col="doc_id", n_shards=8, seq_len=512, shard_method="md5"
    )


# ---- embedding int8 quantization ------------------------------------------

# Per-vector symmetric int8 quantization: scale = max|x|/127, q_i =
# round(x_i/scale) — the 4x storage shrink embedding stores apply
# before ANN indexing. Array outputs don't survive the harness's
# order-insensitive compare, so the contract columns are the rounded
# scale, a position-weighted checksum of the quantized vector (catches
# any per-element divergence), and a reconstruction-error bound
# boolean. All arithmetic is double (float32 inputs cast exactly) with
# identical op order in both engines.
EMBEDDING_QUANTIZE_ORACLE = """
WITH s AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
    FROM embeddings
),
q AS (
    SELECT vec_id, embedding, scale,
           CASE WHEN scale > 0
                THEN [round(embedding[i]::DOUBLE / scale)::BIGINT
                      for i in range(1, len(embedding) + 1)]
                ELSE [0::BIGINT for i in range(1, len(embedding) + 1)]
           END AS qv
    FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale6,
       list_sum([qv[i] * i for i in range(1, len(qv) + 1)])::BIGINT AS q_checksum,
       CASE WHEN scale > 0
            THEN len(list_filter(
                     [abs(qv[i] * scale - embedding[i]::DOUBLE)
                      for i in range(1, len(qv) + 1)],
                     e -> e > scale * 0.5000001)) = 0
            ELSE TRUE
       END AS recon_ok
FROM q
"""


def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    — pure JVM higher-order functions over the array, zero shuffle,
    zero Python, so it streams through the scan at any scale (the
    standard pre-ANN compression: 4x smaller vectors, ~1% recall
    cost). Checkable surface: rounded scale, position-weighted
    checksum of the quantized ints, and a boolean that reconstruction
    error never exceeds scale/2 (the tight bound for round-to-nearest,
    with 1e-7 relative headroom for the double divide)."""
    from data_pipeline_project_spark.functions.expr import let

    emb = load_table(spark, "embeddings", sf_dir)

    def stats(x):
        xd = F.transform(x, lambda e: e.cast("double"))
        scale = F.array_max(F.transform(xd, F.abs)) / F.lit(127.0)
        qv = F.when(
            scale > 0,
            F.transform(xd, lambda e: F.round(e / scale, 0).cast("bigint")),
        ).otherwise(F.transform(xd, lambda e: F.lit(0).cast("bigint")))
        return F.struct(scale.alias("scale"), qv.alias("qv"), xd.alias("xd"))

    s = emb.select("vec_id", let(F.col("embedding"), stats).alias("s"))
    scale, qv, xd = F.col("s.scale"), F.col("s.qv"), F.col("s.xd")
    checksum = F.aggregate(
        F.zip_with(
            qv,
            F.sequence(F.lit(1), F.size(qv)),
            lambda q, i: q * i.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    recon_ok = F.when(
        scale > 0,
        F.size(
            F.filter(
                F.zip_with(qv, xd, lambda q, e: F.abs(q * scale - e)),
                lambda e: e > scale * F.lit(0.5000001),
            )
        )
        == 0,
    ).otherwise(F.lit(True))
    return s.select(
        "vec_id",
        F.round(scale, 6).alias("scale6"),
        checksum.alias("q_checksum"),
        recon_ok.alias("recon_ok"),
    )


# ---- vocabulary coverage / OOV rate ---------------------------------------

_VOCAB_K = 50

VOCAB_OOV_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
vocab AS (SELECT term FROM counts ORDER BY n DESC, term LIMIT {_VOCAB_K})
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (term)
GROUP BY doc_id
"""


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary coverage: build the top-K corpus
    vocabulary (count-desc, term-asc tiebreak — deterministic) and
    measure each document's out-of-vocabulary token fraction — the
    go/no-go statistic for sizing a fixed vocabulary before training.
    Plan: one token aggregate -> top-K via TakeOrdered (bounded, no
    global sort materialization) -> broadcast membership flag onto the
    token stream -> per-doc aggregate. The corpus shuffles once (the
    term count); membership is a broadcast lookup."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(_VOCAB_K)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


# ---- count-min sketch term frequencies ------------------------------------

# The md5 bucket family makes the CMS bit-reproducible cross-engine,
# so the APPROXIMATE estimates themselves hash-check — the oracle
# rebuilds the identical sketch in SQL.
_CMS_D = "(SELECT unnest([0,1,2,3]) AS d)"

COUNT_MIN_ORACLE = f"""
WITH tok AS (
    SELECT unnest({SQL_TOKENS}) AS term FROM documents
),
pairs AS (
    SELECT d.d,
           ('0x' || substr(md5('cms' || d.d || ':' || term), 1, 15))::BIGINT
               % 1024 AS bucket
    FROM tok CROSS JOIN {_CMS_D} d
),
sketch AS (SELECT d, bucket, count(*) AS c FROM pairs GROUP BY d, bucket),
terms AS (SELECT term, count(*) AS exact_n FROM tok GROUP BY term),
probes AS (
    SELECT term, exact_n, d.d,
           ('0x' || substr(md5('cms' || d.d || ':' || term), 1, 15))::BIGINT
               % 1024 AS bucket
    FROM terms CROSS JOIN {_CMS_D} d
)
SELECT p.term, p.exact_n AS exact_n, min(s.c) AS cms_estimate,
       min(s.c) >= p.exact_n AS never_undercounts
FROM probes p JOIN sketch s USING (d, bucket)
GROUP BY p.term, p.exact_n
"""


def count_min_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch term frequencies
    (operators/sketches.count_min_table/count_min_estimates) beside the
    exact counts and the sketch's defining never-undercounts guarantee.
    The sketch's exchange moves at most depth x width counter rows per
    partition (map-side combine), never the token stream, and the
    deterministic md5 hash family means both engines compute the SAME
    approximation — the estimates hash-check exactly, not just their
    error bounds."""
    from data_pipeline_project_spark.operators.sketches import (
        count_min_estimates,
    )
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    est = count_min_estimates(tok, tok, "term")
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        exact.join(est.withColumnRenamed("item", "term"), "term")
        .select(
            "term",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_n")).alias(
                "never_undercounts"
            ),
        )
    )


# ---- duplicate-passage detection (deregistered-parity) ---------------------

_DP_K = 6
_DP_MIN = 10
_DP_MAXDF = 64

DUPLICATE_PASSAGES_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
sh AS (
    SELECT doc_id, i AS pos,
           {SQL_HASH.format(v=f"array_to_string(t[i+1:i+{_DP_K}], ' ')")} AS sh
    FROM toks, unnest(range(0, greatest(len(t) - {_DP_K} + 1, 0))) AS u(i)
),
el AS (
    SELECT sh FROM sh GROUP BY sh
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_DP_MAXDF}
),
m AS (SELECT s.doc_id, s.pos, s.sh FROM sh s JOIN el USING (sh)),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
    FROM m a JOIN m b USING (sh)
    WHERE a.doc_id < b.doc_id
),
isl AS (
    SELECT *, pos_a - row_number()
        OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS g
    FROM p
),
spans AS (
    SELECT doc_a, doc_b,
           min(pos_a) AS a_start, min(pos_b) AS b_start,
           max(pos_a) - min(pos_a) + {_DP_K} AS length_tokens
    FROM isl GROUP BY doc_a, doc_b, diag, g
)
SELECT doc_a, doc_b, a_start, b_start, length_tokens
FROM spans WHERE length_tokens >= {_DP_MIN}
"""


@register("duplicate_passages", oracle=DUPLICATE_PASSAGES_ORACLE)
def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (operators/corpus.duplicate_passages):
    maximal verbatim token spans shared between document pairs via
    hashed positional shingles + diagonal gaps-and-islands — the
    Lee-et-al.-2021 duplicate-passage surface, expressed without a
    suffix array so it distributes (df-capped self-join bounds fan-out
    like an LSH bucket cap)."""
    from data_pipeline_project_spark.operators.corpus import duplicate_passages as dp

    return dp(load_table(spark, "documents", sf_dir), k=_DP_K, min_tokens=_DP_MIN, max_df=_DP_MAXDF)


# ---- training-mixture sampling (deregistered-parity) -----------------------

_MIX_HEAVY = "('src0','src1','src2','src3','src4')"
_MIX_HEAVY_BUDGET = 1200
_MIX_LIGHT_BUDGET = 266

CORPUS_MIXTURE_ORACLE = f"""
WITH d AS (
    SELECT doc_id, source,
           len({SQL_TOKENS}) AS n_tokens,
           {SQL_HASH.format(v='doc_id::VARCHAR')} AS h
    FROM documents
),
b AS (SELECT *, h % 32 AS bkt FROM d),
cum AS (
    SELECT doc_id, source, n_tokens,
           (sum(n_tokens) OVER (PARTITION BY source ORDER BY bkt, h, doc_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
    FROM b
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM cum
WHERE cum_tokens <= CASE WHEN source IN {_MIX_HEAVY}
                         THEN {_MIX_HEAVY_BUDGET} ELSE {_MIX_LIGHT_BUDGET} END
"""


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction (operators/corpus.mixture_sample): five
    up-weighted sources get a 1200-token budget, the rest 266 tokens,
    filled in deterministic hash order. The Spark side computes the
    running totals with the skew-proof bucketed two-phase prefix sum;
    the oracle is ONE plain window per source — parity is the proof
    that the hierarchical decomposition reproduces the sequential
    semantics exactly."""
    from data_pipeline_project_spark.operators.corpus import mixture_sample

    d = load_table(spark, "documents", sf_dir)
    budgets = {f"src{i}": _MIX_HEAVY_BUDGET for i in range(5)}
    # default_budget covers the long tail — no scan to enumerate sources
    return mixture_sample(d, budgets, default_budget=_MIX_LIGHT_BUDGET)


# ---- weighted sampling per group (deregistered-parity) ---------------------

WEIGHTED_SAMPLE_ORACLE = f"""
WITH d AS (
    SELECT doc_id, source, len({SQL_TOKENS}) AS n_tokens FROM documents
),
keyed AS (
    SELECT doc_id, source, n_tokens,
           round(ln((({SQL_HASH.format(v='doc_id::VARCHAR')} % 1000000000) + 1)
                    / 1000000001.0) / n_tokens, 12) AS k
    FROM d WHERE n_tokens > 0
),
ranked AS (
    SELECT doc_id, source, n_tokens,
           row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS sample_rank
    FROM keyed
)
SELECT source, doc_id, n_tokens, sample_rank FROM ranked WHERE sample_rank <= 5
"""


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling
    (operators/corpus.weighted_sample_per_group): 5 docs per source,
    selection probability proportional to token count — the
    reproducible quality/length-weighted downsampling step for sources
    over budget. Hash-derived uniforms make the race deterministic, so
    even the SAMPLE hash-matches the oracle."""
    from data_pipeline_project_spark.operators.corpus import (
        weighted_sample_per_group,
    )
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return weighted_sample_per_group(d, "source", "n_tokens", k=5)


# ---- leakage-safe train/val/test split (deregistered-parity) ---------------

LEAKAGE_SPLIT_ORACLE = "WITH RECURSIVE " + _minhash_ctes() + f""",
sym AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
    SELECT DISTINCT src, src FROM sym
    UNION
    SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
),
cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
asg AS (
    SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
),
b AS (
    SELECT doc_id, cluster_id,
           {SQL_HASH.format(v="'split:' || cluster_id::VARCHAR")} % 100 AS bucket
    FROM asg
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       count(DISTINCT cluster_id) AS n_clusters
FROM b GROUP BY 1
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split WITHOUT near-duplicate leakage: the split
    is decided per DEDUP CLUSTER, not per document — every member of a
    MinHash near-dup cluster (connected component over the verified
    pair graph, singletons are their own cluster) hashes into the same
    split, so an edited copy of a training document can never land in
    the test set (the contamination mode Lee et al. 2021 measure;
    plain per-doc hashing guarantees it happens). Split choice is the
    same salted content-independent hash as train_val_test_split,
    applied to the cluster representative.

    Scale: the pair graph comes from the banded LSH join (work tracks
    true near-dup density), components converge in O(log diameter)
    pointer-jumping rounds, and the split itself is a pure projection
    + one aggregate. No step touches pairwise corpus scale.
    """
    from data_pipeline_project_spark.operators.dedup import connected_components
    from data_pipeline_project_spark.operators.text import token_hash

    d = load_table(spark, "documents", sf_dir)
    clusters = connected_components(minhash_lsh_pairs(d, threshold=0.5))
    assigned = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    bucket = (
        token_hash(F.concat(F.lit("split:"), F.col("cluster_id").cast("string")))
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return assigned.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )


# ---- JL random-projection compression (deregistered-parity) ----------------

_JL_K = 16

RANDOM_PROJECTION_ORACLE = f"""
WITH p AS (
    SELECT vec_id, j,
           round(list_sum([embedding[i]::DOUBLE *
                 (CASE WHEN ('0x' || substr(md5('jl:' || i::VARCHAR || ':' ||
                                             j::VARCHAR), 1, 15))::BIGINT % 2 = 0
                       THEN 1.0 ELSE -1.0 END)
                 for i in range(1, len(embedding) + 1)])
                 / sqrt({_JL_K}.0), 6) AS value
    FROM embeddings, range(1, {_JL_K} + 1) t(j)
)
SELECT vec_id, j AS dim_idx, value FROM p
"""


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss compression
    (operators/similarity.random_projection): 64-dim embeddings onto 16
    dims with a deterministic md5-sign matrix — the candidate-
    generation representation for ANN at 100 TB (4x less shuffle and
    cache per vector; rerank on the originals). Output is exploded to
    (vec_id, dim_idx, value) scalars so the driver hash checks every
    projected coordinate; the oracle recomputes the identical signs and
    sequential fold in SQL."""
    from data_pipeline_project_spark.operators.similarity import random_projection

    emb = load_table(spark, "embeddings", sf_dir)
    proj = random_projection(emb, vec_col="embedding", k=_JL_K)
    # posexplode_outer + a pos filter, not posexplode: Catalyst infers
    # size(proj) > 0 from an inner Generate and pushes it below the
    # projection computing the kernel, which then runs twice per row.
    return proj.select(
        "vec_id", F.posexplode_outer("proj").alias("pos", "raw")
    ).where(F.col("pos").isNotNull()).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("dim_idx"),
        F.round(F.col("raw"), 6).alias("value"),
    )


# ---- training-shard mixing quality (deregistered-parity) -------------------

SHARD_MIXING_ORACLE = f"""
WITH a AS (
    SELECT {SQL_HASH.format(v='doc_id::VARCHAR')} % 16 AS shard, source
    FROM documents
),
c AS (SELECT shard, source, count(*) AS n FROM a GROUP BY 1, 2),
t AS (SELECT shard, sum(n) AS shard_n FROM c GROUP BY 1),
g AS (SELECT source, sum(n) AS src_n FROM c GROUP BY 1),
tot AS (SELECT sum(n) AS total FROM c)
SELECT c.shard,
       t.shard_n::BIGINT AS n_docs,
       round(sum(pow(c.n::DOUBLE - (t.shard_n::DOUBLE * g.src_n::DOUBLE
                                    / tot.total::DOUBLE), 2)
                 / (t.shard_n::DOUBLE * g.src_n::DOUBLE / tot.total::DOUBLE)),
             6) AS chi2
FROM c
JOIN t USING (shard)
JOIN g USING (source), tot
GROUP BY c.shard, t.shard_n
"""


def shard_mixing_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-mixing audit for training-shard writers: per shard, the
    chi-square statistic of its source composition against the global
    source distribution — the number a data-loading team alarms on
    when a shard assignment stops mixing well (a skewed shard trains
    on a skewed mixture for its whole pass). Uses the same hash-mod-16
    assignment as training_shard_assignment, so this is the QA query
    for that writer.

    Scale: one narrow scan into a (shard x source) count table
    (bounded by 16 * |sources|), then joins of tiny aggregates — the
    single-row total rides a broadcast cross join (same documented
    pattern as tfidf's corpus-size scalar)."""
    from data_pipeline_project_spark.operators.text import token_hash

    d = load_table(spark, "documents", sf_dir).select(
        (token_hash(F.col("doc_id").cast("string")) % 16).alias("shard"),
        "source",
    )
    c = d.groupBy("shard", "source").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("shard").agg(F.sum("n").alias("shard_n"))
    g = c.groupBy("source").agg(F.sum("n").alias("src_n"))
    tot = c.agg(F.sum("n").alias("total"))
    exp = (
        F.col("shard_n").cast("double")
        * F.col("src_n").cast("double")
        / F.col("total").cast("double")
    )
    return (
        c.join(t, "shard")
        .join(F.broadcast(g), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("shard", F.col("shard_n").cast("bigint").alias("n_docs"))
        .agg(
            F.round(
                F.sum(F.pow(F.col("n").cast("double") - exp, 2) / exp), 6
            ).alias("chi2")
        )
    )


# ---- unicode normalization + encoding health (deregistered-parity) ---------

TEXT_NORMALIZATION_ORACLE = """
WITH planted AS (
    SELECT doc_id,
           text || CASE WHEN doc_id % 7 = 0 THEN ' cafe' || chr(769)
                        WHEN doc_id % 11 = 0 THEN chr(65533) || chr(7)
                        ELSE '' END AS t
    FROM documents
)
SELECT doc_id,
       nfc_normalize(t) <> t AS nfc_changed,
       (length(t) - length(replace(t, chr(65533), '')))::BIGINT AS n_replacement,
       (length(t) - length(regexp_replace(t,
            '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')))::BIGINT AS n_control,
       CASE WHEN length(t) > 0
            THEN round(length(regexp_replace(t, '[^\\x00-\\x7F]', '', 'g'))::DOUBLE
                       / length(t), 6)
            ELSE 1.0 END AS ascii_ratio
FROM planted
"""


def text_normalization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-health triage (operators/text.nfc_normalize /
    encoding_stats): NFC-divergence flag, U+FFFD replacement-char
    count (UTF-8 decode scars), C0 control-char count, and ASCII ratio
    per document. The synthetic corpus is clean ASCII, so the query
    PLANTS deterministic contamination (a combining-accent suffix on
    every 7th doc, a replacement char + BEL on every 11th) — both
    engines plant identically, making every code path non-vacuous.
    Python unicodedata and DuckDB nfc_normalize implement the same
    Unicode standard, so even the normalized-text comparison
    hash-matches."""
    from data_pipeline_project_spark.operators.text import (
        encoding_stats,
        nfc_normalize,
    )

    d = load_table(spark, "documents", sf_dir)
    t = F.concat(
        F.col("text"),
        # explicit combining acute (e + U+0301), NOT precomposed é —
        # NFC must have something to do; escape-proofed against editors
        F.when(F.col("doc_id") % 7 == 0, F.lit(" cafe\u0301"))
        .when(F.col("doc_id") % 11 == 0, F.lit("�\x07"))
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        (nfc_normalize(t) != t).alias("nfc_changed"),
        encoding_stats(t).alias("s"),
    ).select("doc_id", "nfc_changed", "s.*")


# ---- temperature-balanced mixture budgets (deregistered-parity) ------------

_MIX_TEMPERATURE = 0.7
_MIX_TOTAL_BUDGET = 100_000

TEMPERATURE_MIXTURE_ORACLE = f"""
WITH s AS (
    SELECT source, sum(len({SQL_TOKENS}))::BIGINT AS n_tokens
    FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS total FROM s),
p AS (
    SELECT source, n_tokens,
           n_tokens::DOUBLE / tot.total::DOUBLE AS share,
           pow(n_tokens::DOUBLE / tot.total::DOUBLE, {_MIX_TEMPERATURE}) AS pa
    FROM s, tot
),
z AS (SELECT sum(pa) AS zsum FROM p)
SELECT source,
       n_tokens,
       round(share, 6) AS share6,
       round(pa / z.zsum, 6) AS adj_share6,
       round(pa / z.zsum * {_MIX_TOTAL_BUDGET})::BIGINT AS budget_tokens
FROM p, z
"""


def temperature_mixture_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced source budgets (the multilingual-LM mixing
    rule of mBERT/XLM-R: q_l = p_l^alpha / sum p^alpha, alpha < 1 —
    up-samples tail sources, down-samples the head, without the
    all-sources-equal distortion of uniform mixing). The output budget
    column is exactly what operators/corpus.mixture_sample takes as its
    per-source budget dict, so this query IS the policy half of the
    sampling pipeline — collect it (bounded by the source count) and
    feed the sampler.

    Scale: one scan into a per-source aggregate; the corpus-total and
    normalizer are single-row aggregates over the SOURCE table riding
    broadcast cross joins (the documented bounded-scalar pattern)."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    s = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    tot = s.agg(F.sum("n_tokens").alias("total"))
    p = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
        F.pow(
            F.col("n_tokens").cast("double") / F.col("total").cast("double"),
            _MIX_TEMPERATURE,
        ).alias("pa"),
    )
    z = p.agg(F.sum("pa").alias("zsum"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round("share", 6).alias("share6"),
        F.round(F.col("pa") / F.col("zsum"), 6).alias("adj_share6"),
        F.round(F.col("pa") / F.col("zsum") * _MIX_TOTAL_BUDGET)
        .cast("bigint")
        .alias("budget_tokens"),
    )


# ---- quality-aware dedup keeper (deregistered-parity) ----------------------

KEEP_BEST_QUALITY_ORACLE = "WITH RECURSIVE " + _minhash_ctes() + f""",
sym AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
    SELECT DISTINCT src, src FROM sym
    UNION
    SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
),
cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
scored AS (
    SELECT cl.cluster_id, cl.doc_id, len({SQL_TOKENS}) AS n_tokens
    FROM cl JOIN documents USING (doc_id)
),
ranked AS (
    SELECT cluster_id, doc_id, n_tokens,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM scored
)
SELECT cluster_id, doc_id AS keeper_doc_id, n_tokens AS keeper_tokens,
       n_members
FROM ranked WHERE rk = 1
"""


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection by QUALITY, not id: within each near-dup
    cluster keep the doc with the most tokens (tie -> lowest id) —
    what a real dedup pipeline wants, since the min-id keeper of
    dedup_clusters happily keeps a truncated copy and drops the full
    document. One window per cluster over cluster-sized groups."""
    from data_pipeline_project_spark.operators.dedup import connected_components
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    clusters = connected_components(minhash_lsh_pairs(d, threshold=0.5))
    scored = clusters.join(
        d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_tokens").alias("keeper_tokens"),
            "n_members",
        )
    )


# ---- embedding QA: per-label centroid statistics (deregistered-parity) -----

EMBEDDING_CENTROID_ORACLE = """
WITH e AS (
    SELECT label, vec_id, u.x['dim'] AS dim, u.x['val'] AS val
    FROM embeddings,
         unnest([{'dim': i, 'val': embedding[i]::DOUBLE}
                 for i in range(1, len(embedding) + 1)]) u(x)
),
cent AS (
    SELECT label, dim, round(avg(val), 6) AS c
    FROM e GROUP BY 1, 2
),
cn AS (
    SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm
    FROM cent GROUP BY 1
),
vn AS (
    SELECT label, vec_id, round(sqrt(sum(val * val)), 6) AS vnorm
    FROM e GROUP BY 1, 2
),
an AS (
    SELECT label, count(*) AS n_vecs, round(avg(vnorm), 6) AS avg_vec_norm
    FROM vn GROUP BY 1
)
SELECT an.label, an.n_vecs, cn.centroid_norm, an.avg_vec_norm
FROM an JOIN cn USING (label)
"""


def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA before it feeds ANN/SemDeDup: per label,
    vector count, the NORM of the label centroid (near-zero when a
    label's vectors cancel — the classic symptom of mixed-up labels or
    unnormalized averaging), and the mean per-vector norm (drift from
    the unit sphere breaks cosine assumptions). The exploded
    (vec_id, dim, val) representation keeps everything in plain
    aggregates — no array kernels, no driver math, shuffles bounded by
    labels x dims and vectors. Rounding points (centroid at 6, then
    norms at 6) are identical in both engines so the floats hash."""
    emb = load_table(spark, "embeddings", sf_dir)
    e = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    ).select("label", "vec_id", (F.col("pos") + 1).alias("dim"), "val")
    cent = e.groupBy("label", "dim").agg(F.round(F.avg("val"), 6).alias("c"))
    cn = cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm")
    )
    vn = e.groupBy("label", "vec_id").agg(
        F.round(F.sqrt(F.sum(F.col("val") * F.col("val"))), 6).alias("vnorm")
    )
    an = vn.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("vnorm"), 6).alias("avg_vec_norm"),
    )
    return an.join(cn, "label").select(
        "label", "n_vecs", "centroid_norm", "avg_vec_norm"
    )


# ---- distribution drift: population stability index (deregistered) ---------

_PSI_EDGES = [0, 25, 50, 100, 200, 400, 800]  # n_tokens bucket edges

DRIFT_PSI_ORACLE = f"""
WITH scored AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'reference' ELSE 'current' END AS run,
           len({SQL_TOKENS}) AS m
    FROM documents
),
bucketed AS (
    SELECT run,
           CASE
               WHEN m < 25 THEN 0 WHEN m < 50 THEN 1 WHEN m < 100 THEN 2
               WHEN m < 200 THEN 3 WHEN m < 400 THEN 4 WHEN m < 800 THEN 5
               ELSE 6
           END AS bucket
    FROM scored
),
counts AS (
    SELECT bucket,
           count(CASE WHEN run = 'reference' THEN 1 END) AS n_ref,
           count(CASE WHEN run = 'current' THEN 1 END) AS n_cur
    FROM bucketed GROUP BY 1
),
tot AS (SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur FROM counts)
SELECT c.bucket, c.n_ref::BIGINT AS n_ref, c.n_cur::BIGINT AS n_cur,
       round(((c.n_cur + 0.5) / (t.t_cur + 0.5)
              - (c.n_ref + 0.5) / (t.t_ref + 0.5))
             * ln(((c.n_cur + 0.5) / (t.t_cur + 0.5))
                  / ((c.n_ref + 0.5) / (t.t_ref + 0.5))), 6) AS psi_term
FROM counts c, tot t
"""


def distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference and a current
    corpus slice (doc_id parity stands in for two ingest runs): per
    token-count bucket, both runs' counts and the PSI contribution
    ``(q - p) * ln(q / p)`` with add-half smoothing so an empty bucket
    contributes a finite term instead of infinity. Sum of psi_term > 0.2
    is the classic retrain/alarm threshold. FIXED bucket edges — data-
    derived quantile edges would make the monitor chase the drift it is
    supposed to measure (and exact quantiles differ across engines).

    Scale: one scan -> bucket projection -> 7-row aggregate; the totals
    ride a broadcast cross join of a 1-row aggregate."""
    d = load_table(spark, "documents", sf_dir)
    from data_pipeline_project_spark.operators.text import tokens

    m = F.size(tokens(F.col("text")))
    bucket = (
        F.when(m < 25, 0).when(m < 50, 1).when(m < 100, 2)
        .when(m < 200, 3).when(m < 400, 4).when(m < 800, 5).otherwise(6)
    )
    run = F.when(F.col("doc_id") % 2 == 0, "reference").otherwise("current")
    counts = (
        d.select(run.alias("run"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.when(F.col("run") == "reference", 1)).alias("n_ref"),
            F.count(F.when(F.col("run") == "current", 1)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


# ---- hard-negative mining for contrastive training (deregistered) ----------

def _hard_negative_oracle() -> str:
    dot_qc = SQL_DOT.format(a="q.embedding", b="c.embedding")
    dot_qq = SQL_DOT.format(a="q.embedding", b="q.embedding")
    dot_cc = SQL_DOT.format(a="c.embedding", b="c.embedding")
    return f"""
WITH sims AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS negative_id,
           round(({dot_qc}) / (sqrt({dot_qq}) * sqrt({dot_cc})), 6) AS cosine_sim
    FROM embeddings q JOIN embeddings c
      ON q.vec_id < 10 AND c.label != q.label
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, negative_id) AS rank
    FROM sims
)
SELECT query_id, query_label, negative_id, cosine_sim, rank
FROM ranked WHERE rank <= 5
"""


HARD_NEGATIVES_ORACLE = _hard_negative_oracle()


def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-5 most-similar vectors with a DIFFERENT label — the negatives
    that actually move an embedding model (random negatives are mostly
    trivial). Same broadcast-queries + Arrow cosine kernel + per-query
    window as the brute-force top-k, with the cross-label predicate
    inside the join; swap the corpus scan for the IVF index at scale
    (candidates from probed lists, label filter in the rerank)."""
    from data_pipeline_project_spark.operators.similarity import _as_double, cosine

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("c_label"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("c_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "negative_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return sims.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 5
    )


# ---- keyed PII pseudonymization (deregistered-parity) -----------------------

PSEUDONYMIZE_ORACLE = """
WITH p AS (
    SELECT substr(sha256('pepper-v1' || user_id::VARCHAR), 1, 16) AS user_pseudo,
           event_id
    FROM events WHERE user_id IS NOT NULL
)
SELECT user_pseudo, count(*) AS n_events,
       min(event_id) AS min_event_id, max(event_id) AS max_event_id
FROM p GROUP BY 1
"""


def pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization of a direct identifier: user ids become
    sha256(secret || id) prefixes — deterministic, so joins and
    group-bys still work across tables pseudonymized with the same
    key, but the mapping is irreversible without the secret (rotate
    the secret to break linkage between releases). The secret is a
    literal here; in production it is config-injected like the
    validation bounds. Grouping by the pseudonym IS the proof that
    join-preservation survived the transform."""
    ev = load_table(spark, "events", sf_dir).where(F.col("user_id").isNotNull())
    pseudo = F.substring(
        F.sha2(F.concat(F.lit("pepper-v1"), F.col("user_id").cast("string")), 256),
        1,
        16,
    )
    return ev.groupBy(pseudo.alias("user_pseudo")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


# ---- RefinedWeb line-level boilerplate dedup (deregistered-parity) ----------

BOILERPLATE_LINE_ORACLE = """
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'copyright 2026 example corp' || chr(10) || 'home about contact'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'rare line ' || CAST(doc_id AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
),
parts AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM aug),
lines AS (
  SELECT doc_id, u.x['pos'] AS pos, trim(u.x['line']) AS line
  FROM parts, unnest([{'pos': i - 1, 'line': p[i]} for i in range(1, len(p) + 1)]) u(x)
),
boiler AS (SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 5),
kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)),
rebuilt AS (
  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text,
         count(*) AS n_kept FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, len(string_split(text, chr(10))) AS total FROM aug)
SELECT t.doc_id, coalesce(r.text, '') AS text,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_kept,
       CAST(t.total - coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_dropped
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


@register("boilerplate_line_dedup", oracle=BOILERPLATE_LINE_ORACLE)
def boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style cross-document LINE deduplication
    (operators/corpus.drop_boilerplate_lines): a line appearing in >= 5
    distinct documents is boilerplate (cookie banners, nav bars,
    footers) and is removed from every document, preserving the order
    of surviving lines. The synthetic corpus is single-line, so the
    harness plants the boilerplate deterministically in BOTH engines:
    every third document gains a two-line footer, every fifth a unique
    'rare line' (which must survive). The operator's scale shape: one
    df-count shuffle on the line table, the (tiny) above-threshold
    boilerplate set broadcast back as an anti join, one reassembly
    shuffle on doc_id."""
    from data_pipeline_project_spark.operators.corpus import drop_boilerplate_lines

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    footer = F.concat(
        F.lit("\n"), F.lit("copyright 2026 example corp"), F.lit("\n"), F.lit("home about contact")
    )
    rare = F.concat(F.lit("\nrare line "), F.col("doc_id").cast("string"))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, footer).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, rare).otherwise(F.lit("")),
        ).alias("text"),
    )
    return drop_boilerplate_lines(aug, text_col="text", id_col="doc_id", min_df=5)


# ---- Inverted index / posting lists (deregistered-parity) -------------------

INVERTED_INDEX_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT doc_id, u.x AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), unnest(toks) u(x)
)
SELECT term, count(*) AS df,
       array_to_string(list(doc_id ORDER BY doc_id)[1:20], ',') AS postings
FROM pairs GROUP BY term
"""


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the core build step of distributed
    text search (and of the (doc,term) statistics behind tf-idf): per
    term, the document frequency and the posting list of matching doc
    ids, sorted ascending, CAPPED at the first 20 entries so a stop
    word cannot materialize a corpus-sized array in one row, and
    emitted comma-joined (the cross-engine compare hashes scalars, not
    arrays). The
    distinct (term, doc) pair table is ONE shuffle; the posting
    aggregate is a second, keyed by term. At 100 TB postings are
    segmented (one row per (term, doc_id_bucket)) instead of capped —
    same plan with one more group key; the cap here keeps the oracle
    row bounded. sort_array + slice makes the output deterministic
    under any partitioning (collect_list order is not)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .distinct()
    )
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
        ).alias("postings"),
    )


# ---- MinHash-LSH recall contract (deregistered-parity) ----------------------

def _minhash_recall_oracle() -> str:
    true_pairs = NGRAM_JACCARD_ORACLE.replace(">= 0.3", ">= 0.5").strip()
    return (
        "WITH "
        + _minhash_ctes()
        + f""",
true_pairs AS ({true_pairs}),
found AS (
    SELECT p.id_a, p.id_b FROM pairs p
    JOIN true_pairs t ON t.id_a = p.id_a AND t.id_b = p.id_b
)
SELECT (SELECT count(*) FROM true_pairs) AS n_true,
       (SELECT count(*) FROM found) AS n_caught,
       round((SELECT count(*) FROM found)::DOUBLE
             / (SELECT count(*) FROM true_pairs), 6) AS recall,
       (SELECT count(*) FROM found)::DOUBLE
           / (SELECT count(*) FROM true_pairs) >= 0.9 AS meets_floor
"""
    )


MINHASH_LSH_RECALL_ORACLE = _minhash_recall_oracle()


def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-dedup twin of ivf_ann_recall: measured recall of the
    banded MinHash-LSH candidate path against the EXACT pairwise
    Jaccard truth on the bounded 500-doc window, with a >= 0.9 floor.
    The corpus's true near-dups are near-identical (jaccard >= 0.9),
    where the 4x4 banding's catch probability is ~1 - (1-j^4)^4 >
    0.995 — so a recall miss means the pipeline (shingles, signatures,
    banding, verification) broke, not that the corpus drifted. Both
    engines rebuild identical buckets bit-for-bit, so even the
    approximate path's counts hash-check exactly."""
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist
    from data_pipeline_project_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        shingle_hashes,
    )

    d = load_table(spark, "documents", sf_dir)
    prefix = d.where(F.col("doc_id") < 500)
    # filter the cached rows (see dedup_ngram_jaccard)
    base = scoped_persist(
        prefix.select("doc_id", shingle_hashes(F.col("text")).alias("sh"))
    ).where(F.size("sh") > 0)
    a = base.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    true_pairs = jaccard_pairs(a.join(b, F.col("id_a") < F.col("id_b")), 0.5).select(
        "id_a", "id_b"
    )
    found = (
        minhash_lsh_pairs(d, threshold=0.5)
        .select("id_a", "id_b")
        .join(true_pairs, ["id_a", "id_b"], "left_semi")
    )
    n_true = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    n_caught = found.agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        n_true.crossJoin(F.broadcast(n_caught))
        .select(
            "n_true",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_true"), 6).alias("recall"),
            (F.col("n_caught") / F.col("n_true") >= 0.9).alias("meets_floor"),
        )
    )


# ---- reference-trained bigram LM score (deregistered-parity) ----------------

BIGRAM_LOGPROB_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
bg AS (
    SELECT doc_id, u.x['w1'] AS w1, u.x['w2'] AS w2
    FROM toks,
         unnest([{{'w1': t[i-1], 'w2': t[i]}} for i in range(2, len(t) + 1)]) u(x)
),
train_tok AS (
    SELECT unnest(t) AS term FROM toks WHERE doc_id % 2 = 0
),
uni AS (SELECT term, count(*) AS c FROM train_tok GROUP BY term),
total AS (SELECT count(*) AS n FROM train_tok),
big AS (
    SELECT w1, w2, count(*) AS c12 FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
big_lp AS (
    SELECT big.w1, big.w2,
           round(ln(0.7 * (c12::DOUBLE / u1.c)
                    + 0.3 * (u2.c::DOUBLE / total.n)) * 1e6)::BIGINT AS lp6
    FROM big
    JOIN uni u1 ON u1.term = big.w1
    JOIN uni u2 ON u2.term = big.w2, total
),
uni_lp AS (
    SELECT term, round(ln(0.3 * (c::DOUBLE / n)) * 1e6)::BIGINT AS lp6
    FROM uni, total
),
floor_lp AS (
    SELECT round(ln(0.3 * 0.5 / n) * 1e6)::BIGINT AS lp6 FROM total
),
db AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY doc_id, w1, w2)
SELECT db.doc_id,
       sum(k)::BIGINT AS n_bigrams,
       round(sum(k * coalesce(b.lp6, u.lp6, f.lp6))::DOUBLE
             / (sum(k) * 1000000.0), 6) AS avg_logprob
FROM db
LEFT JOIN big_lp b ON b.w1 = db.w1 AND b.w2 = db.w2
LEFT JOIN uni_lp u ON u.term = db.w2, floor_lp f
GROUP BY db.doc_id
"""


@register("bigram_logprob_score", oracle=BIGRAM_LOGPROB_ORACLE)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality-scoring shape one order up from
    unigram_logprob_score: mean per-bigram log probability under a
    bigram LM trained on a REFERENCE SLICE of the corpus (doc_id % 2 =
    0 — CCNet trains on Wikipedia for the same reason), scored with
    Katz-style backoff: a bigram seen in training gets Jelinek-Mercer
    interpolation P(w2|w1) = 0.7 c(w1,w2)/c(w1) + 0.3 c(w2)/N; an
    unseen bigram backs off to 0.3 P(w2); an unseen WORD hits the
    0.5-count floor. Training on the scored corpus itself is the trap
    this design dodges (pinned by pytest): a self-trained conditional
    gives singleton contexts P(w2|w1) = 1, scoring gibberish HIGH.

    Plan: bigrams are a pure array HOF over the token array (no
    positional self-join); the training aggregates are vocab-bounded
    and broadcast; the per-(doc,bigram) counts left-join the LM tables
    in backoff order. Log-probs are int64 microlog fixed-point, so
    per-doc sums are order-independent — bit-stable cross-engine.

    r13 optimization attempt, MEASURED AND REVERTED: materializing the
    token frame + per-doc bigram counts (7 scan+tokenize subtrees
    collapse to 1) was tried in a 4-variant paired A/B — every persist
    variant lost (old 1.65 s median vs 2.02 persist-uni-only / 3.13
    full restructure, identical rows): each subtree here is one FUSED
    codegen pipeline over a page-cached single-row-group file, and
    cache materialization + InMemoryRelation reads + the extra
    db-to-big shuffle cost more than the seven cheap fused passes.

    r14 re-evaluation at 10x data (verdict item 7), MEASURED, fused
    form KEPT: 5 interleaved passes per variant on a 10x documents
    replica (~150 MB, 50k docs, beyond one row group's page-cache
    sweet spot) read fused 2.91 s median vs persist-toks 3.09 s
    (rows identical); at 1x fused 1.17 vs 1.20. The trade has not
    flipped by 10x — the token frame's columnar materialization +
    InMemoryRelation reads still cost more than seven fused
    scan+tokenize pipelines, so the recompute form stays at both
    regimes and the decision is recorded here and in
    OPTIMIZATION_r14.md rather than behind a size gate this data
    cannot justify."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    # Spark's sequence(2, n) counts DOWN when n < 2 (DuckDB's range is
    # empty there) — guard short docs explicitly.
    idx = F.when(F.size("t") >= 2, F.sequence(F.lit(2), F.size("t"))).otherwise(
        F.array().cast("array<int>")
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("t", i - 1).alias("w1"),
                    F.element_at("t", i).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")

    is_train = F.col("doc_id") % 2 == 0
    train_tok = toks.where(is_train).select(F.explode("t").alias("term"))
    uni = train_tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = train_tok.agg(F.count(F.lit(1)).alias("n"))
    big = bg.where(is_train).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))

    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    big_lp = (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    0.7 * (F.col("c12").cast("double") / F.col("c1"))
                    + 0.3 * (F.col("c2").cast("double") / F.col("n"))
                )
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("lp6"),
        )
    )
    uni_lp = uni.crossJoin(F.broadcast(total)).select(
        F.col("term").alias("w2"),
        F.round(F.log(0.3 * (F.col("c").cast("double") / F.col("n"))) * 1e6, 0)
        .cast("bigint")
        .alias("ulp6"),
    )
    floor_lp = total.select(
        F.round(F.log(0.3 * 0.5 / F.col("n")) * 1e6, 0).cast("bigint").alias("flp6")
    )

    db = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    scored = (
        db.join(big_lp, ["w1", "w2"], "left")
        .join(F.broadcast(uni_lp), "w2", "left")
        .crossJoin(F.broadcast(floor_lp))
        .select(
            "doc_id",
            "k",
            F.coalesce("lp6", "ulp6", "flp6").alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.col("k") * F.col("lp")).cast("double")
            / (F.sum("k") * F.lit(1000000.0)),
            6,
        ).alias("avg_logprob"),
    )


# ---- content-defined chunking (deregistered-parity) -------------------------

CDC_CHUNKS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
bp AS (
  SELECT doc_id, t,
         [i for i in range(3, len(t)+1)
            if ('0x' || substr(md5(t[i-2] || ' ' || t[i-1] || ' ' || t[i]), 1, 15))::BIGINT % 64 = 0] AS b
  FROM toks
),
seg AS (
  SELECT doc_id, t, b, u.i AS ci,
         CASE WHEN u.i = 0 THEN 1 ELSE b[u.i] + 1 END AS strt,
         CASE WHEN u.i = len(b) THEN len(t) ELSE b[u.i + 1] END AS nd
  FROM bp, unnest(range(0, len(b)+1)) u(i)
),
nonempty AS (
  SELECT doc_id, strt, nd,
         row_number() OVER (PARTITION BY doc_id ORDER BY strt) - 1 AS chunk_idx
  FROM seg WHERE nd >= strt
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(nd - strt + 1 AS BIGINT) AS n_tokens,
       md5(array_to_string(t[strt:nd], ' ')) AS chunk_hash
FROM nonempty JOIN toks USING (doc_id)
"""


@register("cdc_chunking", oracle=CDC_CHUNKS_ORACLE)
def cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over the corpus
    (operators/corpus.content_defined_chunks): rolling-3-gram-hash
    boundaries (≡ 0 mod 64), each chunk emitted with its index, token
    length, and md5 — the dedup-STORAGE layer below document-level
    MinHash and passage-level duplicate_passages. The boundary is a
    local property of the content, so edits only re-chunk their
    neighborhood (shift-invariance — pinned by pytest; the property
    fixed-size chunking lacks). Arrow kernel + explode, shuffle-free."""
    from data_pipeline_project_spark.operators.corpus import content_defined_chunks

    return content_defined_chunks(load_table(spark, "documents", sf_dir))


# ---- token entropy (deregistered-parity) ------------------------------------

TOKEN_ENTROPY_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents),
dt AS (SELECT doc_id, term, count(*) AS k FROM tok GROUP BY 1, 2),
dn AS (SELECT doc_id, sum(k) AS n FROM dt GROUP BY 1)
SELECT dt.doc_id,
       CAST(dn.n AS BIGINT) AS n_tokens,
       round(-sum(k * round(ln(k::DOUBLE / dn.n) * 1e6))::DOUBLE
             / (dn.n * 1e6), 6) AS token_entropy
FROM dt JOIN dn ON dt.doc_id = dn.doc_id
GROUP BY dt.doc_id, dn.n
"""


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-theoretic quality signal beside the Gopher ratios:
    near-zero entropy is 'spam spam spam', corpus-typical entropy is
    fluent text, and it composes with repetition_flags (which catches
    STRUCTURED repetition entropy alone misses). One (doc,term)
    aggregate (the same shuffle tf-idf pays) + one per-doc fold; the
    per-term logs are int64 microlog fixed-point, so the sum is
    order-independent and the float metric hash-checks cross-engine."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    dt = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("k"))
    return (
        dt.withColumn("n", F.sum("k").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id", "n")
        .agg(
            F.round(
                -F.sum(
                    F.col("k")
                    * F.round(F.log(F.col("k").cast("double") / F.col("n")) * 1e6, 0)
                ).cast("double")
                / (F.col("n") * 1e6),
                6,
            ).alias("token_entropy")
        )
        .select("doc_id", F.col("n").cast("bigint").alias("n_tokens"), "token_entropy")
    )


# ---- Zipf rank-frequency fit (deregistered-parity) --------------------------

ZIPF_FIT_ORACLE = f"""
WITH tok AS (SELECT unnest({SQL_TOKENS}) AS term FROM documents),
v AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM v),
pts AS (
    SELECT round(ln(rnk::DOUBLE) * 1e6)::BIGINT AS x6,
           round(ln(c::DOUBLE) * 1e6)::BIGINT AS y6
    FROM r
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(x6) AS DOUBLE) / 1e6 AS sx,
           CAST(sum(y6) AS DOUBLE) / 1e6 AS sy,
           CAST(sum(x6 * x6) AS DOUBLE) / 1e12 AS sxx,
           CAST(sum(x6 * y6) AS DOUBLE) / 1e12 AS sxy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS zipf_intercept
FROM s
"""


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: least-squares
    slope/intercept of ln(frequency) against ln(rank). Natural text
    sits near slope -1; a corpus drifting toward 0 (flat — synthetic or
    templated text) or below -1.5 (a few tokens dominating — boilerplate
    or collapse) fails the linguistic sanity check, which is why corpus
    QA dashboards track this number. The vocab table is
    corpus-bounded; the regression inputs are int64 microlog
    fixed-point so the sums (and therefore the fitted line) are
    bit-stable cross-engine. The rank window is a single ordered pass
    over the VOCABULARY, never the corpus."""
    from data_pipeline_project_spark.operators.text import tokens

    d = load_table(spark, "documents", sf_dir)
    tok = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    v = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("term"))
    pts = v.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1e6, 0)
        .cast("bigint")
        .alias("x6"),
        F.round(F.log(F.col("c").cast("double")) * 1e6, 0).cast("bigint").alias("y6"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x6").cast("double") / 1e6).alias("sx"),
        (F.sum("y6").cast("double") / 1e6).alias("sy"),
        (F.sum(F.col("x6") * F.col("x6")).cast("double") / 1e12).alias("sxx"),
        (F.sum(F.col("x6") * F.col("y6")).cast("double") / 1e12).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )


# ---- free-text PII detection + redaction (deregistered-parity) --------------

# Patterns restricted to the Java-regex / RE2 COMMON SUBSET (no
# backreferences, no lookaround), so Spark and DuckDB match and replace
# byte-identically. Kept module-level so operators and oracle stay in
# lockstep.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

PII_REDACTION_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for data'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' or ping 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 now'
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{PII_PHONE_RE}', '<PHONE>', 'g'),
             '{PII_IP_RE}', '<IP>', 'g')) AS redacted_md5
FROM aug
"""


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text PII scrubbing — the C4/RefinedWeb cleaning stage the
    structured :func:`pii_pseudonymize` does not cover: regex detection
    and in-place redaction of emails, NANP phone numbers, and dotted-
    quad IPs inside the document text. The synthetic corpus carries no
    PII, so the query INJECTS it deterministically from doc_id in both
    engines (the repo's standard non-vacuous-oracle pattern: doc_id%7
    docs gain an email, doc_id%11 docs a phone + IP, %77 both) and then
    must find exactly what was planted — and nothing in the clean docs
    (their md5 must equal the un-redacted text's, pinning the
    false-positive rate at zero).

    Redaction order is part of the contract (email → phone → IP) since
    replacement tokens must not create later matches. Everything is
    JVM-side regexp (whole-stage codegen, no UDF); at 100 TB this is a
    single projection pass over the corpus — the cost is the scan, and
    the redacted column can be written back partition-parallel.
    Patterns live in the Java/RE2 common subset so both engines agree
    byte-for-byte; real-world recall beyond these three classes (names,
    addresses) needs an NER model, which is out of regex scope by
    design."""
    d = load_table(spark, "documents", sf_dir)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com for data"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" or ping 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1 now"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IP_RE), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )
