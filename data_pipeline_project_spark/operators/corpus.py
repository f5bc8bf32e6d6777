"""Corpus-level training-data operators: benchmark decontamination and
fixed-length sequence packing (BASELINE.json north-star extensions; no
counterpart in the reference — these are the steps every LLM
pre-training pipeline runs between "clean corpus" and "training
shards").

Both operators are pure DataFrame compositions: the decontamination
join broadcasts only the (small) eval-set shingle vocabulary, and the
packer's only shuffle is the per-shard hash partitioning it needs
anyway to write shard files — so the plans are unchanged at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from data_pipeline_project_spark.operators.dedup import shingle_hashes


def contaminated_docs(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least
    one word ``n``-gram shingle with the held-out eval set, with the
    count of shared distinct shingles per document (the GPT-3 /
    The-Pile overlap rule, word-n-gram variant).

    Plan shape for 100 TB: eval benchmarks are KB-to-MB scale next to
    a TB train corpus, so the eval side collapses to a deduped shingle
    vocabulary that is explicitly broadcast; the train side streams
    through one scan -> Arrow shingle kernel -> explode -> broadcast
    hash join -> per-doc count. No shuffle ever carries the corpus —
    only (doc_id, shingle_hash) pairs that actually hit the eval
    vocabulary reach the aggregate.

    Returns (id_col, n_shared_shingles); downstream callers anti-join
    this frame to drop (or quarantine) contaminated documents.
    """
    ev = (
        eval_set.select(F.explode(shingle_hashes(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    tr = train.select(
        F.col(id_col), F.explode(shingle_hashes(F.col(text_col), n)).alias("sh")
    )
    # shingle_hashes is distinct within a document, so count(*) is the
    # per-doc count of DISTINCT shared shingles without a re-dedup.
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def repetition_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup_trigram_max: float = 0.2,
    top_bigram_max: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021): per-doc
    duplicate-trigram fraction (1 - distinct/total — a pure HOF
    projection) and most-frequent-bigram mass fraction (explode -> two
    hash aggregates keyed by the doc — work proportional to tokens,
    shuffle keyed on the doc id, so AQE splits any mega-doc and the
    plan holds at 100 TB). Docs tripping either threshold are flagged
    ``is_repetitive`` — the boilerplate/spam filter every pre-training
    cleanup runs.

    Returns (id_col, dup_trigram_frac, top_bigram_frac, is_repetitive);
    fractions are rounded to 1e-6 BEFORE thresholding so the booleans
    are bit-stable across engines.
    """
    from data_pipeline_project_spark.operators.text import ngrams, tokens

    t = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    # Materialize the trigram array as its own projection step before
    # size/distinct consume it: inlining ngrams() twice doubles an
    # already-wide expression tree (3 element_at per index position)
    # and the whole-stage-codegen compile cost goes superlinear in tree
    # size — measured ~13 s of DRIVER time at sf0.1 for the inlined
    # form vs sub-second split this way (execution time is unchanged).
    tri = t.select(id_col, ngrams(F.col("toks"), 3).alias("tg")).select(
        id_col,
        F.size(F.col("tg")).alias("n_tri"),
        F.size(F.array_distinct(F.col("tg"))).alias("n_tri_distinct"),
    )
    bstat = (
        t.select(F.col(id_col), F.explode(ngrams(F.col("toks"), 2)).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("maxc"), F.sum("c").alias("totc"))
    )
    dup_frac = F.round(
        F.when(
            F.col("n_tri") > 0,
            F.lit(1.0) - F.col("n_tri_distinct").cast("double") / F.col("n_tri"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    top_frac = F.coalesce(
        F.round(F.col("maxc").cast("double") / F.col("totc"), 6), F.lit(0.0)
    )
    return (
        tri.join(bstat, id_col, "left")
        .select(
            id_col,
            dup_frac.alias("dup_trigram_frac"),
            top_frac.alias("top_bigram_frac"),
            ((dup_frac > dup_trigram_max) | (top_frac > top_bigram_max)).alias(
                "is_repetitive"
            ),
        )
    )


def pack_sequences(
    docs: DataFrame,
    token_count_col: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seq_len: int = 512,
    shard_method: str = "md5",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style batch layout):
    documents are concatenated in deterministic (shard, id) order and
    the token stream is split into fixed ``seq_len`` windows; each
    document is assigned the sequence index and intra-sequence offset
    where its tokens begin.

    Scale shape: a global concatenation order would need a global sort,
    so the order is per-shard — shard by a pure hash of the id (same
    contract as ``sinks.shard_id``: partitioning-invariant, retry-safe)
    and pack independently within each shard. The only exchange is the
    per-shard hash partitioning; the running-token-count window runs
    inside it. At 100 TB you raise ``n_shards`` with the corpus, so
    per-shard state stays bounded and every shard packs in parallel.

    Returns (id_col, shard_id, pack_seq, token_offset) — all integers,
    a pure function of (ids, token counts), so two runs (or two
    engines) agree bit-for-bit.
    """
    from data_pipeline_project_spark.sinks.sinks import shard_id

    w = (
        Window.partitionBy("shard_id")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(token_count_col).over(w) - F.col(token_count_col)).cast("long")
    return (
        docs.withColumn(
            "shard_id", shard_id(F.col(id_col), n_shards, method=shard_method)
        )
        .withColumn("_start", start)
        .select(
            F.col(id_col),
            F.col("shard_id"),
            # integer `div`, not `/`+cast: double division loses
            # exactness past 2^53 tokens per shard
            F.expr(f"_start div {int(seq_len)}").alias("pack_seq"),
            (F.col("_start") % seq_len).cast("long").alias("token_offset"),
        )
    )


def _positional_shingle_rows(k: int, doc_id_type):
    """``mapInArrow`` generator over (doc_id, text) batches: one
    (doc_id, pos, sh) row per POSITIONAL (non-distinct) ``k``-shingle.
    Unlike dedup._shingle_kernel_factory every position keeps its hash,
    so span offsets survive; no minhash range-mod, full 60-bit digests.
    One batched md5 per Arrow batch (dedup._batch_shingle_hashes), and
    the rows leave the kernel flat — no per-doc list column for the JVM
    to explode. doc_id is gathered with ``take``, so a NULL id stays
    NULL; a NULL or short text yields no rows."""
    import re

    import numpy as np
    import pyarrow as pa

    from data_pipeline_project_spark.operators.dedup import _batch_shingle_hashes

    pat = re.compile("[^a-z0-9]+")
    schema = StructType(
        [
            StructField("doc_id", doc_id_type),
            StructField("pos", LongType()),
            StructField("sh", LongType()),
        ]
    )

    def rows(batches):
        for b in batches:
            counts, flat = _batch_shingle_hashes(b.column(1).to_pylist(), k, pat)
            doc = np.repeat(np.arange(b.num_rows, dtype=np.int64), counts)
            first = np.cumsum(counts) - counts  # each doc's first row
            pos = np.arange(len(flat), dtype=np.int64) - first[doc]
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(pa.array(doc)), pa.array(pos), pa.array(flat)],
                names=["doc_id", "pos", "sh"],
            )

    return rows, schema


def duplicate_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_tokens: int = 10,
    max_df: int = 64,
) -> DataFrame:
    """Exact duplicate-PASSAGE detection: maximal token spans (>=
    ``min_tokens`` tokens) shared verbatim between two documents — the
    substring-level dedup of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"), where whole-document and
    near-dup filters miss boilerplate paragraphs pasted into otherwise
    distinct pages.

    Suffix arrays don't distribute; the scale-correct Spark shape is
    shingle-diagonal islands:

    1. every positional ``k``-token shingle is hashed (one scan, no
       shuffle yet);
    2. shingles are grouped by hash and only those seen in 2..``max_df``
       distinct non-null doc ids survive (a shingle repeated inside
       one doc counts that doc once) — the df cap bounds the self-join
       fan-out exactly like an LSH band-bucket cap, so work scales with
       truly duplicated content, not corpus size squared;
    3. the surviving (doc, pos, hash) rows self-join on the hash: a
       match at positions (pa, pb) lies on diagonal ``pa - pb``, and a
       COPIED PASSAGE is a consecutive run along one diagonal;
    4. runs become one row each via the gaps-and-islands trick (a
       window partitioned by (doc_a, doc_b, diagonal) — never a global
       window), with span length ``max(pa) - min(pa) + k`` tokens.

    Returns (doc_a, doc_b, a_start, b_start, length_tokens) with
    0-based token offsets; callers cut or deduplicate the spans. A
    shingle inside a copied passage that leaks past ``max_df`` (ultra-
    boilerplate) splits its run — two shorter spans, never a false
    match.
    """
    # No k-shingle covers a run shorter than k tokens, so span length
    # is floor-bounded by k: min_tokens < k would silently under-report
    # duplicates in [min_tokens, k-1]. Fail loudly instead.
    if min_tokens < k:
        raise ValueError(
            f"min_tokens ({min_tokens}) must be >= k ({k}): spans shorter "
            "than the shingle width are undetectable, so a smaller "
            "min_tokens silently under-reports duplicates"
        )
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    # Positional shingle hashes via an Arrow kernel, not the
    # ngrams()+md5 expression form: the interpreted HOF tree under a
    # Generate measured ~35 s/pass at 5k docs, while the batched md5
    # kernel (identical digests — the oracle's '0x'||substr(md5,1,15)
    # contract) runs the same pass in well under a second. The kernel
    # emits the exploded rows itself (mapInArrow): a list-returning
    # pandas_udf under posexplode would run TWICE per row, because
    # Catalyst infers size(list) > 0 from the Generate and pushes that
    # filter below the projection computing the UDF.
    rows, schema = _positional_shingle_rows(k, docs.schema[id_col].dataType)
    # The shingle table feeds the df aggregate AND the join probe side:
    # persist it (query-scoped) so the kernel runs once per build.
    sh = scoped_persist(
        docs.select(F.col(id_col), F.col(text_col)).mapInArrow(rows, schema)
    )

    eligible = (
        sh.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("sh")
    )
    # ... and the filtered frame feeds BOTH sides of the diagonal
    # self-join: persist it too so the join runs over cached rows.
    m = scoped_persist(sh.join(eligible, "sh"))

    a = m.select("sh", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"))
    b = m.select("sh", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"))
    p = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )

    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = p.withColumn("_g", F.col("pos_a") - F.row_number().over(w))
    spans = isl.groupBy("doc_a", "doc_b", "diag", "_g").agg(
        F.min("pos_a").alias("a_start"),
        F.min("pos_b").alias("b_start"),
        (F.max("pos_a") - F.min("pos_a") + k).alias("length_tokens"),
    )
    return spans.where(F.col("length_tokens") >= min_tokens).select(
        "doc_a", "doc_b", "a_start", "b_start", "length_tokens"
    )


def mixture_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_buckets: int = 32,
    default_budget: int | None = None,
) -> DataFrame:
    """Training-mixture construction: fill a per-source TOKEN budget
    (mixing weights x total budget) with a deterministic,
    partitioning-independent document sample — the step that turns
    "40% web, 30% code, ..." into an actual document list.

    Documents are taken per source in a deterministic pseudo-random
    order (md5 hash of the id), accumulating token counts until the
    source's budget is filled (a doc that would cross the budget is
    excluded). Sources absent from ``budgets`` get ``default_budget``,
    or are dropped when it is None — so callers need not enumerate
    the long tail of sources (no scan to discover them).

    Scale shape: a naive per-source running sum is one window task per
    source — a straggler when one source is half the corpus. Instead
    the running total is decomposed hierarchically, the same trick as
    functions/positions.with_row_position: hash docs into
    ``n_buckets`` sub-buckets per source, aggregate per-bucket token
    sums (map-side combinable), take an exclusive prefix over the <=
    ``n_buckets`` bucket rows per source (tiny window), then add
    within-bucket running sums computed in parallel across (source,
    bucket) partitions. The global order is (bucket, hash, id), which
    the tiny-window/big-window split reproduces exactly — verified
    against a single-window DuckDB oracle, which is precisely the
    decomposition proof.

    Returns (id, source, n_tokens, cum_tokens) for kept documents.
    """
    from data_pipeline_project_spark.operators.text import token_hash, tokens

    d = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        token_hash(F.col(id_col).cast("string")).alias("_h"),
    ).withColumn("_bkt", F.pmod(F.col("_h"), F.lit(n_buckets)))

    per_bucket = d.groupBy(source_col, "_bkt").agg(F.sum("n_tokens").alias("_bt"))
    wb = (
        Window.partitionBy(source_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        source_col, "_bkt", F.coalesce(F.sum("_bt").over(wb), F.lit(0)).alias("_off")
    )

    ww = (
        Window.partitionBy(source_col, "_bkt")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget_map = F.create_map(
        *[F.lit(x) for kv in sorted(budgets.items()) for x in kv]
    )
    budget = budget_map[F.col(source_col)]
    if default_budget is not None:
        budget = F.coalesce(budget, F.lit(default_budget))
    return (
        d.join(F.broadcast(offsets), [source_col, "_bkt"])
        .withColumn("cum_tokens", F.sum("n_tokens").over(ww) + F.col("_off"))
        .withColumn("_budget", budget)
        .where(F.col("cum_tokens") <= F.col("_budget"))
        .select(id_col, source_col, "n_tokens", "cum_tokens")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group
    (Efraimidis–Spirakis A-Res): each row draws a pseudo-random uniform
    u from an md5 hash of its id and competes on the race key
    ``ln(u) / w`` — the top-k keys per group are a weighted sample
    without replacement. The training-data use: sample documents
    proportional to quality/length when a source exceeds its budget,
    reproducibly across runs and partitionings.

    Rows with weight <= 0 or null are excluded (zero-weight items can
    never win a race). The key is rounded to 12 places before ranking
    and ties break on id, so the selection is stable across engines
    down to the last ulp. 12 places keeps keys distinct for weights up
    to ~1e10 (ln(u) is in roughly [-21, 0), so ln(u)/w only collapses
    to 0.000000000000 once w exceeds ~2e12); beyond that the tie-break
    degrades the sample toward smallest-id selection — normalize
    weights first if yours are that large. One window per group —
    never a global sort.

    Returns (group, id, weight, sample_rank) for the k winners.
    """
    from data_pipeline_project_spark.operators.text import token_hash

    u = (
        (token_hash(F.col(id_col).cast("string")) % F.lit(1_000_000_000)) + 1
    ) / F.lit(1_000_000_001.0)
    key = F.round(F.ln(u) / F.col(weight_col), 12)
    w = Window.partitionBy(group_col).orderBy(F.desc("_ws_key"), F.col(id_col))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_ws_key", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .select(group_col, id_col, weight_col, "sample_rank")
    )


def drop_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_df: int = 5,
) -> DataFrame:
    """RefinedWeb-style cross-document line deduplication: a line whose
    exact (trimmed) content appears in at least ``min_df`` DISTINCT
    documents is boilerplate (navigation bars, cookie banners, footers
    — the dominant noise in web-crawl corpora) and is dropped from
    every document; all other lines keep their original order.

    Returns the input frame with ``text_col`` rewritten (documents may
    become empty) plus ``n_lines_kept`` / ``n_lines_dropped``.

    Scale shape (Penedo et al. 2023, RefinedWeb §G — reimplemented
    Spark-first, no reference-code counterpart): the line table is
    exploded ONCE and materialized (query-scoped persist — its two
    consumers would otherwise each re-run the scan+explode), ONE
    shuffle counts each line's document frequency, and the boilerplate
    set — only lines ABOVE the df threshold, a tiny fraction of the
    line vocabulary — comes back as a broadcast LEFT join that flags
    (rather than drops) boilerplate lines, so kept text, kept count
    and total count all come out of ONE reassembly shuffle keyed by
    ``id_col`` (r13: the drop-then-rejoin form cost a second explode
    pass, a third narrow scan for totals, and a corpus-sized outer
    join to restore all-boilerplate documents; flagging makes every
    document survive the aggregate by construction). Lines are
    compared by content string; at 100 TB swap the join key for
    xxhash64(line) to shuffle 8-byte keys instead of line text (not
    done here so the DuckDB oracle can replicate the operator
    bit-for-bit without a Spark-only hash).
    """
    from data_pipeline_project_spark.functions.persist_scope import scoped_persist

    other_cols = [c for c in docs.columns if c != text_col]
    lines = scoped_persist(
        docs.select(
            *other_cols,
            # coalesce NULL text to '' BEFORE the split (r13 advice):
            # split(NULL) is NULL and posexplode(NULL) emits zero rows,
            # which would silently drop null-text documents from the
            # aggregate — '' splits to [''] so every input document
            # still reaches the groupBy (one-row-per-doc contract).
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), F.lit(line_sep))
            ).alias("_bl_pos", "_bl_line"),
        ).withColumn("_bl_line", F.trim("_bl_line"))
    )

    boiler = (
        lines.groupBy("_bl_line")
        .agg(F.countDistinct(id_col).alias("_bl_df"))
        .where(F.col("_bl_df") >= min_df)
        .select("_bl_line", F.lit(True).alias("_bl_boiler"))
    )

    flagged = lines.join(F.broadcast(boiler), "_bl_line", "left")
    # collect_list skips nulls, so the when() keeps exactly the
    # non-boilerplate lines; count(*) is the document's total line
    # count (split() never returns an empty array, so every document
    # reaches the aggregate — all-boilerplate ones with an empty kept
    # list, which array_join renders as the same empty text the old
    # outer-join restore produced).
    return (
        flagged.groupBy(*other_cols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_bl_boiler").isNull(),
                        F.struct(F.col("_bl_pos"), F.col("_bl_line")),
                    )
                )
            ).alias("_bl_parts"),
            F.count(F.lit(1)).cast("int").alias("_bl_total"),
        )
        .select(
            *other_cols,
            F.array_join(
                F.transform(F.col("_bl_parts"), lambda s: s["_bl_line"]), line_sep
            ).alias(text_col),
            F.size("_bl_parts").alias("n_lines_kept"),
            (F.col("_bl_total") - F.size("_bl_parts")).alias("n_lines_dropped"),
        )
    )


def _cdc_chunk_kernel(texts):
    """Arrow kernel: per document, content-defined chunks as
    (chunk_idx, n_tokens, chunk_hash) structs. Boundary rule: after
    1-based token position i (i >= 3) iff the 60-bit md5 of the
    3-token window ending at i is divisible by the divisor — the same
    digest mechanism as the shingle kernels, so DuckDB replicates it
    bit-for-bit. chunk_idx numbering skips an empty trailing segment
    (boundary exactly at the document end) identically in both
    engines."""
    import re

    import pandas as pd

    pat = re.compile("[^a-z0-9]+")
    divisor = 64

    # Boundary detection = positional 3-shingle hashing, batched (one
    # md5 call per Arrow batch — guide §4.2); a boundary after 1-based
    # token i is shingle index i-3 (0-based) with hash % divisor == 0.
    import numpy as np

    from data_pipeline_project_spark.functions.md5_batch import md5_hex_strings
    from data_pipeline_project_spark.operators.dedup import _batch_shingle_hashes

    tok_lists = [
        [x for x in pat.split(t.lower()) if x] if t else [] for t in texts
    ]
    counts, flat = _batch_shingle_hashes(texts, 3, pat)
    parts = np.split(flat, np.cumsum(counts)[:-1])

    out = []
    pieces: list[str] = []  # chunk texts across the whole batch
    meta: list[list[tuple[int, int]]] = []  # (chunk_idx, n_tokens) per doc
    for toks, hs in zip(tok_lists, parts):
        bounds = (np.nonzero(hs % divisor == 0)[0] + 3).tolist()
        chunks = []
        starts = [1] + [b + 1 for b in bounds]
        ends = bounds + [len(toks)]
        for ci, (s0, e0) in enumerate(zip(starts, ends)):
            if e0 < s0:
                continue  # boundary at document end: empty tail segment
            pieces.append(" ".join(toks[s0 - 1 : e0]))
            chunks.append((ci, e0 - s0 + 1))
        meta.append(chunks)
    hexes = md5_hex_strings(pieces)  # one batched md5 for chunk hashes
    pi = 0
    for chunks in meta:
        doc_out = []
        for ci, ntok in chunks:
            doc_out.append((ci, ntok, hexes[pi]))
            pi += 1
        out.append(doc_out)
    return pd.Series(out)


def content_defined_chunks(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary rule, token
    granularity): a chunk boundary falls wherever the rolling 3-token
    hash is ≡ 0 mod 64, so boundaries are LOCAL PROPERTIES OF THE
    CONTENT — insert a sentence at the top of a document and only the
    chunks around the edit change their hashes, while every later
    chunk (and its dedup-storage hit) survives. Fixed-size chunking
    loses all of them (every boundary shifts). This is the chunking a
    dedup STORE runs under the corpus (dedupe shared chunks across
    near-identical documents at the byte/token level, below
    document-level MinHash and above passage-level duplicate_passages).

    Plan: one Arrow kernel pass per document (per-token md5 through
    interpreted HOF expressions is the measured-slow path — see
    shingle_hashes), one explode; no shuffle at all until whatever
    aggregation the caller adds. Expected chunk length = divisor
    tokens; pair with a (chunk_hash, count) aggregate for the
    storage-dedup ratio."""
    from data_pipeline_project_spark.operators.similarity import _udf

    k = _udf(
        "cdc_chunks",
        _cdc_chunk_kernel,
        "array<struct<chunk_idx:int,n_tokens:int,chunk_hash:string>>",
    )
    return docs.select(
        id_col, F.explode(k(F.col(text_col))).alias("_c")
    ).select(
        id_col,
        F.col("_c.chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("_c.n_tokens").cast("bigint").alias("n_tokens"),
        F.col("_c.chunk_hash").alias("chunk_hash"),
    )
