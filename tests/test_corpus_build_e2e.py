"""Capstone integration: the full training-corpus build, end to end —
JSONL drops → streaming ingest (quarantine + dedup) → quality/language
cleaning → near-dup cluster keeper selection → benchmark
decontamination → repetition filter → deterministic split → sequence
packing → sharded training output → versioning and compaction. Each stage is
unit/oracle-tested on its own; this guards their COMPOSITION and the
determinism of the final artifact (two identical builds must produce
byte-identical shard membership and packing)."""

import json

import pytest

from pyspark.sql import functions as F

from data_pipeline_project_spark.operators.corpus import (
    contaminated_docs,
    pack_sequences,
    repetition_flags,
)
from data_pipeline_project_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from data_pipeline_project_spark.operators.text import text_stats_struct, token_hash
from data_pipeline_project_spark.sinks.manifest import (
    compact_snapshot,
    read_version,
    write_versioned_manifest,
)
from data_pipeline_project_spark.sinks.sinks import shard_id
from data_pipeline_project_spark.streaming.corpus_ingest import start_corpus_ingest

SF = "/root/testdata/sf0.001"


def _stage_drops(spark, drop_dir):
    """Documents table rendered as two JSONL drops with planted
    duplicates (last 50 ids repeat) and corrupt lines."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    half = len(docs) // 2
    with open(f"{drop_dir}/a.jsonl", "w") as f:
        for r in docs[:half]:
            f.write(json.dumps({"doc_id": r.doc_id, "text": r.text,
                                "meta": {"source": r.source, "lang": r.lang}}) + "\n")
        f.write("corrupt {line one\n")
    with open(f"{drop_dir}/b.jsonl", "w") as f:
        for r in docs[half - 50:]:  # 50-row overlap with drop a
            f.write(json.dumps({"doc_id": r.doc_id, "text": r.text,
                                "meta": {"source": r.source, "lang": r.lang}}) + "\n")
        f.write("corrupt {line two\n")
    return len(docs)


def _build(spark, tmp, tag):
    root = tmp / tag
    for sub in ("drop", "corpus", "quar", "ckpt"):
        (root / sub).mkdir(parents=True)
    n_docs = _stage_drops(spark, str(root / "drop"))

    # 1. streaming ingest: dedups the planted overlap, quarantines junk
    q, ing = start_corpus_ingest(
        spark, str(root / "drop"), str(root / "corpus"), str(root / "quar"),
        str(root / "ckpt"), expected_total_docs=10_000,
        max_files_per_trigger=1,  # each drop is its own dedup round
    )
    q.awaitTermination(180)
    assert ing.stats.rows_appended == n_docs
    assert ing.stats.rows_deduped == 50
    assert ing.stats.rows_quarantined == 2

    corpus = spark.read.parquet(str(root / "corpus"))
    meta = corpus.select(
        "doc_id", "text",
        F.col("meta")["source"].alias("source"),
        text_stats_struct(F.col("text"))["quality"].alias("quality"),
    )

    # 2. near-dup clusters over the ingested corpus; keep cluster minima
    clusters = connected_components(minhash_lsh_pairs(meta, threshold=0.5))
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    kept = meta.join(F.broadcast(losers), "doc_id", "left_anti")

    # 2b. benchmark decontamination: the doc_id % 17 slice stands in
    # for a held-out eval set — it leaves the train path entirely, and
    # any train doc sharing >= 8 trigram shingles with it is dropped
    # (the synthetic word-salad corpus makes 1-shingle overlap near-
    # universal, so the e2e uses a realistic multi-shingle threshold).
    eval_docs = kept.where(F.col("doc_id") % 17 == 0)
    train_docs = kept.where(F.col("doc_id") % 17 != 0)
    contaminated = contaminated_docs(train_docs, eval_docs).where(
        F.col("n_shared_shingles") >= 8
    )
    decontam = train_docs.join(
        F.broadcast(contaminated.select("doc_id")), "doc_id", "left_anti"
    )

    # 2c. repetition filter (no synthetic doc trips it — the stage
    # must still compose and pass everything through)
    rep = repetition_flags(decontam)
    final = decontam.join(
        F.broadcast(rep.where("is_repetitive").select("doc_id")),
        "doc_id",
        "left_anti",
    )

    # 2c2. cross-document line dedup (RefinedWeb boilerplate stage):
    # the synthetic docs are single-line and all distinct, so nothing
    # qualifies at min_df=5 — the stage must compose, preserve every
    # column and byte of text, and report zero drops.
    from data_pipeline_project_spark.operators.corpus import (
        drop_boilerplate_lines,
    )

    bl = drop_boilerplate_lines(final, min_df=5)
    assert bl.agg(F.sum("n_lines_dropped")).first()[0] == 0
    final = bl.drop("n_lines_kept", "n_lines_dropped")

    # 2d. model-based quality filter: a classifier trained against
    # synthetic junk negatives scores the corpus; the real docs all
    # land far above the 0.5 cut, so the stage composes, filters
    # deterministically (identical inputs -> identical LBFGS fit), and
    # passes the corpus through — the DCLM-style tier in the build.
    from data_pipeline_project_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    junk = spark.createDataFrame(
        [(900_000 + i, (("spam click buy " * 10)).strip()) for i in range(40)],
        ["doc_id", "text"],
    ).withColumn("label", F.lit(0.0))
    labeled = (
        final.select("doc_id", "text").withColumn("label", F.lit(1.0))
        .unionByName(junk)
    )
    qmodel = train_quality_classifier(labeled, max_iter=20)
    final = (
        score_quality(qmodel, final)
        .where(F.col("quality_prob") >= 0.5)
        .drop("quality_prob", "label")
    )

    # 3. deterministic split + sequence packing + sharded output
    bucket = token_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    train = final.where(bucket < 80).withColumn(
        "shard", shard_id(F.col("doc_id"), 4, method="md5")
    )
    packed = pack_sequences(
        train.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")),
        "n_tok",
        n_shards=4,
        seq_len=128,
    )
    assert packed.where(
        (F.col("token_offset") < 0) | (F.col("token_offset") >= 128)
    ).count() == 0
    train = train.join(
        packed.select("doc_id", "pack_seq", "token_offset"), "doc_id"
    )
    train.select(
        "doc_id", "text", "source", "shard", "pack_seq", "token_offset"
    ).repartition(16).write.partitionBy("shard").parquet(str(root / "train"))

    # 4. version the finished corpus, then compact it: the manifest pins
    # the exact file set a training run would consume, compaction merges
    # each shard's fragments into one file and tombstones them, and both
    # the pinned version and the compacted head read back every row
    train_path = str(root / "train")
    before = spark.read.parquet(train_path).count()
    m = write_versioned_manifest(train_path)
    assert m["version"] == 1
    stats = compact_snapshot(spark, train_path)
    assert stats["version"] == 2 and stats["partitions_compacted"] >= 1
    assert stats["files_compacted"] > stats["partitions_compacted"]
    assert read_version(spark, train_path, 1).count() == before
    assert read_version(spark, train_path).count() == before

    out = read_version(spark, train_path)
    return {
        s: sorted((r.doc_id, r.pack_seq, r.token_offset) for r in rows)
        for s, rows in (
            (g.shard, out.where(F.col("shard") == g.shard).collect())
            for g in out.select("shard").distinct().collect()
        )
    }


def test_full_corpus_build_is_deterministic(spark, tmp_path):
    run1 = _build(spark, tmp_path, "run1")
    run2 = _build(spark, tmp_path, "run2")
    assert run1.keys() == run2.keys()
    assert run1 == run2  # identical shard membership, build-to-build
    total = sum(len(v) for v in run1.values())
    assert 0 < total < 500  # split + dedup actually removed rows
