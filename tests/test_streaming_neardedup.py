"""Streaming near-dup admission: the persisted LSH band index must
reject re-ingested near-duplicates across micro-batches while admitting
genuinely new content."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.sources.readers import read_documents_stream
from distributed_mobility_data_pipeline_spark.streaming import corpus as sc


def _run(spark, src, out, idx, ckpt):
    stream = read_documents_stream(spark, src)
    q = sc.stream_neardedup_sink(stream, out, idx, ckpt)
    q.processAllAvailable()
    q.stop()


def test_neardedup_index_rejects_reingestion(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 100)
        .persist()
    )
    n_orig = docs.count()
    docs.write.mode("append").parquet(src)
    _run(spark, src, out, idx, ckpt)
    admitted = spark.read.parquet(out).persist()
    admitted1 = admitted.count()
    # the synthetic corpus contains a handful of genuine near-dups, so
    # greedy admission keeps most-but-not-necessarily-all originals
    assert 0.9 * n_orig <= admitted1 <= n_orig

    # second arrival: near-dups of ADMITTED docs (last token dropped,
    # new ids) + 20 genuinely-new docs (token-wise rewrites -> shingles
    # disjoint from everything)
    near = admitted.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, length(text) - instr(reverse(text), ' '))"
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    fresh = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), " "),
                # doc_id-salted rewrite: shingles disjoint across docs
                # too (unsalted, docs sharing trigrams would produce
                # near-dup rewrites of each other)
                lambda t: F.substring(
                    F.md5(
                        F.concat_ws("_", t, F.col("doc_id").cast("string"))
                    ),
                    1,
                    8,
                ),
            ),
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    near.unionByName(fresh).write.mode("append").parquet(src)
    _run(spark, src, out, idx, ckpt)
    final = spark.read.parquet(out)
    assert final.count() == admitted1 + 20  # near-dups rejected, new admitted
    assert final.filter(F.col("doc_id") >= 20_000).count() == 20
    assert final.filter(
        (F.col("doc_id") >= 10_000) & (F.col("doc_id") < 20_000)
    ).count() == 0
    admitted.unpersist()
    docs.unpersist()


def test_neardedup_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-applying a micro-batch with the
    same batch_id must leave corpus and index byte-identical (dynamic
    partition overwrite on batch_id), not append duplicates."""
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.col("doc_id") < 60
    )
    b0 = docs.filter(F.col("doc_id") < 30)
    b1 = docs.filter(F.col("doc_id") >= 30)

    sc.neardedup_apply_batch(b0, 0, out, idx)
    sc.neardedup_apply_batch(b1, 1, out, idx)
    corpus1 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    index1 = spark.read.parquet(idx).count()

    # replay batch 1 (crash-after-commit scenario)
    sc.neardedup_apply_batch(b1, 1, out, idx)
    corpus2 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    index2 = spark.read.parquet(idx).count()
    assert corpus2 == corpus1
    assert index2 == index1

    # replay batch 0 too (out-of-order redelivery)
    sc.neardedup_apply_batch(b0, 0, out, idx)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == corpus1
