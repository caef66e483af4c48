"""Streaming corpus dedup (streaming/corpus.py): stream≡batch
equivalence on the driver's documents table plus duplicate suppression
on a planted re-ingestion."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark import schemas
from distributed_mobility_data_pipeline_spark.sources.readers import read_documents_stream
from distributed_mobility_data_pipeline_spark.streaming import corpus as sc
from distributed_mobility_data_pipeline_spark.streaming.events import run_stream_to_memory


def _docs_path(sf_dir):
    return os.path.join(sf_dir, "documents.parquet")


def test_stream_dedup_matches_batch(spark, sf_dir):
    batch = sc.dedup_stream_exact(spark.read.parquet(_docs_path(sf_dir)))
    stream = sc.dedup_stream_exact(
        read_documents_stream(spark, _docs_path(sf_dir))
    )
    out = run_stream_to_memory(spark, stream, "corpus_dedup", "append")
    assert sorted(r.fingerprint for r in out.collect()) == sorted(
        r.fingerprint for r in batch.collect()
    )


def test_stream_dedup_suppresses_reingestion(spark, tmp_path):
    base = spark.createDataFrame(
        [(1, "alpha beta", "en", "s0", 10), (2, "gamma delta", "en", "s0", 11)],
        schemas.DOCUMENTS,
    )
    redo = spark.createDataFrame(
        [(3, "Alpha  Beta", "en", "s1", 11), (4, "epsilon", "en", "s1", 7)],
        schemas.DOCUMENTS,
    )  # doc 3 normalizes to doc 1's content
    base.write.parquet(str(tmp_path / "f1.parquet"))
    redo.write.parquet(str(tmp_path / "f2.parquet"))
    stream = sc.dedup_stream_exact(
        read_documents_stream(spark, str(tmp_path) + "/*")
    )
    out = run_stream_to_memory(spark, stream, "corpus_reingest", "append")
    rows = out.select("doc_id").collect()
    ids = {r.doc_id for r in rows}
    assert 4 in ids and len(ids) == 3  # one of {1-or-3 dup pair} suppressed
    assert not {1, 3} <= ids  # never both copies of the same content


def test_stream_health_matches_batch_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    import os

    from pyspark.sql import functions as F

    from distributed_mobility_data_pipeline_spark.plans import corpus as cplan
    from distributed_mobility_data_pipeline_spark.streaming import corpus as sc

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "health")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sc.health_apply_batch(b0, 0, out)
    sc.health_apply_batch(b1, 1, out)

    merged = {r.source: r for r in sc.read_corpus_health(spark, out).collect()}
    want = {r.source: r for r in cplan.corpus_health_by_source(docs).collect()}
    assert set(merged) == set(want)
    for s, m in merged.items():
        w = want[s]
        # mergeable counts are exact
        assert (m.n_docs, m.total_tokens, m.n_quality_keep) == (
            w.n_docs,
            w.total_tokens,
            w.n_quality_keep,
        )
        assert m.n_lang_en == w.n_lang_en and m.n_lang_unknown == w.n_lang_unknown
        # distinct-text count is an HLL union: within the sketch envelope
        assert abs(m.approx_unique_texts - w.n_unique_texts) <= max(
            3, 0.05 * w.n_unique_texts
        )

    # replay must not change anything
    sc.health_apply_batch(b1, 1, out)
    again = {r.source: r for r in sc.read_corpus_health(spark, out).collect()}
    for s in merged:
        assert again[s].n_docs == merged[s].n_docs
        assert again[s].approx_unique_texts == merged[s].approx_unique_texts


def test_watermark_dedup_validates_and_runs(spark, tmp_path):
    """dedup_stream_within_watermark: a stream without the ingest
    timestamp is rejected with the composition hint; with one stamped,
    the bounded-state dedup runs end-to-end and suppresses the
    re-ingested duplicate."""
    import pytest

    base = spark.createDataFrame(
        [(1, "alpha beta", "en", "s0", 10), (2, "gamma delta", "en", "s0", 11)],
        schemas.DOCUMENTS,
    )
    redo = spark.createDataFrame(
        [(3, "Alpha  Beta", "en", "s1", 11)], schemas.DOCUMENTS
    )  # normalizes to doc 1's content
    base.write.parquet(str(tmp_path / "f1.parquet"))
    redo.write.parquet(str(tmp_path / "f2.parquet"))
    raw = read_documents_stream(spark, str(tmp_path / "f*.parquet"))

    with pytest.raises(ValueError, match="ingested_at"):
        sc.dedup_stream_within_watermark(raw)

    stamped = raw.withColumn("ingested_at", F.current_timestamp())
    out = run_stream_to_memory(
        spark,
        sc.dedup_stream_within_watermark(stamped),
        "corpus_wm_dedup",
        "append",
    )
    kept = sorted(r.doc_id for r in out.collect())
    assert kept in ([1, 2], [2, 3])  # one survivor per content, doc 2 always
