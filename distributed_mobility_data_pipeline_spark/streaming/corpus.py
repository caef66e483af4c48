"""Streaming corpus ingestion (north-star extension): exact-dedup a
continuously-arriving document stream by content fingerprint.

The batch exact dedup (operators/dedup_llm.exact_dedup) keyed on
sha2(normalized text) has a direct streaming twin: ``dropDuplicates``
on the fingerprint keeps the FIRST arrival of each distinct content and
discards re-ingestions — the shape of a crawl pipeline that must not
re-emit documents it has already admitted.

State is one row per distinct fingerprint. Unbounded for a true
forever-crawl; in practice bounded with ``dropDuplicatesWithinWatermark``
when re-crawls cluster in time (the variant exposed here too). At
100 TB state lives in RocksDB on executors, keyed by the 32-byte hash —
the same state-size argument as streaming_dedup on event_id
(streaming/events.streaming_dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.sources import readers, writers
from distributed_mobility_data_pipeline_spark.streaming.sinks import start_sink


def with_fingerprint(docs: DataFrame) -> DataFrame:
    # NULL-safe grouping fingerprint (dedup_llm.content_fingerprint):
    # NULL-text docs must not collapse into one dropDuplicates group
    from distributed_mobility_data_pipeline_spark.operators.dedup_llm import (
        content_fingerprint,
    )

    return docs.withColumn("fingerprint", content_fingerprint())


def dedup_stream_exact(docs: DataFrame) -> DataFrame:
    """Keep the first arrival of each distinct normalized content.

    Same function body serves batch and streaming (unified API); the
    batch run is the oracle twin the tests compare against."""
    return with_fingerprint(docs).dropDuplicates(["fingerprint"])


def dedup_batch_exact(docs: DataFrame) -> DataFrame:
    """Deterministic batch twin of ``dedup_stream_exact`` (lowest doc_id
    wins per fingerprint) — the oracle-checkable form; the stream keeps
    arrival order instead, and tests prove the fingerprint sets agree.
    Delegates to the canonical rule in dedup_llm so the tie-break can
    never diverge from the batch corpus pipeline."""
    from distributed_mobility_data_pipeline_spark.operators.dedup_llm import (
        keep_first_by_fingerprint,
    )

    return keep_first_by_fingerprint(docs, keep_fingerprint=True).select(
        "doc_id", "source", "fingerprint"
    )


def dedup_stream_within_watermark(
    docs: DataFrame, ts_col: str = "ingested_at", delay: str = "1 hour"
) -> DataFrame:
    """Bounded-state variant: duplicates are only suppressed within the
    watermark horizon — the production choice when re-ingestions arrive
    close to the original and state must not grow forever.

    ``ts_col`` is the INGEST event-time column the watermark advances
    on. The raw documents table (schemas.DOCUMENTS) carries no timestamp, so
    an ingest pipeline stamps one (e.g. ``withColumn("ingested_at",
    F.current_timestamp())``) before this stage; a missing column is
    rejected up front with the composition hint rather than a bare
    UNRESOLVED_COLUMN from inside withWatermark."""
    fp = with_fingerprint(docs)
    if not fp.isStreaming:
        return fp.dropDuplicates(["fingerprint"])
    if ts_col not in fp.columns:
        raise ValueError(
            f"dedup_stream_within_watermark: column {ts_col!r} not in "
            f"{fp.columns} — stamp an ingest timestamp on the stream "
            "(e.g. .withColumn('ingested_at', current_timestamp())) "
            "before the bounded-state dedup"
        )
    return fp.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def neardedup_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    index_path: str,
    n: int = 3,
) -> None:
    """One idempotent micro-batch of near-dup corpus admission.

    Module-level (rather than a closure in stream_neardedup_sink) so
    the replay path is directly unit-testable: calling it twice with
    the same batch_id leaves corpus and index unchanged.
    """
    from pyspark.errors import AnalysisException

    from distributed_mobility_data_pipeline_spark.operators import dedup_llm

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    batch = batch_df.persist()
    try:
        bands = dedup_llm.band_hash_table(batch, n)
        try:
            idx = readers.read_batches(spark, index_path, before=batch_id).select(
                "band", "bhash"
            )
            has_index = True
        except AnalysisException:
            # index doesn't exist yet (first batch); any other failure
            # (corrupt files, permissions) propagates so a broken index
            # can't silently re-admit near-dups
            has_index = False
        if has_index:
            dup_ids = (
                bands.join(idx, ["band", "bhash"], "left_semi")
                .select("doc_id")
                .distinct()
            )
            fresh = batch.join(dup_ids, "doc_id", "left_anti")
        else:
            fresh = batch
        # intra-batch near-dups among the fresh docs: verified LSH
        # pairs, keep the lower doc_id of each pair
        pairs = dedup_llm.minhash_lsh_pairs(fresh, n).filter(
            F.col("is_dup") == 1
        )
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        survivors = fresh.join(losers, "doc_id", "left_anti").persist()
        if not survivors.isEmpty():
            writers.write_batch(survivors, out_path, batch_id)
            writers.write_batch(
                dedup_llm.band_hash_table(survivors, n), index_path, batch_id
            )
        survivors.unpersist()
    finally:
        batch.unpersist()


def stream_neardedup_sink(
    docs: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_path: str,
    n: int = 3,
):
    """Streaming NEAR-dup corpus admission: each micro-batch is checked
    against a persisted LSH band-hash index of everything admitted so
    far (operators/dedup_llm.band_hash_table), near/exact dups are
    rejected, survivors are appended and their band hashes added to the
    index — the online form of the batch MinHash/LSH dedup.

    Per micro-batch cost: minhash the batch (bounded), ONE left-semi
    equi-join of the batch's band rows against the index on
    (band, bhash) — membership never scans admitted TEXT — plus the
    intra-batch LSH pass among the batch's own docs. Greedy online
    semantics: a doc is admitted iff it is not a near-dup of anything
    ALREADY admitted (arrival order matters across chain-shaped
    clusters, as in any online dedup).

    foreachBatch is at-least-once, so corpus and index are replay-safe
    ``writers.write_batch`` partials. The index read takes only earlier
    batches (``readers.read_batches(before=batch_id)``), so a replay sees
    exactly the state the original attempt saw (the batch's own
    half-written bands can't flag its docs as dups of themselves) and
    deterministically rewrites the same partials.

    Returns the started StreamingQuery.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        neardedup_apply_batch(batch_df, batch_id, out_path, index_path, n)

    return start_sink(docs, _sink, checkpoint_path)


def health_apply_batch(
    batch_df: DataFrame, batch_id: int, out_path: str
) -> None:
    """One idempotent micro-batch of streaming corpus-health
    maintenance: write this batch's per-source counts as a replay-safe
    ``writers.write_batch`` partial.

    Every metric is chosen to MERGE: doc/token/keep/language counts are
    sums, and text uniqueness — not mergeable exactly — is carried as a
    per-partial HLL sketch of the normalized-text fingerprints, so
    merge-on-read unions sketches instead of re-reading any text."""
    from distributed_mobility_data_pipeline_spark.plans.corpus import (
        health_langs,
        health_per_doc,
    )

    if batch_df.isEmpty():
        return
    partial = (
        health_per_doc(batch_df)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n_tok").cast("bigint").alias("total_tokens"),
            F.sum("_keep").cast("bigint").alias("n_quality_keep"),
            *[
                F.sum((F.col("_lang") == lng).cast("int"))
                .cast("bigint")
                .alias(f"n_lang_{lng}")
                for lng in health_langs()
            ],
            F.hll_sketch_agg(F.col("_fp"), F.lit(12)).alias("fp_sketch"),
        )
    )
    writers.write_batch(partial, out_path, batch_id)


def read_corpus_health(spark, path: str) -> DataFrame:
    """Merge-on-read of the streaming health partials: per source, the
    summed counts plus the HLL-unioned approximate distinct-text count
    and the derived approx duplicate rate."""
    from distributed_mobility_data_pipeline_spark.plans.corpus import health_langs

    merged = (
        readers.read_batches(spark, path)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_quality_keep").cast("bigint").alias("n_quality_keep"),
            *[
                F.sum(f"n_lang_{lng}").cast("bigint").alias(f"n_lang_{lng}")
                for lng in health_langs()
            ],
            F.hll_sketch_estimate(F.hll_union_agg(F.col("fp_sketch")))
            .cast("bigint")
            .alias("approx_unique_texts"),
        )
    )
    return merged.withColumn(
        "approx_dup_rate",
        F.greatest(
            F.lit(0.0),
            (F.col("n_docs") - F.col("approx_unique_texts")).cast("double")
            / F.col("n_docs"),
        ),
    )
