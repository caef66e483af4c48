"""Training-corpus preparation pipeline (north-star composition).

The end-to-end path an LLM data team runs over raw documents, composed
from this engine's individually oracle-verified operators:

    exact dedup → near-dup (MinHash+LSH) removal → quality filter →
    repetition filter → PII scrub → chunk → pack

Like plans/medallion.py, every stage is a pure DataFrame → DataFrame
function and the composition is ONE lazy plan unless the caller
materializes between stages. At 100 TB the expensive stages (LSH
banding, shingle joins) keep their equi-join shapes — see
operators/dedup_llm.py docstrings; everything else is map-only.

The reference has no corpus pipeline (it is a trips/mobility engine);
this is the documents-table twin of its medallion composition
(README.md:106-134's bronze→silver→gold chain re-expressed for
training data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.operators import dedup_llm, text


def drop_exact_duplicates(docs: DataFrame) -> DataFrame:
    """Keep one representative per identical normalized text (lowest
    doc_id wins — the shared canonical rule in dedup_llm)."""
    return dedup_llm.keep_first_by_fingerprint(docs)


def drop_near_duplicates(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Remove the higher-id member of every LSH-confirmed near-dup pair
    (MinHash banding → candidate equi-join → exact Jaccard ≥ threshold).
    Anti-join keeps the survivor set; never an all-pairs comparison.

    minhash_lsh_pairs returns every band-collision CANDIDATE with an
    ``is_dup`` verification flag — only verified pairs may drop a doc
    (an unfiltered candidate set would delete unrelated docs that merely
    share one band bucket)."""
    pairs = dedup_llm.minhash_lsh_pairs(docs, n=n, threshold=threshold)
    losers = (
        pairs.filter(F.col("is_dup") == 1)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(losers, "doc_id", "left_anti")


def apply_quality_filters(
    docs: DataFrame,
    min_quality: float = 0.5,
    max_dup_ngram_ratio: float = 0.3,
    min_tokens: int = 5,
) -> DataFrame:
    """Length + quality + repetition gates, map-only scores joined back
    on doc_id (each score table is narrow; the joins broadcast when the
    corpus side is large and the survivors small — Catalyst/AQE picks).
    The token-length floor exists because blend scores can't catch
    ultra-short docs: a one-token doc has perfect lexical diversity."""
    q = text.quality_score(docs).select("doc_id", "quality_score", "n_tokens")
    r = text.repetition_stats(docs, n=2).select("doc_id", "dup_ngram_ratio")
    return (
        docs.join(q, "doc_id")
        .join(r, "doc_id")
        .filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("dup_ngram_ratio") <= max_dup_ngram_ratio)
        )
        .drop("quality_score", "dup_ngram_ratio", "n_tokens")
    )


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact emails/phones in place (map-only; the counting variant is
    operators/text.redact_pii)."""
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), text.PII_EMAIL, "<EMAIL>"),
        text.PII_PHONE,
        "<PHONE>",
    )
    return docs.withColumn("text", redacted)


def prepare_training_corpus(
    docs: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    pack_budget: int = 256,
    near_dup_threshold: float = 0.5,
) -> dict[str, DataFrame]:
    """Full corpus-prep pipeline; returns every intermediate stage so
    callers can materialize/inspect any hand-off (same contract as
    plans/medallion.py)."""
    deduped = drop_exact_duplicates(docs)
    near_deduped = drop_near_duplicates(deduped, threshold=near_dup_threshold)
    filtered = apply_quality_filters(near_deduped)
    clean = scrub_pii(filtered)
    chunks = text.chunk_documents(clean, chunk_size=chunk_size, stride=stride)
    packed = text.pack_chunks(chunks, budget=pack_budget, chunk_size=chunk_size)
    return {
        "deduped": deduped,
        "near_deduped": near_deduped,
        "filtered": filtered,
        "clean": clean,
        "chunks": chunks,
        "packed": packed,
    }


def health_langs() -> tuple[str, ...]:
    """The language buckets every health surface reports — derived
    from text.STOPWORDS so adding a language updates the batch plan,
    the streaming partials, and the merge-on-read reader together."""
    from distributed_mobility_data_pipeline_spark.operators.text import STOPWORDS

    return tuple(STOPWORDS) + ("unknown",)


def health_per_doc(docs: DataFrame) -> DataFrame:
    """The ONE per-doc projection behind every corpus-health surface
    (batch dashboard + streaming partials): source, normalized-text
    fingerprint, token count, quality keep flag, language vote — all
    column expressions, single scan.

    Staged projections (r19, guide §4): the token array is split once,
    the four language vote counts are counted once, and the argmax CASE
    reads the count COLUMNS — the previous single inlined projection
    re-ran split(trim(text)) and the stopword counts up to ~16× per row
    because lambda subtrees are invisible to codegen subexpression
    elimination (the plan literally contained 16 copies of the split)."""
    from distributed_mobility_data_pipeline_spark.operators.text import (
        STOPWORDS,
        _argmax_lang,
        _lang_scores,
        _tokens,
        quality_parts,
    )

    from distributed_mobility_data_pipeline_spark.operators.dedup_llm import (
        content_fingerprint,
    )

    tokd = docs.select(
        "source",
        # NULL-safe: a NULL-text doc counts as its own distinct content
        # in the redundancy metric, not as a shared NULL fingerprint
        content_fingerprint().alias("_fp"),
        "n_chars",
        _tokens().alias("_toks"),
    )
    toks = F.col("_toks")
    n_tok, _, _, _, score = quality_parts(toks)
    lscores = _lang_scores(toks)
    scored = tokd.select(
        "source",
        "_fp",
        n_tok.alias("_n_tok"),
        (score >= 0.5).cast("int").alias("_keep"),
        *[lscores[lang].alias(f"_s_{lang}") for lang in STOPWORDS],
    )
    col_scores = {lang: F.col(f"_s_{lang}") for lang in STOPWORDS}
    return scored.select(
        "source",
        "_fp",
        "_n_tok",
        "_keep",
        _argmax_lang(col_scores).alias("_lang"),
    )


def corpus_health_by_source(docs: DataFrame) -> DataFrame:
    """Per-source corpus health dashboard in ONE single-scan lazy plan:
    volume, exact-dup redundancy, quality keep-rate, token mass, and
    language mix — the monitoring table a corpus-ingest pipeline
    publishes per source/crawl so mixture decisions (sampling weights,
    source cuts) are driven by measurements.

    Single-scan by construction: every per-doc signal (fingerprint,
    quality keep flag, language vote, token count) is a column
    EXPRESSION (text.quality_parts / text._lang_scores), not a joined
    table, so 100 TB of documents is read exactly once and the output
    is source-cardinality-sized. All aggregates are integer counts;
    the ratios are single final divisions — hash-exact cross-engine."""
    per_doc = health_per_doc(docs)
    n_docs = F.count(F.lit(1)).cast("bigint")
    n_unique = F.countDistinct("_fp").cast("bigint")
    return (
        per_doc.groupBy("source")
        .agg(
            n_docs.alias("n_docs"),
            n_unique.alias("n_unique_texts"),
            F.sum("_n_tok").cast("bigint").alias("total_tokens"),
            F.sum("_keep").cast("bigint").alias("n_quality_keep"),
            *[
                F.sum((F.col("_lang") == lng).cast("int"))
                .cast("bigint")
                .alias(f"n_lang_{lng}")
                for lng in health_langs()
            ],
        )
        .select(
            "source",
            "n_docs",
            "n_unique_texts",
            (
                (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
                / F.col("n_docs")
            ).alias("exact_dup_rate"),
            "total_tokens",
            (
                F.col("total_tokens").cast("double") / F.col("n_docs")
            ).alias("avg_tokens_per_doc"),
            "n_quality_keep",
            (
                F.col("n_quality_keep").cast("double") / F.col("n_docs")
            ).alias("quality_keep_rate"),
            *[f"n_lang_{lng}" for lng in health_langs()],
        )
    )
