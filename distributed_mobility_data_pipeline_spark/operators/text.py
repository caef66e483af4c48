"""Text-analysis operators for LLM training-data pipelines (north-star
extension, BASELINE.json: "text analysis" over `documents`).

All operators are pure column algebra over ``split``/``filter``/
``transform`` array expressions — no Python UDFs, so they stay inside
whole-stage codegen and scale linearly with no shuffle except the
explicitly-agg'd ones. Token model: whitespace tokens (the driver's
documents are space-separated); a BPE-ish regex variant is provided for
natural text.

Cross-engine notes: token ops use single-space split so Spark and the
DuckDB oracle agree byte-for-byte; ratios divide exact longs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Public common-word lists, truncated.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"],
}


def _tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), " ")


def normalize_text(col: str = "text") -> Column:
    """Canonical form for fingerprinting: lower + trim + collapse
    internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), " +", " ")


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document stats: chars, tokens, distinct tokens,
    type-token ratio, mean token length.

    Three-stage projection (r20, guide §4): the token array is
    materialized ONCE, then each per-array stat (size, distinct size,
    summed token length) ONCE, then the ratios read the stat COLUMNS —
    the inlined form re-evaluated ``split(trim(text))`` up to 6× per
    row and ``array_distinct`` twice, because lambda subtrees are
    invisible to codegen subexpression elimination and CollapseProject
    keeps multi-referenced non-cheap aliases staged. Same staged-token
    fix as language_id/quality_parts (r19); values are bit-identical —
    identical expressions, evaluated once."""
    staged = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_actual"),
        _tokens().alias("_toks"),
    )
    toks = F.col("_toks")
    counted = staged.select(
        "doc_id",
        "lang",
        "n_chars_actual",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_tok_chars"),
    )
    n_tok = F.col("n_tokens")
    return counted.select(
        "doc_id",
        "lang",
        "n_chars_actual",
        "n_tokens",
        "n_distinct_tokens",
        (F.col("n_distinct_tokens").cast("double") / n_tok).alias(
            "type_token_ratio"
        ),
        (F.col("_tok_chars").cast("double") / n_tok).alias("mean_token_len"),
    )


def token_frequencies(docs: DataFrame) -> DataFrame:
    """Corpus token frequency table: explode → count → doc frequency."""
    toks = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID (n-gram heuristic family).

    Scores each language by stopword hits in the token stream; argmax
    with a fixed preference order (en > es > fr > de) and 'unknown' when
    every score is zero. Deterministic by construction, so it is
    oracle-checkable even on synthetic text where the true label is
    unrecoverable. Scoring and argmax live in _lang_scores/_argmax_lang,
    shared with plans/corpus health_per_doc.

    Three-stage projection (r19): tokens once, the four vote counts
    once, then the argmax over the count COLUMNS — the inlined form
    re-split the text and re-counted each language up to 5× per row
    (greatest + each tie comparison), and lambda subtrees are invisible
    to codegen subexpression elimination."""
    scores = _lang_scores(F.col("_toks"))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        _tokens().alias("_toks"),
    ).select(
        "doc_id",
        "lang_label",
        *[scores[lang].alias(f"score_{lang}") for lang in STOPWORDS],
    )
    col_scores = {lang: F.col(f"score_{lang}") for lang in STOPWORDS}
    return scored.select(
        "doc_id",
        "lang_label",
        *[f"score_{lang}" for lang in STOPWORDS],
        _argmax_lang(col_scores).alias("lang_pred"),
    )


def quality_parts(
    toks: Column | None = None,
) -> tuple[Column, Column, Column, Column, Column]:
    """The quality-score column expressions (n_tokens, type-token
    ratio, length score, short-token ratio, blended score) — exposed so
    single-scan compositions (plans/corpus corpus_health_by_source) can
    inline them instead of re-scanning the corpus through a joined
    quality_score() table.

    Pass ``toks`` referencing a MATERIALIZED token-array column to
    evaluate split(trim(text)) once per row instead of once per
    component (r19, guide §4 — lambda subtrees defeat codegen
    subexpression elimination, so each inlined copy re-splits)."""
    toks = _tokens() if toks is None else toks
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    len_score = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    short_tok_ratio = (
        F.size(F.filter(toks, lambda t: F.length(t) <= 2)).cast("double") / n_tok
    )
    score = (
        F.lit(0.4) * ttr + F.lit(0.4) * len_score + F.lit(0.2) * (1.0 - short_tok_ratio)
    )
    return n_tok, ttr, len_score, short_tok_ratio, score


def _lang_scores(toks: Column | None = None) -> dict[str, Column]:
    """Per-language stopword-vote score expressions — the ONE place the
    scoring rule lives (language_id and plans/corpus health_per_doc both
    derive from it, so the vote and tie rules can't desynchronize).
    ``toks`` as in :func:`quality_parts`."""
    toks = _tokens() if toks is None else toks
    scores: dict[str, Column] = {}
    for lang, words in STOPWORDS.items():
        in_list = F.array([F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(in_list, t)))
    return scores


def _argmax_lang(scores: dict[str, Column]) -> Column:
    """Argmax with the fixed en > es > fr > de tie preference and
    'unknown' when every score is zero."""
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in STOPWORDS:  # insertion order = preference order on ties
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return pred


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality score (length / repetition / lexical
    diversity), the LLM-data "quality scoring" filter. Components are
    ratios of exact counts; the blend is fixed-weight column algebra.

    The token array is materialized as its own projection so the split
    runs once per row, not once per component (see quality_parts)."""
    tokd = docs.select("doc_id", "n_chars", _tokens().alias("_toks"))
    n_tok, ttr, len_score, short_tok_ratio, score = quality_parts(
        F.col("_toks")
    )
    return tokd.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ttr.alias("type_token_ratio"),
        len_score.alias("length_score"),
        short_tok_ratio.alias("short_token_ratio"),
        score.alias("quality_score"),
        (score >= 0.5).cast("int").alias("keep"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprint: sha2-256 of the normalized text (the exact-
    dedup key; rolling-hash document fingerprinting family)."""
    return docs.select(
        "doc_id",
        F.sha2(normalize_text(), 256).alias("fingerprint"),
    )


def token_count_bpe_ish(docs: DataFrame) -> DataFrame:
    """Token counting with a BPE-ish regex (word pieces + digits +
    punctuation runs) — the natural-text variant of n_tokens. Regex kept
    to a class both Java and RE2 interpret identically."""
    pieces = F.expr(
        r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
    )
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        (F.size(pieces).cast("double") / F.length("text")).alias(
            "pieces_per_char"
        ),
    )


def chunk_documents(
    docs: DataFrame, chunk_size: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window document chunking — the tokenize-and-window step
    every LLM training pipeline runs before packing sequences. Chunks
    start every ``stride`` tokens (1, 1+stride, ...) while inside the
    doc; the tail chunk may be shorter than ``chunk_size``. With
    ``stride <= chunk_size`` every token is covered (overlap =
    chunk_size - stride); ``stride > chunk_size`` deliberately
    subsamples, leaving gaps between chunks.

    Pure column algebra (sequence + slice + posexplode): stays in
    whole-stage codegen, output rows ≈ n_tokens/stride per doc, no
    shuffle — at 100 TB this is a map-only stage."""
    tokd = docs.select("doc_id", _tokens().alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(1), n, F.lit(stride)),
        lambda start: F.struct(
            start.alias("start"),
            F.concat_ws(" ", F.slice(toks, start, chunk_size)).alias("chunk_text"),
            F.least(F.lit(chunk_size), n - start + 1).alias("n_chunk_tokens"),
        ),
    )
    return tokd.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.start").cast("int").alias("start_token"),
        F.col("c.n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


# PII patterns kept to syntax Java regex and RE2 (the DuckDB engine)
# interpret identically: explicit character classes, no lookaround, and
# no backslash escapes ([.] not \.) so the pattern survives SQL string
# literal parsing unchanged in both engines.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing: count and redact email addresses and NNN-NNN-NNNN
    phone numbers. The driver's synthetic corpus carries no PII, so the
    op appends a deterministic synthetic contact line per doc (derived
    from doc_id — identical in the oracle) before scrubbing; on real
    data drop the injection and scrub ``text`` directly.

    Returns counts plus a sha2 fingerprint of the redacted text (small
    row width; the full redacted corpus would be written, not
    collected)."""
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact_"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-867-5309"),
    )
    emails = F.expr(f"regexp_extract_all(_seeded, '{PII_EMAIL}', 0)")
    phones = F.expr(f"regexp_extract_all(_seeded, '{PII_PHONE}', 0)")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("_seeded"), PII_EMAIL, "<EMAIL>"),
        PII_PHONE,
        "<PHONE>",
    )
    return (
        docs.select("doc_id", seeded.alias("_seeded"))
        .select(
            "doc_id",
            F.size(emails).alias("n_emails"),
            F.size(phones).alias("n_phones"),
            F.sha2(redacted, 256).alias("redacted_fingerprint"),
        )
    )


def contamination_overlap(
    docs: DataFrame, bench_max_id: int, n: int = 8, min_overlap: int = 2
) -> DataFrame:
    """Benchmark-contamination check: which corpus documents share
    ≥ ``min_overlap`` word n-grams with a benchmark set (here: doc_id <
    ``bench_max_id`` stands in for the eval set). The standard
    decontamination pass before training.

    Shingle equi-join — never an all-pairs comparison: benchmark
    shingles (small side) broadcast against the corpus shingle table,
    overlap counted from the join, containment = overlap / benchmark
    shingle count. Same scale shape as the LSH dedup
    (dedup_llm.minhash_signatures).

    r19 (guide §2.4): each benchmark doc's shingle count is
    ``size(_grams)`` of the array-domain gram table — a map-side column
    riding the broadcast rows into the overlap aggregation (constant
    per group, picked with max) — so the separate bench_sizes groupBy
    and the post-aggregation join are gone, and the shingle lineage is
    computed once per side instead of three times."""
    from distributed_mobility_data_pipeline_spark.operators.dedup_llm import (
        _minhash_doc_table,
    )

    doc_tbl = _minhash_doc_table(docs, n, n_perm=0).select(
        "doc_id",
        F.size("_grams").cast("bigint").alias("_n_sh"),
        "_grams",
    )
    bench = doc_tbl.filter(F.col("doc_id") < bench_max_id).select(
        F.col("doc_id").alias("bench_id"),
        F.col("_n_sh").alias("_bench_total"),
        F.explode("_grams").alias("shingle"),
    )
    corpus = doc_tbl.filter(F.col("doc_id") >= bench_max_id).select(
        "doc_id", F.explode("_grams").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.max("_bench_total").alias("bench_total"),
        )
        .filter(F.col("n_shared") >= min_overlap)
        .select(
            "doc_id",
            "bench_id",
            "n_shared",
            "bench_total",
            (F.col("n_shared").cast("double") / F.col("bench_total")).alias(
                "containment"
            ),
        )
    )


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Intra-document repetition (the Gopher-family quality filter):
    fraction of word n-grams that are duplicates of an earlier n-gram in
    the same doc. Boilerplate/spam shows high dup ratios; natural text
    stays low. Map-only column algebra — no shuffle, no UDF."""
    tokd = docs.select("doc_id", _tokens().alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    ratio = (total - distinct).cast("double") / total
    return tokd.select(
        "doc_id",
        total.alias("n_ngrams"),
        distinct.alias("n_distinct_ngrams"),
        ratio.alias("dup_ngram_ratio"),
        (ratio < 0.3).cast("int").alias("keep"),
    )


def pack_chunks(
    chunks: DataFrame, budget: int = 256, chunk_size: int = 64
) -> DataFrame:
    """Greedy sequence packing: assign consecutive chunks of a document
    to token-budget bins (pack_id) — the step that turns chunks into
    fixed-budget training sequences. Because every in-document chunk
    except the tail has exactly ``chunk_size`` tokens, capacity-exact
    packing is ``chunk_idx // (budget // chunk_size)``: each pack holds
    at most budget tokens, ALWAYS (a cumulative-sum binning instead
    would let a boundary-straddling chunk overflow the budget). The
    at-most-budget guarantee requires ``budget >= chunk_size`` — with a
    smaller budget even a single full chunk would overflow, so that is
    rejected up front. Packing is PER DOCUMENT (window partitioned by
    doc_id), so it distributes: no global ordering, no cross-document
    contamination inside a packed sequence. ``cum_tokens`` (the per-doc
    running total) is kept as an audit column."""
    from pyspark.sql import Window

    if budget < chunk_size:
        raise ValueError(
            f"pack_chunks requires budget >= chunk_size "
            f"(got budget={budget}, chunk_size={chunk_size}): a single "
            f"full chunk would already exceed the pack budget"
        )
    per_pack = budget // chunk_size
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_chunk_tokens").over(w)
    # the capacity argument above assumes the chunks really were built
    # with THIS chunk_size: a wider actual chunk (caller passed a
    # chunk_size smaller than the one chunk_documents used) would
    # silently overflow every pack, so fail loudly per-row instead
    # (assert_true is NULL on success, making the when() a pass-through)
    guard = F.assert_true(
        F.col("n_chunk_tokens") <= chunk_size,
        F.lit(
            f"pack_chunks: chunk has more than chunk_size={chunk_size} "
            "tokens — the at-most-budget guarantee would break; pass the "
            "chunk_size the chunks were built with"
        ),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.when(guard.isNull(), F.col("n_chunk_tokens")).alias("n_chunk_tokens"),
        cum.alias("cum_tokens"),
        (F.col("chunk_idx") / F.lit(per_pack)).cast("int").alias("pack_id"),
    )


def token_rarity(docs: DataFrame, rare_df: int = 2) -> DataFrame:
    """Corpus-statistics quality signal: per-document mean token
    document-frequency and the fraction of rare tokens (df <= rare_df).
    Docs full of tokens nobody else uses are OCR noise / gibberish
    candidates; docs of only ultra-common tokens are boilerplate.

    Two-pass corpus shape (the TF-IDF family), built entirely from the
    per-(doc, token) count table: df is the number of tf rows per token,
    and per-doc sums weight df by tf — so the raw exploded token stream
    (the largest intermediate) is aggregated ONCE and never joined
    against again. All integer arithmetic until the final division —
    deterministic across engines with no transcendentals."""
    toks = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    # tf feeds the df rollup AND the final join — persist so the token
    # explode + first aggregation run once (r19, guide §5)
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist()
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(df_tbl, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("df")).alias("sum_df"),
            F.sum(
                F.col("tf") * (F.col("df") <= rare_df).cast("long")
            ).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_df",
            (F.col("sum_df").cast("double") / F.col("n_tokens")).alias(
                "mean_df"
            ),
            (F.col("n_rare").cast("double") / F.col("n_tokens")).alias(
                "rare_ratio"
            ),
        )
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k characteristic terms by a rational TF-IDF
    (tf * N_docs / df — same ordering as the log form for ranking, but
    exact integer/double arithmetic, so the oracle agrees bit-for-bit).
    Ties broken by token for determinism. The keyword-extraction /
    doc-labeling primitive."""
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    # tf feeds the df rollup AND the scored join — persist (r19, §5)
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist()
    # df from the tf table (distinct (doc, token) rows per token): the
    # raw token stream is shuffled once, not twice
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.col("n_docs").cast("double")
                / F.col("df").cast("double")
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "token", "tf", "df", "tfidf")
    )


def quality_percentile_filter(
    docs: DataFrame, drop_below: float = 0.1
) -> DataFrame:
    """Dynamic quality gate: drop the worst ``drop_below`` fraction of
    the corpus by quality score (exact percent_rank, doc_id tiebreak for
    determinism) instead of a fixed threshold — the adaptive variant
    pipelines use when score distributions drift between crawls.

    SCALE WARNING: ``percent_rank`` over an unpartitioned window routes
    every row through a SINGLE task (Spark's "No Partition Defined for
    Window operation" path) — a global sort that does not survive a
    billion-document corpus. This exact form exists as the small-scale
    oracle twin; production pipelines should use
    :func:`quality_histogram_cutoff_filter`, which computes the same
    drop-fraction cutoff from a fixed-bin histogram with no global
    sort."""
    from pyspark.sql import Window

    scored = quality_score(docs).select("doc_id", "quality_score")
    w = Window.orderBy("quality_score", "doc_id")
    ranked = scored.withColumn("pct_rank", F.percent_rank().over(w))
    # pct_rank = (rank-1)/(n-1): identical integer inputs on both
    # engines -> bit-identical doubles, no rounding needed
    return ranked.filter(F.col("pct_rank") >= drop_below).select(
        "doc_id", "quality_score", "pct_rank"
    )


def quality_histogram_cutoff_filter(
    docs: DataFrame, drop_below: float = 0.1, n_bins: int = 1000
) -> DataFrame:
    """Scale-safe dynamic quality gate: drop (conservatively, at most)
    the worst ``drop_below`` fraction of the corpus by quality score,
    with NO global sort.

    ``quality_score`` is a fixed-weight blend of ratios in [0, 1], so a
    fixed-width histogram over [0, 1] is exact and deterministic:

    1. bucket = min(floor(score * n_bins), n_bins - 1) — map-only;
    2. per-bucket counts — ONE distributed aggregation down to at most
       ``n_bins`` rows;
    3. cumulative fractions over the tiny histogram (a window over
       ≤ n_bins rows — bounded, never corpus-sized);
    4. cutoff bucket = first bucket whose cumulative mass exceeds
       ``drop_below`` (every bucket wholly inside the bottom mass is
       dropped — at most the requested fraction is ever removed);
    5. broadcast the one-row cutoff back and filter.

    Unlike ``percentile_approx``, every step is integer counting plus
    one double multiply, so the result is bit-reproducible across
    engines (hash-checkable against the DuckDB oracle) while the plan
    stays shuffle-light: no SinglePartition exchange over corpus-sized
    data anywhere. This is the production form of the dynamic gate at
    billions of documents; :func:`quality_percentile_filter` is its
    exact-rank small-scale twin. Dynamic counterpart of the fixed
    quality gates at reference utils/data_quality.py:36-95."""
    from pyspark.sql import Window

    scored = quality_score(docs).select("doc_id", "quality_score")
    bucket = F.least(
        F.floor(F.col("quality_score") * n_bins), F.lit(n_bins - 1)
    ).cast("int")
    bucketed = scored.withColumn("bucket", bucket)
    hist = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = hist.select(
        "bucket",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_all).alias("total_n"),
    )
    cutoff = cum.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("cum_n").cast("double")
                    <= F.lit(drop_below) * F.col("total_n"),
                    F.col("bucket") + 1,
                )
            ),
            F.lit(0),
        ).alias("cutoff_bucket")
    )
    return (
        bucketed.crossJoin(F.broadcast(cutoff))
        .filter(F.col("bucket") >= F.col("cutoff_bucket"))
        .select("doc_id", "quality_score", "bucket", "cutoff_bucket")
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram-LM quality score (the CCNet-family filter): per-document
    mean token log-probability under the corpus's OWN unigram
    distribution. Gibberish/OCR noise is full of improbable tokens and
    scores far below the corpus mode; boilerplate scores far above it —
    both tails are drop candidates.

    Corpus shape mirrors ``token_rarity``: the exploded token stream is
    aggregated ONCE into the per-(doc, token) tf table; corpus token
    totals and the grand total both derive from tf, never from a second
    pass over raw text. The per-doc sum accumulates in decimal(28,8)
    (order-insensitive, the functions/exact.py idiom) so the distributed
    sum is bit-identical to the single-threaded oracle."""
    # tf feeds the token totals, the grand total AND the final join —
    # persist so the token explode + first aggregation run once (r19,
    # guide §5); this is the materialized intermediate the docstring
    # promises ("aggregated ONCE into the per-(doc, token) tf table")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).persist()
    totals = tf.groupBy("token").agg(F.sum("tf").alias("c_tok"))
    grand = totals.agg(F.sum("c_tok").alias("n_total"))
    term = (
        F.col("tf").cast("double")
        * F.log(F.col("c_tok").cast("double") / F.col("n_total"))
    ).cast("decimal(28,8)")
    return (
        tf.join(totals, "token")
        .crossJoin(F.broadcast(grand))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(term).cast("double").alias("sum_logprob"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_logprob",
            (F.col("sum_logprob") / F.col("n_tokens")).alias(
                "mean_token_logprob"
            ),
        )
    )


def bigram_pmi(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Collocation extraction: pointwise mutual information of adjacent
    token pairs, PMI = ln(p(xy) / (p(x)·p(y))) — the phrase-mining
    signal (multi-word expressions score high; chance co-occurrences
    near zero). Corpus-wide bigram and unigram counts are two
    aggregations of the same exploded streams; the two scalar totals
    broadcast back as one-row literals. The integer ``min_count`` floor
    picks the output set deterministically; PMI itself is one ln per
    surviving bigram, rounded through decimal(28,8) for cross-engine
    hash parity."""
    toks = docs.select("doc_id", _tokens().alias("_toks"))
    t = F.col("_toks")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.struct(
                F.element_at(t, i + 1).alias("w1"),
                F.element_at(t, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    # bi feeds the bigram total and the filtered join; uni feeds the
    # unigram total and BOTH word joins — persist each so the explode +
    # count passes run once instead of 2-3× (r19, guide §5)
    bi = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    ).persist()
    uni = (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_tok"))
    ).persist()
    n_bi = bi.agg(F.sum("c_xy").alias("n_bigrams"))
    n_uni = uni.agg(F.sum("c_tok").alias("n_unigrams"))
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("n_bigrams"))
        / (
            (F.col("c_1").cast("double") / F.col("n_unigrams"))
            * (F.col("c_2").cast("double") / F.col("n_unigrams"))
        )
    )
    return (
        bi.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("token").alias("w1"), F.col("c_tok").alias("c_1")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("c_tok").alias("c_2")), "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_1",
            "c_2",
            pmi.cast("decimal(28,8)").cast("double").alias("pmi"),
        )
    )


def vocab_coverage(docs: DataFrame, vocab_size: int = 100) -> DataFrame:
    """Vocabulary builder: the top-``vocab_size`` tokens by corpus
    frequency (ties broken by token for determinism) with cumulative
    corpus-coverage share — the table that answers "how big must the
    vocab be to cover 95% of tokens?" and seeds tokenizer training.

    Scale shape: the global top-K compiles to TakeOrderedAndProject
    (per-partition top-K, then a K-row merge — never a global sort);
    ranking and the running total are windows over the K-row result
    (bounded), and the grand total broadcasts back as a one-row
    literal."""
    from pyspark.sql import Window

    uni = (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    grand = uni.agg(F.sum("n_occurrences").alias("n_total"))
    top = uni.orderBy(
        F.col("n_occurrences").desc(), F.col("token")
    ).limit(vocab_size)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(grand))
        .select(
            F.row_number().over(w).alias("vocab_id"),
            "token",
            "n_occurrences",
            F.sum("n_occurrences").over(w_cum).alias("cum_occurrences"),
            (
                F.sum("n_occurrences").over(w_cum).cast("double")
                / F.col("n_total")
            ).alias("cum_coverage"),
        )
    )
