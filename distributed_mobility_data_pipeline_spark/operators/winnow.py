"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the public local-fingerprinting algorithm behind MOSS).

Whole-document hashing (text.fingerprint) only catches EXACT dups;
MinHash/SimHash (dedup_llm) catch near-dups at the whole-document
level. Winnowing covers the third regime: SHARED PASSAGES — a document
that embeds a paragraph of another (boilerplate, quotations, template
reuse, copy-paste contamination) shares the fingerprints selected from
that passage, regardless of how different the rest is. The guarantee:
any shared run of at least w + k - 1 tokens yields at least one shared
fingerprint.

Algorithm: hash every word-level k-gram (rolling window), slide a
window of w consecutive k-gram hashes, select the MINIMUM hash per
window (rightmost position on ties — "robust winnowing"), keep the
distinct selected (hash, position) set per document.

Spark shape (100 TB): the k-gram hashing, window-min selection and
per-doc distinct all happen INSIDE the per-document array domain
(higher-order functions over the token array), so fingerprinting is
map-only — zero shuffles, no explode-then-window pass (optimization
guide §2.4: remove shuffles outright; the r19 round replaced the
explode → Exchange → Sort → 2×Window → distinct pipeline with this
form after measuring it 4× faster with a bit-identical result).
Document-pair detection is an equi-join on the fingerprint hash —
never all-pairs — with a document-frequency cap dropping boilerplate
fingerprints shared by more than ``max_df`` docs (the same stop-key
discipline as the LSH band join).

Cross-engine determinism: hashes are md5-hex-prefix integers (same
rule as dedup_llm/reconcile), and the rightmost-min-per-window
selection is encoded as an order-free ``min`` over a single packed
BIGINT — ``h * 2^21 + (2^21 - 1 - pos)`` — so the DuckDB oracle
computes the identical fingerprint set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.operators.layout import (
    ensure_min_parallelism,
)
from distributed_mobility_data_pipeline_spark.operators.text import normalize_text

# positions pack into the low 21 bits of the selection key: documents
# are limited to 2^21 - 1 (~2M) k-grams, far above any web document;
# h < 2^32 keeps the packed key under 2^53 — exact in BIGINT and even
# in a double.
_POS_CAP = 1 << 21


def _kgram_hash_arrays(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, _hs): per-document array of rolling word-level k-gram hashes
    (md5-hex-prefix integers), index i (0-based) ↔ pos i+1. Documents
    with fewer than k words get an empty array. Map-only.

    The token array and the hash array are each materialized as their
    own projection: higher-order lambdas re-evaluate their whole subtree
    per element, so an inlined split would re-run normalize+split once
    per k-gram (~n× per doc — the O(n²) the r19 plan audit caught), and
    CollapseProject keeps multi-referenced non-cheap aliases intact."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tokd = docs.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("_toks")
    )
    return tokd.select(F.col(id_col), _kgram_hash_expr(k).alias("_hs"))


def _kgram_hash_expr(k: int) -> "F.Column":
    """Rolling k-gram hash array expression over token column ``_toks``
    (empty array when the doc has fewer than k words)."""
    toks = F.col("_toks")
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 8),
                16,
                10,
            ).cast("bigint"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _packed_key_arrays(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, _keys): per-document array of packed selection keys
    ``h * 2^21 + (2^21 - 1 - pos)`` (pos 1-based), the lexicographic
    (h asc, pos desc) encoding the window minimum selects on. Map-only."""
    hd = _kgram_hash_arrays(docs, k, text_col, id_col)
    m = F.size(F.col("_hs"))
    # documents beyond the pack cap would make the offset negative and
    # silently corrupt the min selection — fail loudly instead
    # (assert_true returns NULL on success, so the when() is a no-op)
    guard = F.assert_true(
        m < _POS_CAP,
        F.lit(
            f"winnow: document exceeds {_POS_CAP - 1} k-grams; the packed "
            "selection key would corrupt — split longer documents before "
            "fingerprinting"
        ),
    )
    keys = F.when(
        guard.isNull(),
        F.transform(
            F.col("_hs"),
            lambda h, i0: h * _POS_CAP + (F.lit(_POS_CAP - 1) - (i0 + 1)),
        ),
    )
    return hd.select(F.col(id_col), keys.alias("_keys"))


def _window_min_keys(w: int) -> "F.Column":
    """Array of per-window minimum packed keys over column ``_keys``:
    element s (0-based) = min(_keys[s .. s+w-1]), one per full window
    start (1-based start s+1 ≤ m - w + 1). May contain duplicates —
    wrap in array_distinct (or hash-project first) at the consumer.

    NB: consumers must pass this EXPRESSION straight into
    ``F.explode(...)`` rather than materializing it as a column and
    exploding the attribute: exploding a bare attribute lets
    InferFiltersFromGenerate add a ``size(col) > 0`` filter that
    predicate pushdown then re-inlines through the projection chain,
    duplicating the whole O(n·w) fingerprint computation per row (a
    measured ~100× regression, r19)."""
    mk = F.size(F.col("_keys"))
    return F.when(
        mk >= w,
        F.transform(
            F.sequence(F.lit(1), mk - w + 1),
            lambda s: F.array_min(F.slice(F.col("_keys"), s, w)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct winnowed fingerprints per document:
    ``(id, fp_hash, fp_pos)``.

    Every window of ``w`` consecutive k-gram hashes contributes its
    minimum (rightmost on ties); the distinct union of those picks is
    the fingerprint set. Documents shorter than ``w + k - 1`` words
    have no full window and emit nothing (cf. Schleimer et al. §4 —
    guarantees start at that length).

    One pass in the per-document array domain (map-only, no shuffle):
    the rightmost-min is ``array_min`` of ``h * 2^21 + (2^21-1 - pos)``
    over each w-element slice — lexicographically (h asc, pos desc) —
    then ``array_distinct`` (the per-doc distinct; cross-doc collisions
    are impossible because the id is part of the output key) and
    unpacked. Only full windows (start ≤ n_kgrams - w + 1) are taken."""
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    kd = _packed_key_arrays(
        ensure_min_parallelism(docs), k, text_col, id_col
    )
    return kd.select(
        F.col(id_col),
        F.explode(F.array_distinct(_window_min_keys(w))).alias("_key"),
    ).select(
        id_col,
        F.expr(f"_key div {_POS_CAP}").alias("fp_hash"),
        (F.lit(_POS_CAP - 1) - F.col("_key") % _POS_CAP)
        .cast("bigint")
        .alias("fp_pos"),
    )


def winnow_dup_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_overlap: float = 0.3,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints — passage-level
    duplicate / contamination candidates.

    Returns ``(doc_a, doc_b, n_shared, overlap)`` with
    ``overlap = n_shared / min(|fp_a|, |fp_b|)`` (containment-style, so
    a short doc fully embedded in a long one scores 1.0), filtered to
    ``overlap >= min_overlap``, ``doc_a < doc_b``.

    Scale shape (reworked across the r19 optimization round, with
    bit-identical output at every step): the distinct per-doc
    fingerprint HASH set comes straight out of the array domain
    (map-only — no explode-then-distinct shuffle); ONE groupBy(fp_hash)
    then carries both the ``max_df`` df cap (boilerplate fingerprints
    would otherwise create quadratic candidate blow-up exactly like hot
    LSH bands) and the pair-generation doc arrays — the fingerprint
    table is shuffled exactly once. The capped per-hash arrays are
    computed ONCE per invocation (lazy ``persist`` — the size-count and
    both pair-side joins read the same cached blocks instead of each
    re-running the hashing pass; an eager localCheckpoint was measured
    strictly slower, since it serializes the materialization into its
    own job instead of letting the first consumer populate the cache
    in-flight), then pairs are generated per hash from the sorted doc
    array (≤ ``max_df`` docs ⇒ ≤ C(max_df, 2) pairs per hash) instead
    of a fingerprint-table self-join, and per-doc sizes re-aggregate
    from the capped arrays with map-side partial aggregation. Cached
    blocks are reclaimed by the ContextCleaner once the returned
    DataFrame is unreferenced (same discipline as the LSH shingle
    persist in dedup_llm)."""
    fps = _fp_hash_sets(ensure_min_parallelism(docs), k, w, text_col, id_col)
    kept_g = _kept_doc_groups(fps, max_df).persist()
    return _pairs_from_groups(kept_g, min_overlap)


def _fp_hash_sets(
    docs: DataFrame,
    k: int,
    w: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct (doc, fp_hash) rows straight from the per-document array
    domain — the hash projection (shiftright by the 21 position bits)
    and the distinct both happen inside the array, so no shuffle and no
    wasted position churn when the consumer only needs hash sets."""
    kd = _packed_key_arrays(docs, k, text_col, id_col)
    shift = _POS_CAP.bit_length() - 1  # log2 of the power-of-two cap
    hashes = F.array_distinct(
        F.transform(_window_min_keys(w), lambda key: F.shiftright(key, shift))
    )
    return kd.select(
        F.col(id_col).alias("doc"), F.explode(hashes).alias("fp_hash")
    )


def _kept_doc_groups(fps: DataFrame, max_df: int) -> DataFrame:
    """(fp_hash, _docs): per-fingerprint SORTED doc array, df-capped at
    ``max_df`` docs. ``fps`` must be distinct (doc, fp_hash) rows.

    One groupBy carries both the df cap (``size(_docs) <= max_df`` is
    exactly the old per-hash row count) and the pair-generation grouping
    — r19 fuse (guide §2.4): the previous count → left_semi join →
    re-group chain shuffled the fingerprint table three times for what
    one exchange provides. array_sort makes the array (docs are unique
    per hash) partitioning-insensitive."""
    return (
        fps.groupBy("fp_hash")
        .agg(F.array_sort(F.collect_list("doc")).alias("_docs"))
        .filter(F.size("_docs") <= max_df)
    )


def _pairs_from_groups(kept_g: DataFrame, min_overlap: float) -> DataFrame:
    """Overlap-scored pairs from df-capped per-hash doc arrays
    (:func:`_kept_doc_groups`; callers localCheckpoint it — two
    consumers below).

    Per-doc kept-fingerprint counts come from re-exploding the (small,
    capped) arrays into a partial-aggregating groupBy — map-side sums,
    a doc-count-sized result — instead of the previous full window pass
    over the fingerprint table (r19: the window shuffled and sorted
    every fingerprint row; this shuffles only per-doc partial counts).
    Pairs come from a nested array transform — each hash emits its
    C(d, 2) doc pairs map-side (bounded by the df cap), never a
    self-join. The two size joins run on the post-aggregation PAIR
    table (candidate-pair-sized), not the fingerprint table."""
    sizes = (
        kept_g.select(F.explode("_docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    ds = F.col("_docs")
    pairs_expr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(
                    x.alias("doc_a"),
                    y.alias("doc_b"),
                ),
            ),
        )
    )
    exploded = kept_g.select(F.explode(pairs_expr).alias("_p")).select("_p.*")
    shared = exploded.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    return (
        shared.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("_n").alias("_na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("_n").alias("_nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("_na", "_nb").cast("double")
            ).alias("overlap"),
        )
        .filter(F.col("overlap") >= min_overlap)
    )


def winnow_shared_spans(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_overlap: float = 0.3,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contamination forensics: for every winnow dup pair, the token
    span of the shared material in EACH document — where the copied
    passage sits, not just that it exists.

    For each pair above ``min_overlap``, join back to the positioned
    fingerprints shared by both docs and take min/max positions per
    side; spans are reported in 1-based token coordinates
    (``end = max k-gram position + k - 1``). Conservative envelope: the
    span covers all shared fingerprints, so disjoint shared passages
    merge into one bounding span.

    Scale shape: the pair table (already overlap-filtered) equi-joins
    the fingerprint table twice on (doc, hash) — candidate-bounded,
    never corpus × corpus. The POSITIONED fingerprint table is computed
    once in the array domain (map-only) and lazily persisted; the
    hash-set view, df-cap, pair scoring and both span joins all read
    that one cached computation instead of re-running the corpus k-gram
    hashing pass per consumer (it is the dominant cost). Lazy persist
    rather than eager localCheckpoint (r19): the eager form serializes
    materialization into its own job; letting the first consumer
    populate the cache in-flight was measured faster with identical
    output."""
    fpsp = winnow_fingerprints(
        ensure_min_parallelism(docs), k, w, text_col, id_col
    ).select(
        F.col(id_col).alias("doc"), "fp_hash", "fp_pos"
    ).persist()
    kept_g = _kept_doc_groups(
        fpsp.select("doc", "fp_hash").distinct(), max_df
    ).persist()
    fps = fpsp.join(kept_g.select("fp_hash"), "fp_hash", "left_semi")
    pairs = _pairs_from_groups(kept_g, min_overlap).select(
        "doc_a", "doc_b", "n_shared", "overlap"
    )
    fa = fps.select(
        F.col("doc").alias("doc_a"),
        "fp_hash",
        F.col("fp_pos").alias("pos_a"),
    )
    fb = fps.select(
        F.col("doc").alias("doc_b"),
        "fp_hash",
        F.col("fp_pos").alias("pos_b"),
    )
    shared = pairs.join(fa, "doc_a").join(fb, ["doc_b", "fp_hash"])
    return (
        shared.groupBy("doc_a", "doc_b", "n_shared", "overlap")
        .agg(
            F.min("pos_a").cast("bigint").alias("a_start"),
            (F.max("pos_a") + F.lit(k - 1)).cast("bigint").alias("a_end"),
            F.min("pos_b").cast("bigint").alias("b_start"),
            (F.max("pos_b") + F.lit(k - 1)).cast("bigint").alias("b_end"),
        )
    )
