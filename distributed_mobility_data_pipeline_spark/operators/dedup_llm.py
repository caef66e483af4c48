"""Large-scale document deduplication (north-star extension,
BASELINE.json: exact, MinHash+LSH, SimHash, n-gram Jaccard).

Design for 100 TB:
- exact dedup = hash-groupBy on a content fingerprint (one shuffle on
  the 32-byte key, not the document);
- near-dedup avoids the O(n²) pairwise scan: MinHash signatures are a
  fixed-width per-doc aggregate, LSH banding turns candidate generation
  into an equi-join on (band, hash) — only candidates pay the Jaccard
  verification join;
- SimHash is a per-doc 64-bit aggregate; candidate pairs come from
  banding or a known-key join, never a cross join.

Cross-engine determinism: each MinHash permutation is an *affine map
(a·h + b) mod P of the md5-prefix integer* h = int(md5(shingle)[:8], 16)
— md5 hex is identical in Spark and DuckDB, min is order-free, and the
(a, b) constants are fixed in MINHASH_PARAMS, so signatures (and
therefore bands, candidates, and Jaccard numbers) hash-match the oracle
exactly. SimHash bits come from sha2-hex character parity, same
reasoning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.operators.text import normalize_text

N_PERM = 16  # minhash permutations
BAND_SIZE = 4  # rows per LSH band → 4 bands

# Affine permutation constants for h_i(x) = (a_i·x + b_i) mod P over the
# 32-bit base hash. Fixed (seed-free) so signatures are reproducible in
# both engines. a_i < 2^30 keeps a_i·h < 2^62 — no int64 overflow.
MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_PARAMS: list[tuple[int, int]] = [
    (472882049, 104395301), (373587883, 198491317), (553105253, 295075153),
    (655894181, 378551429), (715225739, 472882027), (786432001, 573292817),
    (859963393, 675977959), (920419813, 756065159), (104395303, 859963379),
    (198491329, 920419823), (295075147, 982451653), (378551437, 15485863),
    (472882063, 32452843), (573292813, 49979687), (675977953, 67867967),
    (756065179, 86028121),
]


def with_mutated_copies(docs: DataFrame, id_offset: int = 100_000) -> DataFrame:
    """Test-fixture helper (FIXTURES.md §4): union the corpus with a
    near-duplicate copy of itself (last token dropped, shifted ids) so
    dedup operators have true positives to find on the driver's
    duplicate-free synthetic corpus."""
    mutated = docs.select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - instr(reverse(text), ' '))").alias(
            "text"
        ),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(mutated)


def with_exact_copies(docs: DataFrame, id_offset: int = 200_000) -> DataFrame:
    """Fixture helper: union with byte-identical copies (shifted ids) —
    true positives for exact dedup."""
    dup = docs.select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(dup)


def content_fingerprint(id_col: str = "doc_id") -> Column:
    """sha2 of the normalized text, NULL-safe for GROUPING: a NULL-text
    document (failed fetch, pending extraction) gets a per-doc sentinel
    instead of a NULL fingerprint. Without it every NULL-text doc lands
    in the same NULL group and all but one are silently dropped as
    "duplicates" — absent content is missing data, not shared content
    (corpus_diff documents the same presence-vs-content distinction).
    Use THIS wherever a fingerprint is grouped/deduped on; the plain
    per-doc fingerprint surface (text.fingerprint) keeps honest NULLs."""
    return F.coalesce(
        F.sha2(normalize_text(), 256),
        F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: min doc_id survives per normalized-content
    fingerprint (NULL-safe: see content_fingerprint). One shuffle on
    the sha2 key."""
    fp = docs.select("doc_id", content_fingerprint().alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle equi-join (no cross join):
    pairs sharing ≥1 shingle get |A∩B| from the join, |A|,|B| ride the
    joined rows; jaccard = common/(|A|+|B|−common).

    r19 (guide §2.4): each side's per-doc shingle-set SIZE is
    ``size(_grams)`` of the array-domain gram table — a map-side column,
    not a separate groupBy — and it travels through the shingle join
    into the pair aggregation (constant within each (doc_a, doc_b)
    group, picked with max), so the old sizes table and both post-
    aggregation size joins disappear. The previous plan recomputed the
    shingle lineage 4× (sizes + a + b + the joins); now the exploded
    gram stream is derived once from the shared doc table and reused by
    both join sides via the same cached computation."""
    doc_tbl = (
        _minhash_doc_table(docs, n, n_perm=0)
        .select(
            "doc_id",
            # cast: the old per-doc count() was bigint — keep the type
            F.size("_grams").cast("bigint").alias("n_sh"),
            "_grams",
        )
        .persist()
    )
    sh = doc_tbl.select(
        "doc_id", "n_sh", F.explode("_grams").alias("shingle")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.max(F.col("a.n_sh")).alias("n_a"),
            F.max(F.col("b.n_sh")).alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "common",
            "n_a",
            "n_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_doc_table(
    docs: DataFrame, n: int = 3, n_perm: int = N_PERM
) -> DataFrame:
    """(doc_id, _grams, mh_0..mh_{n_perm-1}) — the per-document distinct
    shingle-set ARRAY plus the full minhash signature, computed entirely
    in the array domain: ZERO shuffles (r19, guide §2.4 — the previous
    explode → groupBy(doc_id) shape shuffled the whole shingle table
    once per consumer just to re-group what was per-document to begin
    with; same move as the winnow array-domain rework).

    ``array_min`` over the affine-permuted hash array equals the old
    ``groupBy(doc_id).agg(min(...))`` over the exploded rows — same
    element multiset, order-free min — so signatures are bit-identical.
    Token and hash arrays are materialized as their own projections:
    higher-order lambdas re-evaluate their subtree per element, and
    CollapseProject keeps multi-referenced non-cheap aliases intact."""
    tokd = docs.select("doc_id", F.split(normalize_text(), " ").alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))  # short doc → whole text
    gramd = tokd.select("doc_id", F.array_distinct(grams).alias("_grams"))
    # ONE md5 per shingle (the expensive part), then n_perm cheap affine
    # permutations of its 32-bit prefix — the classic k-from-1 minhash.
    hashed = gramd.select(
        "doc_id",
        "_grams",
        F.transform(
            "_grams",
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast(
                "bigint"
            ),
        ).alias("_hs"),
    )
    mhs = [
        F.array_min(
            F.transform(
                "_hs", lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)
            )
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:n_perm])
    ]
    return hashed.select("doc_id", "_grams", *mhs)


def minhash_signatures(docs: DataFrame, n: int = 3, n_perm: int = N_PERM) -> DataFrame:
    """MinHash signature per doc: min over shingles of affine
    permutations of the md5-derived base hash. Map-only (array-domain
    min — see _minhash_doc_table); one md5 per shingle total."""
    return _minhash_doc_table(docs, n, n_perm).drop("_grams")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dedup:
    signature → bands (hash of ``band_size`` consecutive minhashes) →
    candidates = pairs sharing any band bucket (equi-join) → exact
    Jaccard verification on candidates only. The full LSH pipeline a
    100 TB dedup would run; every step is a DataFrame op.

    The per-document table (shingle-set array + full signature) is
    computed map-only in the array domain (_minhash_doc_table — zero
    shuffles; the previous shape shuffled the exploded shingle table
    TWICE, once per groupBy consumer) and persisted once: banding, both
    verification joins and the Jaccard arrays all read the same cached
    doc-level rows — at scale this is the materialized intermediate a
    production dedup would checkpoint, and it is doc-count-sized, not
    shingle-count-sized. The cached blocks are reclaimed by Spark's
    ContextCleaner once the returned DataFrame is unreferenced (the
    lazy API has no safe point to unpersist explicitly).

    Three deliberate physical choices:
    - the band bucket key is the RAW struct of ``band_size`` minhash
      values, not a hash of them — equality on 4 bigints is the same
      partition as equality on sha256(concat) but skips the string
      concat + crypto hash per band and shuffles 32 bytes instead of a
      64-char string;
    - candidate pairs come from ONE groupBy(bkey) with in-array pair
      generation (r20, guide §2.4/§3 — the winnow shape): the sorted
      per-bucket doc array emits its C(d, 2) ordered pairs map-side,
      replacing the banded table's self-join, which shuffled and
      sort-merged both sides of the same table just to rediscover the
      bucket grouping. doc_ids are unique within a bucket, so the
      sorted-array (i < j) pairs are EXACTLY the old
      ``a.doc_id < b.doc_id`` join output; singleton buckets (the vast
      majority) now drop before the pair exchange instead of flowing
      through the join;
    - exact-Jaccard verification carries each doc's (distinct) shingle
      set as an array (element order is irrelevant to
      ``array_intersect``) into the candidate pair and intersects
      JVM-side — two doc_id equi-joins replace a shuffle of the whole
      shingle table on shingle value. Per-doc shingle sets are bounded
      (doc length), so the arrays stay small.
    """
    doc_tbl = _minhash_doc_table(docs, n, n_perm).persist()
    n_bands = n_perm // band_size
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.col(f"mh_{b * band_size + j}").alias(f"v{j}")
                for j in range(band_size)
            ],
        )
        for b in range(n_bands)
    ]
    banded = doc_tbl.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bkey")
    )
    buckets = (
        banded.groupBy("bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_docs"))
        .filter(F.size("_docs") >= 2)
    )
    ds = F.col("_docs")
    pairs_expr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pairs_expr).alias("_p"))
        .select("_p.*")
        .distinct()
    )
    # Exact Jaccard on CANDIDATES ONLY — this is the whole point of LSH:
    # the all-pairs shingle join never happens; each candidate pair
    # intersects its two (small) shingle-set arrays.
    sets = doc_tbl.select("doc_id", F.col("_grams").alias("shs"))
    verified = (
        candidates.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "jaccard",
        (F.col("jaccard") >= threshold).cast("int").alias("is_dup"),
    )


def dup_labels(
    docs: DataFrame, pairs: DataFrame, max_iters: int = 10
) -> DataFrame:
    """Per-document cluster assignment (doc_id, cluster_id): connected
    components over the candidate-pair graph by iterative min-label
    propagation WITH pointer doubling.

    Each iteration takes the min label over graph neighbors and then
    chases one pointer hop (adopts the current label's own label), so
    label paths halve every round: convergence in O(log diameter)
    iterations instead of O(diameter) — the difference between 2-3 and
    dozens of Spark jobs on stringy components (loose thresholds produce
    chains). Convergence is checked with a count of changed labels; the
    loop is driver-side control flow over distributed steps, never a
    collect of data. This is the 'keep one per duplicate cluster' step
    that follows MinHash/SimHash candidate generation at corpus scale."""
    # Materialize the edge list once: every iteration joins against it,
    # and without the checkpoint each iteration (plus its convergence
    # count) would re-run the whole upstream candidate-generation
    # lineage (LSH banding / jaccard verification) from scratch.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Iterate ONLY over the pair-graph members (r19, guide §2.3 —
    # shuffle fewer bytes): a doc with no candidate pair is a singleton
    # whose label provably never changes (no neighbors → step_label =
    # label = doc_id forever) and no other doc's label can reference it
    # (edges only mention pair members). The candidate graph is sparse
    # relative to the corpus, so every per-iteration join, checkpoint
    # and convergence count shrinks from |docs| to |pair members|;
    # singletons rejoin once at the end with label = doc_id — the exact
    # rows the old full-corpus iteration produced for them.
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.select(
        F.col("doc_id"), F.col("doc_id").alias("label")
    ).localCheckpoint(eager=False)
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "step_label"
                ),
                "label",
            )
        )
        # Pointer doubling: adopt the stepped label OF the stepped label
        # node — one extra equi-join that halves remaining path lengths.
        chase = stepped.select(
            F.col("doc_id").alias("_cd"), F.col("step_label").alias("_cl")
        )
        updated = (
            stepped.join(chase, stepped.step_label == chase._cd, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("step_label"), F.coalesce("_cl", F.col("step_label"))
                ).alias("new_label"),
                "label",
            )
        )
        # Checkpoint BEFORE the convergence count: both the count and the
        # next iteration then read the materialized result instead of
        # re-running this iteration's joins (which would double the work).
        # LAZY checkpoint (r20, guide §5): the convergence count is the
        # iteration's first action, so it computes the joins AND
        # populates the checkpoint blocks in ONE job — the eager form
        # ran a dedicated materialization job and then a second job for
        # the count, i.e. two driver-synchronous barriers per iteration
        # where one suffices. Lineage is still cut: the count's pass
        # persists every partition of the checkpointed RDD, and the
        # next iteration reads those blocks.
        mat = updated.localCheckpoint(eager=False)
        changed = mat.filter(F.col("new_label") != F.col("label")).count()
        labels = mat.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    singletons = (
        docs.select("doc_id")
        .join(nodes, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    return labels.unionByName(singletons).select(
        "doc_id", F.col("label").alias("cluster_id")
    )


def dup_clusters(
    docs: DataFrame, pairs: DataFrame, max_iters: int = 10
) -> DataFrame:
    """Cluster summary over ``dup_labels``: one canonical doc per
    near-dup cluster (min doc_id) + cluster size — the 'keep one per
    duplicate cluster' step that follows MinHash/SimHash candidate
    generation at corpus scale."""
    return (
        dup_labels(docs, pairs, max_iters)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    score: Column,
    max_iters: int = 10,
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the doc with the highest ``score`` (ties by doc_id) — the
    policy upgrade over min-doc_id keep: when near-dups differ (one
    truncated, one clean), the corpus keeps the best variant.

    Returns (cluster_id, cluster_size, keep_doc_id, keep_score). The
    argmax is a per-cluster window over the labels table — cluster-
    partitioned, no global sort."""
    from pyspark.sql import Window

    labels = dup_labels(docs, pairs, max_iters)
    scored = labels.join(
        docs.select("doc_id", score.alias("_score")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("doc_id").alias("keep_doc_id"),
            F.col("_score").alias("keep_score"),
        )
    )


def simhash(docs: DataFrame, n_bits: int = 64) -> DataFrame:
    """SimHash fingerprint as an ``n_bits``-char bitstring.

    Bit j of a token's hash = parity of the j-th hex char of
    sha2(token); the doc bit is the weighted majority over tokens.
    One sha2 per token and ONE groupBy with ``n_bits`` static aggregate
    columns — no (doc × token × bit) explosion, no second shuffle."""
    toks = docs.select(
        "doc_id", F.explode(F.split(normalize_text(), " ")).alias("token")
    )
    hashed = toks.withColumn("_th", F.sha2(F.col("token"), 256))
    # Parse the hex digest in 15-char chunks (60 bits, fits int64) so
    # per-bit extraction is integer shift/mask instead of 64 substring+
    # ascii string ops per row (~4x faster aggregate).
    n_chunks = (n_bits + 14) // 15
    for c in range(n_chunks):
        hashed = hashed.withColumn(
            f"_c{c}",
            F.conv(F.substring("_th", c * 15 + 1, 15), 16, 10).cast("bigint"),
        )

    def bit(j: int):
        # ascii-parity of hex char j: for digits 0-9 it is the digit's
        # low bit; for a-f (ascii 97-102) it is the INVERSE (97 is odd
        # but 10 is even) — hence the xor with (digit >= 10)
        c, idx = j // 15, j % 15
        chunk_len = min(15, 64 - c * 15)  # final chunk is partial
        d = F.shiftright(F.col(f"_c{c}"), 4 * (chunk_len - 1 - idx)).bitwiseAND(
            F.lit(15)
        )
        return d.bitwiseAND(F.lit(1)).bitwiseXOR(
            (d >= 10).cast("long")
        )

    balances = hashed.groupBy("doc_id").agg(
        *[F.sum(bit(j) * 2 - 1).alias(f"_b{j}") for j in range(n_bits)]
    )
    bitstring = F.concat(
        *[
            F.when(F.col(f"_b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_bits)
        ]
    )
    return balances.select("doc_id", bitstring.alias("simhash"))


def simhash_hamming_known_pairs(
    docs_with_dups: DataFrame, id_offset: int = 100_000
) -> DataFrame:
    """Hamming distance between each original and its mutated copy —
    the SimHash verification join on known candidate keys."""
    sh = simhash(docs_with_dups)
    orig = sh.filter(F.col("doc_id") < id_offset).alias("o")
    dup = sh.select(
        (F.col("doc_id") - id_offset).alias("doc_id"),
        F.col("simhash").alias("simhash_dup"),
    ).filter(F.col("doc_id") >= 0).alias("d")
    joined = orig.join(dup, "doc_id")
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("simhash"), ""),
                F.split(F.col("simhash_dup"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return joined.select(
        "doc_id", "simhash", "simhash_dup", ham.alias("hamming")
    )


def keep_first_by_fingerprint(
    docs: DataFrame, keep_fingerprint: bool = False
) -> DataFrame:
    """THE canonical exact-dedup rule: one survivor per
    sha2(normalized text), lowest doc_id wins. Shared by the corpus
    pipeline (plans/corpus.py) and the streaming batch twin
    (streaming/corpus.py) so normalization/tie-break can never
    diverge between them."""
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy("doc_id")
    out = (
        docs.withColumn("_fp", content_fingerprint())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if keep_fingerprint:
        return out.withColumnRenamed("_fp", "fingerprint")
    return out.drop("_fp")


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot delta between two corpus versions by content
    fingerprint: per doc_id, status in {added, removed, changed,
    unchanged} — the change-detection primitive an incremental pipeline
    runs so downstream stages (dedup, chunking, embedding) only
    reprocess what moved.

    One full-outer join on doc_id comparing sha2(normalized text).
    Row presence is tracked with explicit flags, NOT fingerprint
    nullness: a doc with NULL text has a NULL fingerprint but still
    EXISTS in its snapshot, and the null-safe equality (``<=>``)
    classifies NULL→NULL text as unchanged. At 100 TB both sides
    bucket/partition by doc_id and the join is co-located."""
    fp = F.sha2(normalize_text(), 256)
    a = old.select(
        F.col("doc_id"), fp.alias("old_fp"), F.lit(True).alias("in_old")
    )
    b = new.select(
        F.col("doc_id"), fp.alias("new_fp"), F.lit(True).alias("in_new")
    )
    joined = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select("doc_id", status.alias("status"))


def segment_dedup(docs: DataFrame, seg_tokens: int = 16) -> DataFrame:
    """Sub-document (segment-level) dedup — the boilerplate-removal
    pass document-level dedup can't do: headers/footers/navigation
    repeated across MANY distinct documents survive whole-doc
    fingerprinting but fall to segment fingerprinting.

    Documents are cut into fixed ``seg_tokens`` token blocks; the FIRST
    occurrence of each distinct block (by (doc_id, seg_idx), the same
    canonical lowest-wins rule as keep_first_by_fingerprint) survives,
    later copies anywhere in the corpus are dropped, and each document
    is reassembled from its surviving blocks in order.

    Scale shape: block explode is map-only; the only shuffle is the
    window over block fingerprints (equi-partitioned on the 32-byte
    hash, same as exact dedup); reassembly is one groupBy(doc_id) with
    an order-insensitive array_sort — no global ordering anywhere."""
    tokd = docs.select(
        "doc_id", F.split(normalize_text(), " ").alias("_toks")
    )
    toks = F.col("_toks")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * seg_tokens + 1, seg_tokens)
        ),
    )
    exploded = tokd.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg_text")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2(F.col("seg_text"), 256)).orderBy(
        "doc_id", "seg_idx"
    )
    kept = exploded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    reassembled = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept_segments"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("seg_idx"), F.col("seg_text"))
                        )
                    ),
                    lambda s: s.getField("seg_text"),
                ),
            ).alias("dedup_text"),
        )
    )
    totals = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments")
    )
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept_segments", F.lit(0)).alias("n_kept_segments"),
            (F.col("n_segments") - F.coalesce("n_kept_segments", F.lit(0))).alias(
                "n_dropped_segments"
            ),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )


def band_hash_table(
    docs: DataFrame,
    n: int = 3,
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Persistable LSH index rows: (doc_id, band, bhash) — one sha256
    per band over its consecutive minhashes. This is the artifact an
    INCREMENTAL near-dedup stores: a new document is a near-dup
    candidate iff it shares any (band, bhash) with the index, so
    membership is an equi-join against the index table, never a scan
    of admitted documents' text."""
    sig = minhash_signatures(docs, n, n_perm)
    n_bands = n_perm // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.sha2(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh_{b * band_size + j}").cast("string")
                            for j in range(band_size)
                        ],
                    ),
                    256,
                ).alias("bhash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))
