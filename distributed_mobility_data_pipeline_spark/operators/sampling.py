"""Sampling & data-mixing operators (LLM training-data pipeline
surface: corpus subsampling, stratified source mixing, split hygiene).

Spark's `sample`/`sampleBy`/`randomSplit` are seeded but PARTITIONING-
dependent (per-partition RNG streams) — fine for training pipelines,
not stable across cluster layouts. Where reproducibility across layouts
matters, use the hash-based variants below: membership is a pure
function of a row's key (md5-prefix bucket, same rule the DuckDB oracle
evaluates), so the same rows are selected on any cluster at any
parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def _key_bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 1e6): integer value of the first 8 hex
    chars of md5(key||salt) mod 1e6. Engine-portable (md5 hex is
    identical everywhere) and layout-independent."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("bigint")
    return F.pmod(h, F.lit(_BUCKETS))


def sample_fraction(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Seeded Bernoulli sample — the stock path (partitioning-dependent;
    rows-only checkable)."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "s0"
) -> DataFrame:
    """Layout-independent sample: keep rows whose salted key hash lands
    under the fraction — the reproducible corpus-snapshot sample."""
    return df.filter(
        _key_bucket(F.col(key_col), salt) < int(fraction * _BUCKETS)
    )


def hash_split(
    df: DataFrame, key_col: str, train_fraction: float = 0.8, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, leakage-free train/test split: a key is always on
    the same side regardless of layout or re-runs (randomSplit O4's
    reproducible twin)."""
    bucket = _key_bucket(F.col(key_col), salt)
    thresh = int(train_fraction * _BUCKETS)
    return df.filter(bucket < thresh), df.filter(bucket >= thresh)


def mix_sources(
    docs: DataFrame,
    source_col: str,
    weights: dict[str, float],
    salt: str = "mix",
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted corpus mixing: per-source keep-rates applied with the
    layout-independent hash rule — the 'data mixture' step of an LLM
    pipeline as one filter (no shuffle, no drift between runs).
    Weights are keep-fractions per source; unlisted sources drop.
    ``key_col`` is the stable id the keep-decision hashes on (same
    contract as hash_sample / hash_split)."""
    rate = None
    for src, w in weights.items():
        if rate is None:
            rate = F.when(F.col(source_col) == src, F.lit(w))
        else:
            rate = rate.when(F.col(source_col) == src, F.lit(w))
    rate = rate.otherwise(F.lit(0.0))
    bucket = _key_bucket(F.col(key_col), salt)
    # explicit floor: a bare long cast truncates in Spark but CAST
    # rounds in DuckDB — floor() agrees everywhere, so weights like 0.3
    # (not exactly representable) can't diverge by one bucket
    return (
        docs.withColumn("_rate", rate)
        .filter(bucket < F.floor(F.col("_rate") * _BUCKETS).cast("long"))
        .drop("_rate")
    )


def source_mixing_weights(
    docs: DataFrame, targets: dict[str, float]
) -> DataFrame:
    """Per-source sampling weights for corpus mixture control: compare
    each source's actual token share to its target share and emit the
    resampling multiplier (target/actual). The knob a training-data
    pipeline turns to hit a prescribed domain mixture; one small
    aggregate + a literal full-outer join (no broadcast hint — Spark
    cannot broadcast either side of a full-outer join; see the inline
    comment below).

    The corpus total comes from a global window over the per-source
    aggregate (#sources rows — a bounded-cardinality single partition),
    NOT a second aggregate branch: that shape would re-scan the corpus
    twice at 100 TB."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    tok_counts = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint")).alias(
            "n_tokens"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )
    with_total = tok_counts.withColumn(
        "_total", F.sum("n_tokens").over(Window.partitionBy())
    )
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        "source string, target_share double",
    )
    actual_share = F.col("n_tokens").cast("double") / F.col("_total")
    target_share = F.coalesce("target_share", F.lit(0.0))
    # Full outer so a target source with ZERO observed documents still
    # emits a (visible, zero-count) row instead of dangling silently;
    # a zero-token source gets a null weight, never an Infinity. No
    # broadcast hint: Spark cannot broadcast either side of a full-outer
    # join, so a hint is unusable (it only trips HintErrorLogger WARNs);
    # both sides are already bounded by the distinct source-key count.
    return (
        with_total.join(tgt, "source", "full_outer")
        .select(
            "source",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce(actual_share, F.lit(0.0)).alias("actual_share"),
            target_share.alias("target_share"),
            F.when(
                F.coalesce(actual_share, F.lit(0.0)) > 0.0,
                target_share / actual_share,
            ).alias("sampling_weight"),
        )
    )


def fixed_k_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    salt: str = "topk",
) -> DataFrame:
    """Balanced subset: EXACTLY min(k, group size) rows per group,
    chosen by the layout-independent hash order (md5 bucket, then key as
    tiebreak) — the 'equal representation per source' sample a mixture-
    controlled corpus needs when per-source fractions would over/under
    shoot on skewed sources. Deterministic on any cluster layout; one
    shuffle on the group column."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        _key_bucket(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def negative_samples(
    df: DataFrame,
    key_col: str,
    n_keys: int,
    k: int = 4,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor key gets ``k`` pseudo-random partner keys in [0, n_keys),
    derived from md5(key, i, salt) — reproducible on any layout, no RNG
    state, no shuffle (pure map + explode). Self-pairs are remapped to
    the next key so an anchor never draws itself — which requires at
    least two keys to remap TO, so ``n_keys >= 2`` is enforced (with
    n_keys == 1 the remap would return the anchor; n_keys <= 0 would
    yield NULL negatives)."""
    if n_keys < 2:
        raise ValueError(
            f"negative_samples requires n_keys >= 2 (got {n_keys}): "
            f"with fewer keys a non-self negative cannot exist"
        )
    idx = F.sequence(F.lit(0), F.lit(k - 1))
    key = F.col(key_col)
    neg = F.transform(
        idx,
        lambda i: F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            key.cast("string"),
                            F.lit("_"),
                            i.cast("string"),
                            F.lit(salt),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(n_keys),
        ),
    )
    out = df.select(
        key.alias("anchor_id"),
        F.posexplode(neg).alias("neg_idx", "negative_id"),
    )
    return out.withColumn(
        "negative_id",
        F.when(
            F.col("negative_id") == F.col("anchor_id"),
            F.pmod(F.col("negative_id") + 1, F.lit(n_keys)),
        ).otherwise(F.col("negative_id")),
    )


def importance_weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, salt: str = "iw"
) -> DataFrame:
    """Deterministic importance sampling: keep a row with probability
    equal to its per-row weight in [0, 1] — the mixture-rebalancing
    primitive (downsample over-represented sources to their target
    share). Membership is hash-thresholding, NOT an RNG draw: a row is
    kept iff bucket(md5(key||salt)) < weight * 1e6, so the selected set
    is a pure function of (key, weight) — identical on any cluster
    layout, any parallelism, any engine (the DuckDB oracle evaluates the
    same rule). Map-only: zero shuffles, zero RNG state.

    Weights > 1 keep the row always (hash-thresholding cannot
    upsample; pair with explode-based repetition for weights > 1)."""
    return df.filter(
        _key_bucket(F.col(key_col), salt)
        < F.col(weight_col).cast("double") * _BUCKETS
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    train_fraction: float = 0.8,
    salt: str = "csplit",
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate CLUSTERS are the
    atomic split unit, so two near-dup documents can never land on
    opposite sides (the eval-contamination hole a plain per-doc
    hash_split leaves open — a test doc's near-twin in train is
    memorization, not generalization).

    ``pairs`` is any candidate-pair table (doc_a, doc_b) — MinHash/LSH,
    winnowing, embedding near-dup. Components come from the
    pointer-doubling labeler (dedup_llm.dup_labels); the split key is
    the CLUSTER id, hashed with the same layout-independent bucket rule
    as hash_split. Returns docs + (cluster_id, split ∈ {train, test}).

    Scale shape: the clustering's O(log n) label-propagation rounds
    dominate; the split itself is one broadcast-able join of the
    (doc → cluster) table plus a map-side hash filter."""
    if not 0.0 < train_fraction < 1.0:
        raise ValueError(
            f"train_fraction must be in (0, 1), got {train_fraction}"
        )
    from distributed_mobility_data_pipeline_spark.operators import dedup_llm

    labels = dedup_llm.dup_labels(
        docs.select(F.col(id_col).alias("doc_id")), pairs
    ).withColumnRenamed("doc_id", id_col)
    thresh = int(train_fraction * _BUCKETS)
    bucket = _key_bucket(F.col("cluster_id"), salt)
    return (
        docs.join(labels, id_col)
        .withColumn(
            "split",
            F.when(bucket < thresh, F.lit("train")).otherwise(F.lit("test")),
        )
    )
