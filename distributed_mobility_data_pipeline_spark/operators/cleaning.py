"""Cleaning operators — Silver-layer semantics (SURVEY.md §2.2).

Re-expresses the reference's bronze→silver transform
(bronze_to_silver.py:17-43) and schema-repair helpers
(batch_scoring.py:50-63) as composable pure functions. All column
expressions stay JVM-side (whole-stage codegen) — no UDFs.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_categoricals(df: DataFrame, cols: list[str]) -> DataFrame:
    """lower+trim string normalization (bronze_to_silver.py:19-20, P1)."""
    for c in cols:
        df = df.withColumn(c, F.lower(F.trim(F.col(c))))
    return df


def null_out_when(df: DataFrame, target: str, cond: Column) -> DataFrame:
    """Conditional null-out — P7: the reference nulls `completed_at` for
    cancelled trips (bronze_to_silver.py:28-31)."""
    df = df.withColumn(
        target, F.when(cond, F.lit(None)).otherwise(F.col(target))
    )
    return df


def require_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Conjunctive not-null filter (bronze_to_silver.py:33-38, P4)."""
    pred = None
    for c in cols:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def ensure_columns(df: DataFrame, defaults: Mapping[str, Column]) -> DataFrame:
    """Default-column injection iff missing — P9 schema repair
    (batch_scoring.py:50-63). Makes pipelines tolerant of upstream
    schema drift without widening every operator's signature."""
    for c, expr in defaults.items():
        if c not in df.columns:
            df = df.withColumn(c, expr)
    return df


def clean_events(events: DataFrame) -> DataFrame:
    """The reference's silver clean transplanted to `events`:
    normalize event_type, null-out error values, require key columns,
    derive the partition date column (bronze_to_silver.py:17-43)."""
    df = normalize_categoricals(events, ["event_type"])
    df = null_out_when(df, "value", F.col("event_type").startswith("error"))
    df = require_not_null(df, ["event_id", "ts", "user_id"])
    return df.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").cast("string").alias("event_date"),
    )


def pseudonymize(
    df: DataFrame, cols: list[str], salt: str
) -> DataFrame:
    """Keyed pseudonymization: replace identifier columns with salted
    sha256 digests — joins still work (same input -> same digest under
    one salt) but raw identifiers never leave the pipeline. Rotating
    the salt unlinks all historical pseudonyms at once.

    Map-only column algebra (one sha2 per cell, no shuffle)."""
    if not cols:
        raise ValueError("pseudonymize needs at least one column")
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(c).isNotNull(),
                F.sha2(F.concat(F.lit(salt), F.col(c).cast("string")), 256),
            ),
        )
    return out


def winsorize(
    df: DataFrame,
    value_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
    group_col: str | None = None,
) -> DataFrame:
    """Winsorization: clamp ``value_col`` to its exact [lo_p, hi_p]
    percentile envelope, per ``group_col`` when given — the standard
    heavy-tail taming step before training on monetary/duration
    features (a clamp keeps the row; the reference's range filter,
    utils/data_quality.py:69-85, drops it).

    NULL values pass through unclamped. Exact interpolated percentiles
    (same formula as DuckDB's quantile_cont), computed in ONE
    aggregate over the groups and broadcast-joined back — two scans of
    the narrow projection, no window over the data stream, no global
    sort. At 100 TB swap exact for approx_percentile if the cutoff
    tolerance allows; the operator shape is unchanged."""
    if not (0.0 <= lo_p < hi_p <= 1.0):
        raise ValueError(
            f"need 0 <= lo_p < hi_p <= 1, got ({lo_p}, {hi_p})"
        )
    probs = F.array(F.lit(float(lo_p)), F.lit(float(hi_p)))
    nn = df.filter(F.col(value_col).isNotNull())
    if group_col is None:
        cuts = nn.agg(F.percentile(value_col, probs).alias("_q")).select(
            F.col("_q")[0].alias("_lo"), F.col("_q")[1].alias("_hi")
        )
        joined = df.crossJoin(F.broadcast(cuts))
    else:
        cuts = (
            nn.groupBy(group_col)
            .agg(F.percentile(value_col, probs).alias("_q"))
            .select(
                group_col,
                F.col("_q")[0].alias("_lo"),
                F.col("_q")[1].alias("_hi"),
            )
        )
        joined = df.join(F.broadcast(cuts), group_col, "left")
    clamped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")),
    )
    return joined.withColumn(
        f"{value_col}_winsorized", clamped
    ).drop("_lo", "_hi")


def winsorize_hist(
    df: DataFrame,
    value_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
    group_col: str | None = None,
) -> DataFrame:
    """Scale path for :func:`winsorize`: clamp to HISTOGRAM-derived
    percentile cutoffs instead of exact per-group percentiles.

    Exact ``percentile`` buffers each group's values on one reducer —
    fine for bounded groups, a memory wall for billion-row ones.
    ``percentile_approx`` fixes the memory but isn't cross-engine
    checkable. Fixed-bin histograms give both: the cutoffs come from
    sketches.quantiles_from_histograms (one aggregation to ≤ n_bins
    rows per group, mergeable, deterministic → hash-checkable), at the
    cost of bin-width cutoff resolution — the same exact-twin /
    scale-path split as text_quality_percentile vs
    text_quality_cutoff."""
    if not (0.0 <= lo_p < hi_p <= 1.0):
        raise ValueError(
            f"need 0 <= lo_p < hi_p <= 1, got ({lo_p}, {hi_p})"
        )
    from distributed_mobility_data_pipeline_spark.operators import sketches

    group_cols = [group_col] if group_col else []
    hist = sketches.binned_value_histograms(
        df, group_cols, value_col, lo, hi, n_bins
    )
    qs = sketches.quantiles_from_histograms(
        hist, group_cols, [lo_p, hi_p], lo, hi, n_bins
    )
    cuts = qs.groupBy(*group_cols).agg(
        F.min(F.when(F.col("q") == lo_p, F.col("value_q"))).alias("_lo"),
        F.min(F.when(F.col("q") == hi_p, F.col("value_q"))).alias("_hi"),
    )
    if group_col:
        joined = df.join(F.broadcast(cuts), group_col, "left")
    else:
        joined = df.crossJoin(F.broadcast(cuts))
    clamped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")),
    )
    return joined.withColumn(
        f"{value_col}_winsorized", clamped
    ).drop("_lo", "_hi")
