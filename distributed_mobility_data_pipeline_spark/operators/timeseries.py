"""Time-series regularization: resample to a fixed grid + gap fill.

The reference's hourly rollup (feature_engineering.py:58-74) leaves
holes where no events landed — downstream models and window features
then silently skip hours. These operators materialize the full grid per
series and fill gaps explicitly (forward-fill for last-observation-
carried-forward semantics, zero-fill for counts, a gap flag either way).

Scale shape: the grid is generated from the per-series [min, max]
bounds table (tiny — one row per series), exploded map-side; the only
shuffles are the rollup groupBy and the per-series forward-fill window,
both partitioned on the series key. Nothing is driver-side and no
global sort exists: each series fills independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import exact_sum


def resample_ffill(
    df: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Resample each series to a regular ``step`` grid between its own
    first and last observation, zero-filling counts and forward-filling
    the value sum across empty buckets.

    Returns (series, hour_ts, n_events, sum_value_ffill, is_gap) —
    ``is_gap`` = 1 for grid rows with no observations.

    ``step`` must be a single whole unit ("1 minute" / "1 hour" /
    "1 day" / "1 week"): bucketing uses date_trunc, which only aligns
    with the grid for unit steps (a "15 minutes" grid would need
    time_bucket-style arithmetic instead).
    """
    allowed = {"1 minute", "1 hour", "1 day", "1 week"}
    if step not in allowed:
        raise ValueError(
            f"step must be one of {sorted(allowed)} (date_trunc-aligned), "
            f"got {step!r}"
        )
    trunc_unit = step.split()[-1]  # "1 hour" -> "hour"
    agg = (
        df.groupBy(
            F.col(series_col).alias("_series"),
            F.date_trunc(trunc_unit, F.col(ts_col)).alias("_h"),
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            exact_sum(value_col).alias("_sum"),
        )
    )
    bounds = agg.groupBy("_series").agg(
        F.min("_h").alias("_mn"), F.max("_h").alias("_mx")
    )
    grid = bounds.select(
        "_series",
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.expr(f"INTERVAL {step}"))
        ).alias("_h"),
    )
    joined = grid.join(agg, ["_series", "_h"], "left")
    w = (
        Window.partitionBy("_series")
        .orderBy("_h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        F.col("_series").alias(series_col),
        F.date_format("_h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("_sum", ignorenulls=True).over(w).alias("sum_value_ffill"),
        F.col("_n").isNull().cast("int").alias("is_gap"),
    )


def gap_stats(
    df: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    step: str = "1 hour",
) -> DataFrame:
    """Per-series gap report over the regular grid: how many buckets
    exist, how many are empty, and the longest empty run — the
    monitoring twin of ``resample_ffill``.

    The longest-run is computed with the gaps-and-islands trick
    (bucket_index - run_index is constant within a run), all inside the
    per-series partition — no global sort.
    """
    # grid-sized (series × buckets); feeds the run detection AND the
    # totals — persist so the resample pipeline runs once (r19, §5)
    filled = resample_ffill(df, series_col, ts_col, step=step).persist()
    w = Window.partitionBy(series_col).orderBy("hour_ts")
    runs = (
        filled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("is_gap") == 1)
        .withColumn("_grp", F.col("_rn") - F.row_number().over(w))
    )
    longest = (
        runs.groupBy(series_col, "_grp")
        .agg(F.count(F.lit(1)).alias("_len"))
        .groupBy(series_col)
        .agg(F.max("_len").alias("longest_gap_run"))
    )
    totals = filled.groupBy(series_col).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("is_gap").cast("bigint").alias("n_gaps"),
    )
    return (
        totals.join(longest, series_col, "left")
        .select(
            series_col,
            "n_buckets",
            "n_gaps",
            F.coalesce(F.col("longest_gap_run"), F.lit(0))
            .cast("bigint")
            .alias("longest_gap_run"),
        )
    )


def resample_interpolate(
    df: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Linear-interpolation twin of ``resample_ffill``: empty grid
    buckets take the straight line between the nearest observed buckets
    on each side (the reconstruction a charting/feature layer wants
    when last-observation-carried-forward would bias trends).

    v = prev + (next - prev) * steps_since_prev / gap_len — all inputs
    exact (decimal-accumulated sums, integer bucket indices), one IEEE
    multiply/divide, so the result is deterministic and oracle-exact.
    Boundary buckets (no observation on one side) keep the one-sided
    neighbor (ffill/bfill degenerate). Same per-series window shapes as
    resample_ffill — no global sort.
    """
    filled = resample_ffill(df, series_col, ts_col, value_col, step)
    w = Window.partitionBy(series_col).orderBy("hour_ts")
    wprev = w.rowsBetween(Window.unboundedPreceding, 0)
    wnext = w.rowsBetween(0, Window.unboundedFollowing)
    idx = F.row_number().over(w)
    obs_val = F.when(F.col("is_gap") == 0, F.col("sum_value_ffill"))
    base = filled.withColumn("_idx", idx)
    base = base.withColumn("_prev_v", F.last(obs_val, ignorenulls=True).over(wprev))
    base = base.withColumn(
        "_prev_i",
        F.last(F.when(F.col("is_gap") == 0, F.col("_idx")), ignorenulls=True).over(
            wprev
        ),
    )
    base = base.withColumn(
        "_next_v", F.first(obs_val, ignorenulls=True).over(wnext)
    )
    base = base.withColumn(
        "_next_i",
        F.first(F.when(F.col("is_gap") == 0, F.col("_idx")), ignorenulls=True).over(
            wnext
        ),
    )
    interp = F.when(F.col("is_gap") == 0, F.col("sum_value_ffill")).otherwise(
        F.when(
            F.col("_prev_v").isNotNull() & F.col("_next_v").isNotNull(),
            F.col("_prev_v")
            + (F.col("_next_v") - F.col("_prev_v"))
            * (F.col("_idx") - F.col("_prev_i"))
            / (F.col("_next_i") - F.col("_prev_i")),
        ).otherwise(F.coalesce("_prev_v", "_next_v"))
    )
    return base.select(
        series_col,
        "hour_ts",
        "n_events",
        interp.alias("sum_value_interp"),
        "is_gap",
    )


def seasonal_anomaly(
    df: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    z_thresh: float = 2.0,
) -> DataFrame:
    """Seasonal anomaly detection: flag hours whose event count
    deviates ≥ ``z_thresh`` standard deviations from that series'
    hour-of-day baseline (the diurnal profile). The monitoring twin of
    the reference's volume check (utils/data_quality.py:69-85), which
    compares against one global threshold and misses time-of-day
    seasonality.

    The baseline stats are exact-integer sums (count, Σn, Σn²), so
    mean/variance/z are one fixed-order double expression over exact
    inputs — bit-reproducible cross-engine. Degenerate profiles
    (single observation or zero variance) yield NULL z and are never
    flagged.

    Scale shape: one map-side-combined rollup to hourly counts, one
    further reduce to the (series × 24)-row profile, broadcast joined
    back. No window, no global sort; each series profiles
    independently, so 100 TB of events costs two shuffles of shrinking
    size."""
    hourly = df.groupBy(
        F.col(series_col).alias("series"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour_ts"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    profile = hourly.groupBy(
        "series", F.hour("hour_ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("n").cast("bigint").alias("sum_n"),
        # n² as DECIMAL, never bigint*bigint: n above ~3.0e9 events/hour
        # would overflow int64 (ANSI error under Spark 4, silent wrap
        # otherwise — the hazard cusum_alarms documents). decimal(38,0)
        # keeps the sum exact AND order-free up to 1e38.
        F.sum(
            F.col("n").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)")
        ).alias("sum_sq"),
    )
    mean = F.col("sum_n").cast("double") / F.col("n_obs")
    # sample variance from exact sums: (Σn² - (Σn)²/n_obs) / (n_obs-1)
    var = (
        F.col("sum_sq").cast("double")
        - F.col("sum_n").cast("double")
        * F.col("sum_n").cast("double")
        / F.col("n_obs")
    ) / (F.col("n_obs") - F.lit(1))
    z = F.when(
        (F.col("n_obs") > 1) & (var > 0),
        (F.col("n").cast("double") - F.col("mean_n")) / F.sqrt(F.col("var_n")),
    )
    return (
        hourly.withColumn("hod", F.hour("hour_ts"))
        .join(F.broadcast(profile), ["series", "hod"])
        .withColumn("mean_n", mean)
        .withColumn("var_n", var)
        .withColumn("z", z)
        .select(
            "series",
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "hod",
            "n",
            "mean_n",
            "z",
            F.coalesce(F.abs(F.col("z")) >= F.lit(z_thresh), F.lit(False)).alias(
                "is_anomaly"
            ),
        )
    )


def cusum_alarms(
    events: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    k_slack: float = 0.5,
    h_threshold: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM change-point detection on daily counts per
    series (Page 1954, the classic sequential drift detector —
    complements the distributional tests in operators/drift.py: PSI/KS
    see SHAPE changes per window, CUSUM sees small persistent LEVEL
    shifts that accumulate).

    Counts are standardized per series against the full-series
    mean/stddev (reproducible retrospective form). The textbook
    recurrence ``S_t = max(0, S_{t-1} + z_t - k)`` is sequential, but
    it has a closed window form: with ``A_t = Σ_{i≤t}(z_i - k)``,
    ``S_t = A_t - min_{j≤t}(A_j, 0)`` — a cumulative sum minus a
    running min, two plain window functions. Same for the lower side
    with signs flipped. Everything is therefore one per-series window
    pass over the DAY-level rollup (dimension-sized), deterministic
    (decimal-exact daily sums feed double z-scores with identical
    operation order cross-engine), and hash-checkable.

    Returns per (series, day): n, z, cusum_hi, cusum_lo, alarm flags
    at ``h_threshold``.

    Robustness choices (each bites at scale): the day grid is DENSIFIED
    per series (min..max observed day, zero-filled) so a complete
    outage — the most extreme downward shift — still produces scored
    days and can alarm low; squared counts accumulate in DOUBLE (a
    bigint sum of n² wraps silently at ~3e9 events/day); and the
    one-pass variance clamps at zero before the sqrt (catastrophic
    cancellation at large magnitudes can round it negative → NaN,
    which comparisons then treat as greater-than-everything).
    """
    # the day-level rollup is (series × days)-sized and feeds three
    # branches (grid bounds, the densified join, and through it the
    # stats pass); un-persisted each branch re-ran the event scan +
    # groupBy (r19, guide §5: reuse beats recompute once aggregated)
    observed = events.groupBy(
        F.col(series_col).alias("series"),
        F.to_date(F.date_trunc("day", F.col(ts_col))).alias("_d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).persist()
    bounds = observed.groupBy("series").agg(
        F.min("_d").alias("_lo"), F.max("_d").alias("_hi")
    )
    grid = bounds.select(
        "series",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 day"))
        ).alias("_d"),
    )
    daily = (
        grid.join(observed, ["series", "_d"], "left")
        .select(
            "series",
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )
    nd = F.col("n").cast("double")
    stats = daily.groupBy("series").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("_mean"),
        F.count(F.lit(1)).cast("double").alias("_days"),
        F.sum(nd * nd).alias("_sumsq"),
        F.sum("n").cast("double").alias("_sum"),
    ).select(
        "series",
        "_mean",
        F.sqrt(
            F.greatest(
                (
                    F.col("_sumsq")
                    - F.col("_sum") * F.col("_sum") / F.col("_days")
                )
                / F.col("_days"),
                F.lit(0.0),
            )
        ).alias("_sd"),
    )
    z = F.when(
        F.col("_sd") > 0, (F.col("n") - F.col("_mean")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    w = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        daily.join(F.broadcast(stats), "series")
        .withColumn("z", z)
        .withColumn("_a_hi", F.sum(F.col("z") - F.lit(k_slack)).over(w))
        .withColumn("_a_lo", F.sum(F.col("z") + F.lit(k_slack)).over(w))
        .withColumn(
            "cusum_hi",
            F.col("_a_hi") - F.least(F.min("_a_hi").over(w), F.lit(0.0)),
        )
        .withColumn(
            "cusum_lo",
            -(F.col("_a_lo") - F.greatest(F.max("_a_lo").over(w), F.lit(0.0))),
        )
    )
    return scored.select(
        "series",
        "day",
        "n",
        "z",
        "cusum_hi",
        "cusum_lo",
        (F.col("cusum_hi") > h_threshold).cast("int").alias("alarm_hi"),
        (F.col("cusum_lo") > h_threshold).cast("int").alias("alarm_lo"),
    )
