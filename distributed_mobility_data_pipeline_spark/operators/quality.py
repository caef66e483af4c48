"""Data-quality operators (SURVEY.md §2.5 A11-A14, utils/data_quality.py).

The reference's DataQualityChecker (data_quality.py:36-95) collects
per-column null counts to the driver and raises; here every check is a
lazy ``DataFrame -> DataFrame`` that returns a *report table* — one scan
computes all columns' metrics (conditional aggregation), nothing is
collected, and callers decide whether to fail. That keeps the gate usable
inline in a 100 TB pipeline (the reference's `collect` would not be).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column null/missing census — A11 (data_quality.py:21-34,
    model_monitoring.py:126-133). Single pass; long-format output."""
    total = F.count(F.lit(1))
    aggs = [total.alias("_total")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_n_{c}")
        )
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', _n_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (column, null_count)",
        "_total as total_rows",
    ).select(
        "column",
        F.col("null_count").cast("bigint").alias("null_count"),
        F.col("total_rows").cast("bigint").alias("total_rows"),
        (F.col("null_count").cast("double") / F.col("total_rows")).alias(
            "null_rate"
        ),
    )


def negative_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Non-negativity census — A12 (data_quality.py:59-67)."""
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).alias(f"_n_{c}")
        )
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', _n_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (column, negative_count)"
    ).select(
        "column", F.col("negative_count").cast("bigint").alias("negative_count")
    )


def freshness(df: DataFrame, date_col: str) -> DataFrame:
    """Max-date freshness probe — A14 (silver_dag.py:105-128,
    aspirational in the reference)."""
    return df.agg(
        F.max(F.to_date(date_col)).cast("string").alias("max_date"),
        F.min(F.to_date(date_col)).cast("string").alias("min_date"),
        F.count(F.lit(1)).alias("row_count"),
    )


def generate_quality_report(
    df: DataFrame,
    required_cols: list[str],
    not_null_cols: list[str],
    non_negative_cols: list[str],
    max_null_rate: float = 0.001,
) -> DataFrame:
    """Composed quality report — the reference's aspirational
    DataQualityChecker.generate_quality_report (silver_dag.py:12,
    gold_dag.py:166; the class never existed) as one long table:
    (check, column, value, passed). One scan for all numeric checks."""
    spark = df.sparkSession
    present = set(df.columns)
    rows = [
        ("required_column", c, 1.0 if c in present else 0.0, c in present)
        for c in required_cols
    ]
    schema = "check string, column string, value double, passed boolean"
    presence = spark.createDataFrame(rows, schema)

    checkable_nn = [c for c in not_null_cols if c in present]
    checkable_neg = [c for c in non_negative_cols if c in present]
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in checkable_nn:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_null_{c}")
        )
    for c in checkable_neg:
        aggs.append(F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).alias(f"_neg_{c}"))
    wide = df.agg(*aggs)
    parts = []
    for c in checkable_nn:
        parts.append(
            f"'null_rate', '{c}', _null_{c} / CAST(_total AS DOUBLE), "
            f"_null_{c} / CAST(_total AS DOUBLE) <= {max_null_rate}"
        )
    for c in checkable_neg:
        parts.append(f"'non_negative', '{c}', CAST(_neg_{c} AS DOUBLE), _neg_{c} = 0")
    if not parts:
        return presence
    stacked = wide.selectExpr(
        f"stack({len(parts)}, {', '.join(parts)}) as (check, column, value, passed)"
    )
    return presence.unionByName(stacked)


def volume_check(
    df: DataFrame,
    date_col: str,
    baseline_start: str,
    baseline_end: str,
    current_start: str,
    current_end: str,
) -> DataFrame:
    """Volume-drop monitor — A13 (model_monitoring.py:244-246, 311-312):
    row counts in two date windows + ratio, one scan."""
    d = F.to_date(date_col)
    base = F.sum(
        F.when((d >= F.lit(baseline_start)) & (d < F.lit(baseline_end)), 1).otherwise(0)
    )
    cur = F.sum(
        F.when((d >= F.lit(current_start)) & (d < F.lit(current_end)), 1).otherwise(0)
    )
    return df.agg(
        base.cast("bigint").alias("baseline_rows"),
        cur.cast("bigint").alias("current_rows"),
    ).select(
        "baseline_rows",
        "current_rows",
        F.when(
            F.col("baseline_rows") > 0,
            F.col("current_rows").cast("double") / F.col("baseline_rows"),
        ).alias("volume_ratio"),
    )


def robust_outlier_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_cutoff: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier census via median/MAD (the modified
    z-score, |0.6745·(x−median)/MAD| > cutoff). Mean/stddev outlier
    rules break exactly when outliers are present — median and MAD
    don't, which is why monitoring uses them.

    Two exact percentile passes (median of values, then median of
    absolute deviations) + one counting pass, all grouped by
    ``group_col`` — work distributes per group. Exact `percentile`
    buffers a group's values on its reducer: right for bounded-size
    groups (monitoring dimensions); for billion-row groups switch to
    `percentile_approx` (same shape, rows-only checkable).
    """
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("median")
    )
    # feeds the MAD pass AND the outlier count — persist so the fact
    # scan + median join run once (r19, guide §5; same shape as the
    # histogram scale path's deviation persist)
    with_med = df.join(med, group_col).persist()
    mad = with_med.groupBy(group_col).agg(
        F.expr(f"percentile(abs({value_col} - median), 0.5)").alias("mad"),
        F.first("median").alias("median"),
    )
    scored = with_med.join(mad.select(group_col, "mad"), group_col)
    # the mad > 0 guard must wrap the division (ANSI mode evaluates all
    # conjuncts: a bare AND still divides by zero on constant groups)
    z = (
        F.lit(0.6745)
        * F.abs(F.col(value_col) - F.col("median"))
        / F.col("mad")
    )
    is_outlier = F.when(F.col("mad") > 0, z > z_cutoff).otherwise(F.lit(False))
    counts = scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(is_outlier.cast("int")).alias("n_outliers"),
    )
    return (
        counts.join(mad, group_col)
        .select(
            group_col,
            F.col("n").cast("bigint").alias("n"),
            "median",
            "mad",
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema diff between two table versions: one row per drifted
    column — added / removed / type_changed — the contract check a
    pipeline runs before trusting an upstream refresh.

    Operates on schema METADATA (parquet footers), not data: zero scan
    cost at any table size. Identical schemas yield an empty frame.
    """
    spark = old.sparkSession
    old_t = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(set(old_t) | set(new_t)):
        if c not in new_t:
            rows.append((c, "removed", old_t[c], None))
        elif c not in old_t:
            rows.append((c, "added", None, new_t[c]))
        elif old_t[c] != new_t[c]:
            rows.append((c, "type_changed", old_t[c], new_t[c]))
    return spark.createDataFrame(
        rows, "column string, status string, old_type string, new_type string"
    )


def expectations_report(
    df: DataFrame, rules: list[dict], ref_tables: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Declarative expectations engine (Deequ / Great Expectations
    shape; the rule-list generalization of the reference's hard-coded
    checks, utils/data_quality.py:36-95). Each rule is a dict:

    - ``{"rule": name, "kind": "not_null", "col": c}``
    - ``{"kind": "in_range", "col": c, "lo": x, "hi": y}`` (NULL passes
      — compose with not_null to also reject NULLs)
    - ``{"kind": "in_set", "col": c, "values": [...]}`` (NULL passes)
    - ``{"kind": "regex", "col": c, "pattern": p}`` (NULL passes)
    - ``{"kind": "unique", "cols": [c, ...]}``
    - ``{"kind": "ref_integrity", "col": c, "ref": table, "ref_col": rc}``
      (requires ``ref_tables[table]``; NULL passes)

    Returns one row per rule: ``rule, kind, n_checked, n_violations,
    passed``.

    Scale shape (100 TB): every row-predicate rule (not_null / in_range
    / in_set / regex) is fused into ONE conditional-aggregation scan —
    adding rules adds zero jobs. ``unique`` rules each cost one
    hash-aggregate on their key; ``ref_integrity`` is a broadcast-able
    anti-join counted on the fact side. All branches end in a
    single-row aggregate, so the unioned report is dimension-sized and
    nothing touches the driver.
    """
    if not rules:
        raise ValueError("rules must be a non-empty list")
    ref_tables = ref_tables or {}
    known = {"not_null", "in_range", "in_set", "regex", "unique",
             "ref_integrity"}
    for r in rules:
        if r.get("kind") not in known:
            raise ValueError(f"unknown expectation kind: {r.get('kind')!r}")
        if "rule" not in r:
            raise ValueError(f"expectation missing 'rule' name: {r!r}")
        if "'" in r["rule"]:
            # rule names are spliced into a stack() expression literal
            raise ValueError("rule names must not contain single quotes")

    total = F.count(F.lit(1))
    scan_aggs = [total.cast("bigint").alias("_n_checked")]
    scan_rules = []
    for r in rules:
        k = r["kind"]
        if k == "not_null":
            bad = F.col(r["col"]).isNull()
        elif k == "in_range":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.between(F.lit(r["lo"]), F.lit(r["hi"]))
        elif k == "in_set":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.isin(list(r["values"]))
        elif k == "regex":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.rlike(r["pattern"])
        else:
            continue
        scan_rules.append(r)
        scan_aggs.append(
            F.sum(F.when(bad, 1).otherwise(0))
            .cast("bigint")
            .alias(f"_v_{len(scan_rules) - 1}")
        )

    reports = []
    if scan_rules:
        # stack() the single wide aggregate into long format — a union
        # of per-rule selects would re-scan the input once per rule
        wide = df.agg(*scan_aggs)
        stack_args = ", ".join(
            f"'{r['rule']}', '{r['kind']}', _v_{i}"
            for i, r in enumerate(scan_rules)
        )
        reports.append(
            wide.selectExpr(
                f"stack({len(scan_rules)}, {stack_args})"
                " as (rule, kind, n_violations)",
                "_n_checked as n_checked",
            ).select("rule", "kind", "n_checked", "n_violations")
        )
    for r in rules:
        if r["kind"] == "unique":
            dup = (
                df.groupBy(*r["cols"])
                .agg(F.count(F.lit(1)).alias("_n"))
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_checked"),
                    F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
                    .cast("bigint")
                    .alias("n_violations"),
                )
            )
            reports.append(
                dup.select(
                    F.lit(r["rule"]).alias("rule"),
                    F.lit("unique").alias("kind"),
                    "n_checked",
                    "n_violations",
                )
            )
        elif r["kind"] == "ref_integrity":
            if r["ref"] not in ref_tables:
                raise ValueError(
                    f"ref_integrity rule {r['rule']!r} needs "
                    f"ref_tables[{r['ref']!r}]"
                )
            # one fact scan: broadcast left join + conditional count
            # (an anti-join plus a separate total would scan twice)
            ref = (
                ref_tables[r["ref"]]
                .select(F.col(r["ref_col"]).alias(r["col"]))
                .distinct()
                .withColumn("_ref_hit", F.lit(1))
            )
            fact = df.filter(F.col(r["col"]).isNotNull())
            rep = fact.join(F.broadcast(ref), r["col"], "left").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_checked"),
                F.sum(F.when(F.col("_ref_hit").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_violations"),
            )
            reports.append(
                rep.select(
                    F.lit(r["rule"]).alias("rule"),
                    F.lit("ref_integrity").alias("kind"),
                    "n_checked",
                    "n_violations",
                )
            )

    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.withColumn("passed", F.col("n_violations") == 0)


def k_anonymity_report(
    df: DataFrame, qi_cols: list[str], k: int = 5
) -> DataFrame:
    """Re-identification risk surface: quasi-identifier combinations
    shared by FEWER than ``k`` rows (the k-anonymity criterion —
    public-domain privacy model, Sweeney 2002). Rows in these groups
    are linkable by their quasi-identifiers; the remediation is
    generalization/suppression of exactly these combinations (compose
    with cleaning.pseudonymize_columns for the identifier columns).

    Returns the risky groups: qi_cols + ``n_rows``, ascending by
    ``n_rows`` then the QI values (worst first, deterministic).

    Scale shape: ONE hash aggregation on the QI columns → group-
    cardinality-sized output; the filter keeps only sub-k groups, so
    the result is the risk list, not the population."""
    if not qi_cols:
        raise ValueError("qi_cols must be a non-empty column list")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .filter(F.col("n_rows") < k)
        .orderBy("n_rows", *qi_cols)
    )


def robust_outlier_report_hist(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 40,
    z_cutoff: float = 3.5,
) -> DataFrame:
    """Scale path for :func:`robust_outlier_report`: median and MAD
    from fixed-bin histograms instead of exact per-group percentiles
    (which buffer a whole group on one reducer).

    Two bounded passes: a per-group value histogram yields the
    histogram-median; the absolute deviations from that median feed a
    second histogram (range [0, hi - lo]) for the MAD. Both medians
    come from sketches.quantiles_from_histograms — deterministic, so
    the whole report stays hash-checkable; resolution is bin-width
    bounded, the standard trade for monitoring cutoffs."""
    from distributed_mobility_data_pipeline_spark.operators import sketches

    nn = df.filter(F.col(value_col).isNotNull())
    h1 = sketches.binned_value_histograms(
        nn, [group_col], value_col, lo, hi, n_bins
    )
    med = (
        sketches.quantiles_from_histograms(
            h1, [group_col], [0.5], lo, hi, n_bins
        )
        .select(group_col, F.col("value_q").alias("median"))
    )
    # deviations feed BOTH the MAD histogram and the final outlier
    # count; un-persisted, each consumer re-ran the fact scan plus the
    # whole median sub-plan nested inside it (the r19 plan audit counted
    # 9 fact scans / 17 exchanges here). One cached computation brings
    # the query to two fact scans total (histogram pass + deviation
    # pass) — the structural minimum for median-then-MAD.
    devs = nn.join(F.broadcast(med), group_col).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("median"))
    ).persist()
    h2 = sketches.binned_value_histograms(
        devs, [group_col], "_adev", 0.0, hi - lo, n_bins
    )
    mad = (
        sketches.quantiles_from_histograms(
            h2, [group_col], [0.5], 0.0, hi - lo, n_bins
        )
        .select(group_col, F.col("value_q").alias("mad"))
    )
    scored = devs.join(F.broadcast(mad), group_col)
    z = F.lit(0.6745) * F.col("_adev") / F.col("mad")
    is_outlier = F.when(F.col("mad") > 0, z > z_cutoff).otherwise(F.lit(False))
    return (
        scored.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.first("median").alias("median"),
            F.first("mad").alias("mad"),
            F.sum(is_outlier.cast("int")).cast("bigint").alias("n_outliers"),
        )
    )
