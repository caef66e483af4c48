"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Organization: the engine lives in ``distributed_mobility_data_pipeline_spark/``;
this module only wires operators to the driver's testdata tables.
Query names are grouped by SURVEY.md §2 operator family.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.operators import aggregates as agg_ops
from distributed_mobility_data_pipeline_spark.operators import cleaning as clean_ops
from distributed_mobility_data_pipeline_spark.operators import dedup as dedup_ops
from distributed_mobility_data_pipeline_spark.operators import dedup_llm as ddllm_ops
from distributed_mobility_data_pipeline_spark.operators import drift as drift_ops
from distributed_mobility_data_pipeline_spark.operators import multimodal as mm_ops
from distributed_mobility_data_pipeline_spark.operators import similarity as sim_ops
from distributed_mobility_data_pipeline_spark.operators import text as text_ops
from distributed_mobility_data_pipeline_spark.operators import metrics as metric_ops
from distributed_mobility_data_pipeline_spark.operators import quality as quality_ops
from distributed_mobility_data_pipeline_spark.operators import setops as set_ops
from distributed_mobility_data_pipeline_spark.operators import star as star_ops
from distributed_mobility_data_pipeline_spark.operators import asof as asof_ops
from distributed_mobility_data_pipeline_spark.operators import behavior as behavior_ops
from distributed_mobility_data_pipeline_spark.operators import linkage as link_ops
from distributed_mobility_data_pipeline_spark.operators import sketches as sketch_ops
from distributed_mobility_data_pipeline_spark.operators import timeseries as ts_ops
from distributed_mobility_data_pipeline_spark.operators import graph as graph_ops
from distributed_mobility_data_pipeline_spark.operators import winnow as winnow_ops
from distributed_mobility_data_pipeline_spark.operators import bpe as bpe_ops
from distributed_mobility_data_pipeline_spark.operators import reconcile as recon_ops
from distributed_mobility_data_pipeline_spark.operators import sampling as sample_ops
from distributed_mobility_data_pipeline_spark.operators import scalars as scalar_ops
from distributed_mobility_data_pipeline_spark.operators import skew as skew_ops
from distributed_mobility_data_pipeline_spark.operators import layout as layout_ops
from distributed_mobility_data_pipeline_spark.plans import behavior as behavior_plan
from distributed_mobility_data_pipeline_spark.plans import corpus as corpus_plan
from distributed_mobility_data_pipeline_spark.ml import basket as basket_ops
from distributed_mobility_data_pipeline_spark.ml import features as mlfeat
from distributed_mobility_data_pipeline_spark.ml import scoring as mlscore
from distributed_mobility_data_pipeline_spark.ml import serving as serve_ops
from distributed_mobility_data_pipeline_spark.ml import training as mltrain
from distributed_mobility_data_pipeline_spark.operators import windows as win_ops
from distributed_mobility_data_pipeline_spark.sources.readers import (
    load_testdata,
    read_events_stream,
    read_testdata,
)
from distributed_mobility_data_pipeline_spark.sources.writers import morton_key_nd
from distributed_mobility_data_pipeline_spark.streaming import events as stream_ops
from distributed_mobility_data_pipeline_spark.streaming import stateful as stateful_ops
from distributed_mobility_data_pipeline_spark.streaming import corpus as stream_corpus

QueryFn = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp formatting/truncation is session-TZ sensitive; the DuckDB
    # oracle runs in UTC, so pin it regardless of the caller's session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Per-SESSION scan-plan cache (r19 optimization, guide §7.3/§6): a
    # testdata read plans with its declared schema, so no footer is read,
    # but each read still re-resolves the source and lists its files, and
    # several queries scan 3-5 tables. The cache holds only the LAZY
    # reader DataFrame — a plan, never data or results — and lives on the
    # session object, so every action still computes from the parquet
    # inputs and a new session starts cold.
    cache = getattr(spark, "_graft_scan_cache", None)
    if cache is None:
        cache = {}
        spark._graft_scan_cache = cache
    key = (sf_dir, name)
    if key not in cache:
        cache[key] = read_testdata(spark, sf_dir, name)
    return cache[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    sf_dir = "/root/testdata/sf0.001"
    return agg_ops.hourly_demand(_t(spark, sf_dir, "events"))


def _corpus_snapshots(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(old, new) corpus versions with known deltas: every 10th doc
    removed, docs ending in 1 edited (token appended), the first 30 docs
    re-added under new ids."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 1, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text"
    )
    return docs, new.unionByName(added)


def _quality_gate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows the streaming quality gate would quarantine, with their
    violation list (comma-joined for a scalar oracle compare)."""
    from distributed_mobility_data_pipeline_spark.streaming.sinks import quality_gate_split

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    checks = {
        "known_event_type": F.col("event_type").isin(
            "click", "view", "purchase", "signup"
        ),
        "value_below_cap": F.col("value") <= 100.0,
    }
    _good, bad = quality_gate_split(ev, checks)
    return bad.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.concat_ws(",", "violations").alias("violations"),
    )


_MIX_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def _importance_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing end-to-end: per-source sampling weights
    (target/actual share, clipped to [0,1]) applied as a deterministic
    hash-threshold sample — the downsampling step that enforces a
    prescribed domain mixture."""
    docs = _t(spark, sf_dir, "documents")
    weights = sample_ops.source_mixing_weights(docs, _MIX_TARGETS).select(
        "source",
        F.least(
            F.coalesce(F.col("sampling_weight"), F.lit(0.0)), F.lit(1.0)
        ).alias("keep_weight"),
    )
    weighted = docs.join(F.broadcast(weights), "source")
    return sample_ops.importance_weighted_sample(
        weighted, "doc_id", "keep_weight"
    ).select("doc_id", "source", "keep_weight")


def _scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type from the events stream;
    timestamps formatted to strings for cross-engine hash parity."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    hist = win_ops.scd2_history(
        ev, "user_id", "event_type", "ts", tiebreak=["event_id"]
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return hist.select(
        "user_id",
        "event_type",
        "version",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "is_current",
    )


def _morton_nd_sql(cols: list[str], bits: int) -> str:
    """DuckDB twin of writers.morton_key_nd: the same shift/and
    arithmetic, summed (bit positions are disjoint, so + == |)."""
    k = len(cols)
    mask = (1 << bits) - 1
    terms = []
    for j, c in enumerate(cols):
        for b in range(bits):
            terms.append(f"(((({c}) & {mask}) >> {b}) & 1) * {1 << (b * k + j)}")
    return "(" + " + ".join(terms) + ")"


# Pure-SQL surface (readers.load_testdata registers the dataset as temp
# views; Catalyst treats the SQL text identically to DataFrame code).
# The same ANSI text runs on DuckDB as the oracle.
_SEGMENT_LTV_SQL = """
    WITH per_cust AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS ltv,
             COUNT(*) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ltv AS DECIMAL(18,6))) AS DOUBLE) AS total_ltv,
           CAST(SUM(CAST(ltv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS avg_ltv
    FROM per_cust GROUP BY 1
"""


def _sql_segment_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API twin query: per-segment customer lifetime value."""
    load_testdata(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_SEGMENT_LTV_SQL)


def _pit_status_at_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction: for every event, the SCD2 status
    version in effect at that event's timestamp (the feature-store
    leakage-safe join over the win_scd2_history intervals)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist = win_ops.scd2_history(
        ev, "user_id", "event_type", "ts", tiebreak=["event_id"]
    ).withColumnRenamed("event_type", "status")
    probes = ev.select("user_id", "event_id", "ts")
    out = asof_ops.point_in_time_join(probes, hist, "user_id", "ts")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "status",
        "version",
    )


def _contaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies of the first 50 docs (one token dropped,
    doc_id + 500000) — a corpus with KNOWN benchmark contamination so
    the decontamination query has non-empty, oracle-checkable output."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    leaked = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, length(text) - instr(reverse(text), ' '))"
        ).alias("text"),
    )
    return docs.unionByName(leaked)


# IVF quantizer cache: trained once per sf_dir (the "offline" phase of an
# inverted-file index), reused by every sim_ivf_ann call so the query path
# carries zero KMeans training.
_IVF_CENTROIDS: dict[str, list] = {}


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    if sf_dir not in _IVF_CENTROIDS:
        _IVF_CENTROIDS[sf_dir] = sim_ops.fit_ivf_quantizer(
            _t(spark, sf_dir, "embeddings")
        )
    return _IVF_CENTROIDS[sf_dir]


# PQ codebook cache: same offline-train-once contract as the IVF
# quantizer — sim_pq_* queries carry zero KMeans on the query path.
_PQ_CODEBOOKS: dict[str, list] = {}


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    if sf_dir not in _PQ_CODEBOOKS:
        _PQ_CODEBOOKS[sf_dir] = sim_ops.fit_pq_codebooks(
            _t(spark, sf_dir, "embeddings")
        )
    return _PQ_CODEBOOKS[sf_dir]


# Fixed demand-request batch for the serving query (inputs chosen with
# one-decimal features so the weighted sum is 2-decimal exact and
# round(,2) agrees bit-for-bit across engines).
_SERVE_REQUESTS: list[tuple] = [
    (10, 2, 0, 4.0, 6.0, 5.0),
    (22, 6, 1, None, 2.0, 1.5),
    (7, 1, 0, 12.5, 8.1, 9.3),
    (18, 5, 1, 0.0, 0.0, 0.0),
    (3, 3, 0, 100.2, 90.4, 95.6),
]


def _stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (SURVEY.md §2.10 extension): drive
    the applyInPandasWithState running-totals stream over the events
    files and surface the last update per key (= the final state)."""
    path = os.path.join(sf_dir, "events.parquet")
    view = "_stateful_totals_drv"
    spark.catalog.dropTempView(view)
    src = read_events_stream(spark, path, max_files_per_trigger=1)
    q = (
        stateful_ops.running_totals_stream(src)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(view)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"""
        SELECT event_type, total_events, total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY total_events DESC) rn
          FROM {view}
        ) WHERE rn = 1
        """
    )


# ---------------------------------------------------------------------------
# queries() — one entry per implemented operator (SURVEY.md §2)
# ---------------------------------------------------------------------------


def queries() -> dict[str, QueryFn]:
    return {
        # §2.5 aggregates
        "agg_hourly_demand": lambda s, d: agg_ops.hourly_demand(_t(s, d, "events")),
        "agg_revenue_daily": lambda s, d: agg_ops.revenue_daily(_t(s, d, "lineitem")),
        "agg_driver_daily_summary": lambda s, d: agg_ops.driver_daily_summary(
            _t(s, d, "orders")
        ),
        # ensure_min_parallelism (r19, guide §2.5 unsplittable-input fix):
        # the bench lineitem file is a single parquet row group, so the
        # scan — and the 9 decimal partial aggregates that run inside the
        # scan stage — is one serial task. The round-robin repartition
        # parallelizes that work (order-free decimal sums ⇒ bit-identical
        # result, A/B-verified) and is a NO-OP wherever the scan already
        # has ≥ defaultParallelism partitions, i.e. at any real scale.
        # Only applied where measured faster: queries with cheap per-row
        # aggregation work (hourly/daily rollups, cube pre-agg) got
        # SLOWER from the extra shuffle and keep the plain scan.
        "agg_pricing_summary": lambda s, d: agg_ops.pricing_summary(
            layout_ops.ensure_min_parallelism(_t(s, d, "lineitem"))
        ),
        "agg_supply_demand_hourly": lambda s, d: agg_ops.supply_demand_hourly(
            _t(s, d, "events")
        ),
        "agg_approx_distinct_hourly": lambda s, d: agg_ops.approx_supply_demand_hourly(
            _t(s, d, "events")
        ),
        "agg_histogram_value": lambda s, d: agg_ops.histogram(
            _t(s, d, "events"), "value", [0.0, 10.0, 25.0, 50.0, 75.0, 100.0]
        ),
        "agg_status_distribution": lambda s, d: agg_ops.status_distribution(
            _t(s, d, "orders"), "o_orderstatus"
        ),
        "agg_top_k_global": lambda s, d: agg_ops.top_k(
            _t(s, d, "orders").select("o_orderkey", "o_totalprice"),
            "o_totalprice",
            10,
            tiebreak="o_orderkey",
        ),
        "agg_top_k_per_group": lambda s, d: agg_ops.top_k(
            _t(s, d, "orders").select(
                "o_orderkey", "o_orderpriority", "o_totalprice"
            ),
            "o_totalprice",
            3,
            "o_orderpriority",
            tiebreak="o_orderkey",
        ),
        "agg_cube_revenue": lambda s, d: agg_ops.cube_revenue(_t(s, d, "lineitem")),
        "agg_rollup_revenue": lambda s, d: agg_ops.rollup_revenue(
            _t(s, d, "lineitem")
        ),
        "agg_pivot_status": lambda s, d: agg_ops.pivot_status(_t(s, d, "orders")),
        # §2.2 cleaning / projection / predicates
        "clean_events_silver": lambda s, d: clean_ops.clean_events(
            _t(s, d, "events")
        ),
        "clean_ensure_columns": lambda s, d: clean_ops.ensure_columns(
            _t(s, d, "orders").select("o_orderkey", "o_totalprice"),
            {"city": F.lit("unknown"), "surge_factor": F.lit(1.0)},
        ),
        "clean_range_filter": lambda s, d: _t(s, d, "orders")
        .filter(
            (F.to_date("o_orderdate") >= F.lit("1995-01-01"))
            & (F.to_date("o_orderdate") < F.lit("1996-01-01"))
            & (F.col("o_totalprice") > 1000.0)
        )
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").cast("string").alias("order_date"),
            "o_totalprice",
        ),
        # §2.3 dedup
        "dedup_keep_latest": lambda s, d: dedup_ops.keep_latest(
            _t(s, d, "events"), ["user_id"], "ts", ["event_id"]
        ).select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "user_id",
            "event_type",
        ),
        "dedup_distinct_projection": lambda s, d: dedup_ops.distinct_projection(
            _t(s, d, "events"), ["user_id", "event_type"]
        ),
        "dedup_duplicate_stats": lambda s, d: dedup_ops.exact_duplicate_stats(
            _t(s, d, "lineitem"), ["l_orderkey"]
        ),
        # §2.4 star schema + joins
        "star_dim_time": lambda s, d: star_ops.dim_time(
            _t(s, d, "orders"), "o_orderdate"
        ),
        "star_dim_entity": lambda s, d: star_ops.dim_entity(
            _t(s, d, "customer"), "c_custkey", ["c_name", "c_mktsegment"], "user_key"
        ),
        "star_dim_locations": lambda s, d: star_ops.dim_locations_roleplay(
            _t(s, d, "customer"), _t(s, d, "supplier"), _t(s, d, "nation")
        ),
        # fact-side ensure_min_parallelism: same single-row-group story
        # as agg_pricing_summary above — the 4 broadcast-join probes run
        # inside the one-task scan stage; measured faster repartitioned,
        # no-op at scale
        "star_trips_fact": lambda s, d: star_ops.trips_fact(
            layout_ops.ensure_min_parallelism(_t(s, d, "lineitem")),
            _t(s, d, "orders"),
            _t(s, d, "customer"),
            _t(s, d, "supplier"),
            _t(s, d, "part"),
        ),
        "star_payments_fact": lambda s, d: star_ops.payments_fact(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        "join_ri_check": lambda s, d: star_ops.ri_check(
            _t(s, d, "lineitem"), _t(s, d, "part"), "l_partkey", "p_partkey"
        ),
        "join_semi_orders_with_lines": lambda s, d: star_ops.semi_join(
            _t(s, d, "orders").select("o_orderkey", "o_orderstatus"),
            _t(s, d, "lineitem"),
            "o_orderkey",
            "l_orderkey",
        ),
        "join_anti_customers_no_orders": lambda s, d: star_ops.anti_join(
            _t(s, d, "customer").select("c_custkey", "c_mktsegment"),
            _t(s, d, "orders"),
            "c_custkey",
            "o_custkey",
        ),
        # §2.8 set ops
        "set_union_nation_keys": lambda s, d: set_ops.union_distinct(
            _t(s, d, "customer").select(F.col("c_nationkey").cast("int").alias("nk")),
            _t(s, d, "supplier").select(F.col("s_nationkey").cast("int").alias("nk")),
        ),
        "set_intersect_nation_keys": lambda s, d: set_ops.intersect(
            _t(s, d, "customer").select(F.col("c_nationkey").cast("int").alias("nk")),
            _t(s, d, "supplier").select(F.col("s_nationkey").cast("int").alias("nk")),
        ),
        "set_except_nation_keys": lambda s, d: set_ops.except_distinct(
            _t(s, d, "customer").select(F.col("c_nationkey").cast("int").alias("nk")),
            _t(s, d, "supplier").select(F.col("s_nationkey").cast("int").alias("nk")),
        ),
        # §2.6 windows
        "win_lag_demand": lambda s, d: win_ops.with_lags(
            win_ops.daily_counts(_t(s, d, "events")),
            ["event_type"],
            "d",
            "n",
            [1, 7],
            prefix="n_lag_",
        ).select(
            F.col("d").cast("string").alias("d"),
            "event_type",
            "n",
            "sum_value",
            "n_lag_1",
            "n_lag_7",
        ),
        "win_rolling_rows": lambda s, d: win_ops.with_rolling_rows(
            win_ops.daily_counts(_t(s, d, "events")),
            ["event_type"],
            "d",
            "n",
            7,
            "7r",
        ).select(
            F.col("d").cast("string").alias("d"),
            "event_type",
            "n",
            "avg_7r",
            "std_7r",
            "cnt_7r",
        ),
        "win_rolling_range_days": lambda s, d: win_ops.with_rolling_range_days(
            win_ops.daily_counts(_t(s, d, "events")),
            ["event_type"],
            "d",
            "n",
            7,
            "7d",
        ).select(
            F.col("d").cast("string").alias("d"),
            "event_type",
            "n",
            "avg_7d",
            "std_7d",
            "cnt_7d",
        ),
        "win_running_total": lambda s, d: win_ops.running_total(
            win_ops.daily_counts(_t(s, d, "events")),
            ["event_type"],
            "d",
            "sum_value",
        ).select(
            F.col("d").cast("string").alias("d"),
            "event_type",
            "sum_value",
            "running_total",
        ),
        "win_rank_customers": lambda s, d: win_ops.rank_within(
            _t(s, d, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
            ["c_mktsegment"],
            "c_acctbal",
        ),
        "win_churn_label": lambda s, d: win_ops.churn_label(
            _t(s, d, "orders").select(
                "o_orderkey",
                "o_custkey",
                F.to_date("o_orderdate").alias("od"),
            ),
            "o_custkey",
            "od",
            30,
            tiebreak=["o_orderkey"],
        ).select(
            "o_orderkey",
            "o_custkey",
            F.col("od").cast("string").alias("od"),
            F.col("next_date").cast("string").alias("next_date"),
            "days_to_next",
            "will_churn",
        ),
        # §2.5 quality / metrics / drift
        "quality_null_report": lambda s, d: quality_ops.null_report(
            clean_ops.null_out_when(
                _t(s, d, "events"),
                "value",
                F.col("event_type").startswith("error"),
            ),
            ["event_id", "user_id", "value", "props"],
        ),
        "quality_full_report": lambda s, d: quality_ops.generate_quality_report(
            _t(s, d, "lineitem"),
            required_cols=["l_orderkey", "l_quantity", "no_such_col"],
            not_null_cols=["l_orderkey", "l_shipdate"],
            non_negative_cols=["l_quantity", "l_extendedprice"],
        ),
        "quality_negative_report": lambda s, d: quality_ops.negative_report(
            _t(s, d, "lineitem"), ["l_quantity", "l_extendedprice", "l_discount"]
        ),
        "quality_freshness": lambda s, d: quality_ops.freshness(
            _t(s, d, "orders"), "o_orderdate"
        ),
        "quality_volume_check": lambda s, d: quality_ops.volume_check(
            _t(s, d, "events"),
            "ts",
            "2024-01-01",
            "2024-01-15",
            "2024-01-15",
            "2024-01-29",
        ),
        "metrics_regression": lambda s, d: metric_ops.regression_metrics(
            metric_ops.naive_forecast_by_key(
                _t(s, d, "events").filter(F.col("value").isNotNull()),
                "event_type",
                "value",
            ),
            "value",
            "yhat",
        ),
        "drift_psi_fixed_bins": lambda s, d: drift_ops.psi_detail_fixed_bins(
            _t(s, d, "events").filter(F.to_date("ts") < F.lit("2024-01-15")),
            _t(s, d, "events").filter(F.to_date("ts") >= F.lit("2024-01-15")),
            "value",
            [0.0, 20.0, 40.0, 60.0, 80.0, 100.0],
        ),
        # binned two-sample KS: per-bin ECDF gap (max = KS statistic)
        "drift_ks_binned": lambda s, d: drift_ops.ks_binned(
            _t(s, d, "events").filter(F.to_date("ts") < F.lit("2024-01-15")),
            _t(s, d, "events").filter(F.to_date("ts") >= F.lit("2024-01-15")),
            "value",
            [0.0, 20.0, 40.0, 60.0, 80.0, 100.0],
        ),
        "drift_psi_quantile_bins": lambda s, d: drift_ops.psi_quantile_bins(
            _t(s, d, "events").filter(F.to_date("ts") < F.lit("2024-01-15")),
            _t(s, d, "events").filter(F.to_date("ts") >= F.lit("2024-01-15")),
            "value",
        ),
        # North-star: text analysis over documents
        "text_doc_stats": lambda s, d: text_ops.doc_stats(_t(s, d, "documents")),
        "text_token_frequencies": lambda s, d: text_ops.token_frequencies(
            _t(s, d, "documents")
        ),
        "text_language_id": lambda s, d: text_ops.language_id(
            _t(s, d, "documents")
        ),
        "text_quality_score": lambda s, d: text_ops.quality_score(
            _t(s, d, "documents")
        ),
        "text_fingerprint": lambda s, d: text_ops.fingerprint(
            _t(s, d, "documents")
        ),
        "text_token_count_bpe": lambda s, d: text_ops.token_count_bpe_ish(
            _t(s, d, "documents")
        ),
        # North-star: chunking / PII scrub / decontamination (round 4)
        "text_chunk_documents": lambda s, d: text_ops.chunk_documents(
            _t(s, d, "documents"), chunk_size=64, stride=48
        ),
        "text_redact_pii": lambda s, d: text_ops.redact_pii(
            _t(s, d, "documents")
        ),
        "text_contamination": lambda s, d: text_ops.contamination_overlap(
            _contaminated_corpus(s, d), bench_max_id=50, n=8, min_overlap=2
        ),
        "text_repetition_stats": lambda s, d: text_ops.repetition_stats(
            _t(s, d, "documents"), n=2
        ),
        "text_pack_chunks": lambda s, d: text_ops.pack_chunks(
            text_ops.chunk_documents(_t(s, d, "documents"), 64, 48), budget=256
        ),
        "sample_mixing_weights": lambda s, d: sample_ops.source_mixing_weights(
            _t(s, d, "documents"),
            {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        ),
        # end-to-end corpus prep (plans/corpus.py): exact dedup -> LSH
        # near-dup removal -> quality/repetition/length gates -> PII scrub
        # -> chunk -> pack. Every stage is deterministic (affine-perm
        # minhash, fixed thresholds), so the whole composition has a
        # DuckDB CTE oracle mirroring the six stages (hash-checked).
        # per-source health dashboard: volume / dup-rate / quality /
        # token mass / language mix in ONE single-scan plan — the
        # measurement table that drives mixture decisions
        "pipeline_corpus_health": lambda s, d: corpus_plan.corpus_health_by_source(
            ddllm_ops.with_exact_copies(_t(s, d, "documents"), 300_000)
        ),
        "pipeline_corpus_prep": lambda s, d: corpus_plan.prepare_training_corpus(
            _t(s, d, "documents")
        )["packed"],
        "sim_quantize_embeddings": lambda s, d: sim_ops.quantize_embeddings(
            _t(s, d, "embeddings")
        ),
        # streaming corpus-ingest dedup: batch twin here (deterministic,
        # oracle-checked); stream==batch proven in tests/test_streaming_corpus.py
        "stream_corpus_dedup": lambda s, d: stream_corpus.dedup_batch_exact(
            _t(s, d, "documents")
        ),
        # batch form of the streaming quality gate (streaming/sinks.py:
        # stream_quality_gate routes these rows to quarantine per
        # micro-batch; identical column algebra both ways)
        "quality_gate_quarantine": lambda s, d: _quality_gate_quarantine(s, d),
        "dedup_corpus_diff": lambda s, d: ddllm_ops.corpus_diff(
            *_corpus_snapshots(s, d)
        ),
        "text_quality_percentile": lambda s, d: text_ops.quality_percentile_filter(
            _t(s, d, "documents"), drop_below=0.1
        ),
        # scale-safe twin of text_quality_percentile: fixed-bin histogram
        # cutoff, no SinglePartition sort anywhere (VERDICT r04 #1)
        "text_quality_cutoff": lambda s, d: text_ops.quality_histogram_cutoff_filter(
            _t(s, d, "documents"), drop_below=0.1, n_bins=1000
        ),
        # round-5 corpus-statistics family
        "text_unigram_logprob": lambda s, d: text_ops.unigram_logprob(
            _t(s, d, "documents")
        ),
        "text_bigram_pmi": lambda s, d: text_ops.bigram_pmi(
            _t(s, d, "documents"), min_count=5
        ),
        "text_vocab_coverage": lambda s, d: text_ops.vocab_coverage(
            _t(s, d, "documents"), vocab_size=100
        ),
        "sample_importance_weighted": lambda s, d: _importance_weighted_docs(s, d),
        "win_scd2_history": lambda s, d: _scd2_user_status(s, d),
        # sub-document boilerplate removal: first block occurrence wins
        "dedup_docs_segments": lambda s, d: ddllm_ops.segment_dedup(
            _t(s, d, "documents"), seg_tokens=16
        ),
        # heavy-hitter diagnostic that decides salting/AQE before a job
        "scale_skew_report": lambda s, d: skew_ops.key_skew_report(
            _t(s, d, "lineitem"), "l_suppkey", top_k=20
        ),
        # incremental gold maintenance: two disjoint partial states
        # merged == one-shot aggregate (the oracle computes one-shot)
        "agg_incremental_daily_revenue": lambda s, d: (
            lambda li: agg_ops.finalize_daily_revenue(
                agg_ops.merge_daily_revenue_states(
                    agg_ops.daily_revenue_state(
                        li.filter(F.col("l_orderkey") % 2 == 0)
                    ),
                    agg_ops.daily_revenue_state(
                        li.filter(F.col("l_orderkey") % 2 == 1)
                    ),
                )
            )
        )(_t(s, d, "lineitem")),
        # per-partition file-count plan for right-sized writes
        "scale_partition_plan": lambda s, d: layout_ops.partition_layout_plan(
            _t(s, d, "documents"),
            ["source"],
            F.length("text") + F.lit(64),
            target_bytes=4096,
        ),
        # contrastive negatives: k hashed partners per anchor (vec_ids
        # are contiguous 0..n-1, so mod-n draws are always valid ids)
        "sample_negative_pairs": lambda s, d: sample_ops.negative_samples(
            _t(s, d, "embeddings").select("vec_id"),
            "vec_id",
            n_keys=_t(s, d, "embeddings").count(),
            k=4,
        ),
        # balanced subset: exactly k docs per source, hash-ordered
        "sample_fixed_k_per_source": lambda s, d: sample_ops.fixed_k_per_group(
            _t(s, d, "documents").select("doc_id", "source"),
            "source",
            "doc_id",
            k=5,
        ),
        # 3-D Z-order key (morton_key_nd): bit-interleave three integer
        # dimensions; oracle mirrors the shift/and/or arithmetic exactly
        "scalar_morton3_key": lambda s, d: _t(s, d, "orders").select(
            "o_orderkey",
            morton_key_nd(
                [
                    F.col("o_custkey") % 256,
                    F.col("o_orderkey") % 256,
                    F.dayofmonth(F.to_date("o_orderdate")).cast("long"),
                ],
                bits_per=21,
            ).alias("zkey"),
        ),
        # the 2-D Z-order key optimize_layout(morton=True) clusters by
        # (S11); its oracle is the independent magic-number bit spread
        "scalar_morton_key": lambda s, d: _t(s, d, "orders").select(
            "o_orderkey",
            morton_key_nd(
                [F.col("o_custkey") % 256, F.col("o_orderkey") % 256],
                bits_per=16,
            ).alias("zkey"),
        ),
        "text_token_rarity": lambda s, d: text_ops.token_rarity(
            _t(s, d, "documents"), rare_df=2
        ),
        "text_tfidf_top_terms": lambda s, d: text_ops.tfidf_top_terms(
            _t(s, d, "documents"), k=3
        ),
        # North-star: document dedup (exact + near)
        "dedup_docs_exact": lambda s, d: ddllm_ops.exact_dedup(
            ddllm_ops.with_exact_copies(_t(s, d, "documents"))
        ),
        "dedup_docs_jaccard_pairs": lambda s, d: ddllm_ops.ngram_jaccard_pairs(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")), 3, 0.5
        ),
        # Winnowing (Schleimer et al. 2003): passage-level local
        # fingerprints — catches SHARED PASSAGES (boilerplate,
        # quotation, embedded copies) that whole-doc hashing and
        # doc-level MinHash miss; dup pairs via fingerprint equi-join
        "text_winnow_fingerprints": lambda s, d: winnow_ops.winnow_fingerprints(
            _t(s, d, "documents"), k=3, w=4
        ),
        "dedup_docs_winnow": lambda s, d: winnow_ops.winnow_dup_pairs(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
            k=3, w=4, min_overlap=0.3, max_df=100,
        ),
        # clusters from winnow pairs: passage-level dup graph -> pointer-
        # doubling components (third pair source for the same clustering
        # machinery, after LSH and exact-Jaccard)
        "dedup_docs_winnow_clusters": lambda s, d: ddllm_ops.dup_clusters(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
            winnow_ops.winnow_dup_pairs(
                ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
                k=3, w=4, min_overlap=0.3, max_df=100,
            ),
        ),
        # leakage-safe split: near-dup clusters are the atomic split
        # unit — a test doc's near-twin can never sit in train
        "sample_cluster_safe_split": lambda s, d: sample_ops.cluster_safe_split(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")).select(
                "doc_id", "source"
            ),
            ddllm_ops.ngram_jaccard_pairs(
                ddllm_ops.with_mutated_copies(_t(s, d, "documents")), 3, 0.5
            ),
        ),
        "dedup_docs_winnow_spans": lambda s, d: winnow_ops.winnow_shared_spans(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
            k=3, w=4, min_overlap=0.3, max_df=100,
        ),
        "dedup_docs_minhash_sig": lambda s, d: ddllm_ops.minhash_signatures(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents"))
        ),
        "dedup_docs_minhash_lsh": lambda s, d: ddllm_ops.minhash_lsh_pairs(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents"))
        ),
        # Clusters fed from LSH candidates — the composed pipeline a corpus-
        # scale dedup runs end-to-end (candidate generation never goes
        # all-pairs). The jaccard-fed twin below keeps the exact baseline
        # checked too.
        "dedup_docs_clusters": lambda s, d: ddllm_ops.dup_clusters(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
            ddllm_ops.minhash_lsh_pairs(
                ddllm_ops.with_mutated_copies(_t(s, d, "documents")), 3
            ).filter(F.col("is_dup") == 1),
        ),
        # quality-aware canonical selection: keep the LONGEST variant
        # per near-dup cluster (vs min-doc_id keep in dedup_docs_clusters)
        "dedup_canonical_quality": lambda s, d: ddllm_ops.canonical_docs(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
            ddllm_ops.minhash_lsh_pairs(
                ddllm_ops.with_mutated_copies(_t(s, d, "documents")), 3
            ).filter(F.col("is_dup") == 1),
            F.length("text").cast("bigint"),
        ),
        "dedup_docs_clusters_jaccard": lambda s, d: ddllm_ops.dup_clusters(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents")),
            ddllm_ops.ngram_jaccard_pairs(
                ddllm_ops.with_mutated_copies(_t(s, d, "documents")), 3, 0.5
            ),
        ),
        "dedup_docs_simhash": lambda s, d: ddllm_ops.simhash(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents"))
        ),
        "dedup_docs_simhash_hamming": lambda s, d: ddllm_ops.simhash_hamming_known_pairs(
            ddllm_ops.with_mutated_copies(_t(s, d, "documents"))
        ),
        # North-star: embedding similarity search
        # class prototypes: per-label mean embedding + nearest-centroid
        # classification confusion (decimal-accumulated -> oracle-exact)
        # (exploded to scalar rows: array reprs differ between engines'
        # client layers even when every element is bit-identical)
        "sim_label_centroids": lambda s, d: sim_ops.label_centroids(
            _t(s, d, "embeddings")
        ).select(
            "label", F.posexplode("centroid").alias("pos", "c")
        ),
        "sim_prototype_confusion": lambda s, d: sim_ops.prototype_confusion(
            _t(s, d, "embeddings")
        ),
        # embedding-level decontamination: train vectors too close to a
        # held-out benchmark slice (first 25 ids as the benchmark set)
        "sim_cross_contamination": lambda s, d: sim_ops.cross_set_contamination(
            _t(s, d, "embeddings").filter(F.col("vec_id") < 25),
            _t(s, d, "embeddings").filter(F.col("vec_id") >= 25),
            threshold=0.3,
        ),
        # hard-negative mining: nearest candidates with a different label
        "sim_hard_negatives": lambda s, d: sim_ops.hard_negatives(
            _t(s, d, "embeddings"), [0, 1, 2, 3, 4], k=5
        ),
        # embedding snapshot drift: re-embedded corpus vs old vectors —
        # cosine histogram over matched ids + added/removed counts
        "sim_embedding_drift": lambda s, d: sim_ops.embedding_drift_hist(
            _t(s, d, "embeddings"),
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") % 97 != 0)
            .withColumn(
                "embedding",
                F.when(
                    F.col("vec_id") % 7 == 0, F.reverse(F.col("embedding"))
                ).otherwise(F.col("embedding")),
            )
            .unionByName(
                _t(s, d, "embeddings")
                .filter(F.col("vec_id") % 89 == 0)
                .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
            ),
        ),
        "sim_cosine_topk": lambda s, d: sim_ops.cosine_topk(
            _t(s, d, "embeddings"), [0, 1, 2, 3, 4], 3
        ),
        "sim_knn_label_agreement": lambda s, d: sim_ops.knn_label_agreement(
            _t(s, d, "embeddings")
        ),
        "sim_pairs_above_threshold": lambda s, d: sim_ops.pairs_above_threshold(
            _t(s, d, "embeddings"), 100, 0.25
        ),
        # Embedding-cosine near-dup CLUSTERING: the brief's fifth dedup
        # family composed end-to-end — exact cosine pairs (bounded block)
        # → the same connected-components step the text dedup uses.
        # max_iters=32: a loose threshold yields stringy components whose
        # diameter exceeds the text-dedup default of 10; propagation stops
        # at convergence anyway, so the cap is just headroom.
        "dedup_embedding_clusters": lambda s, d: ddllm_ops.dup_clusters(
            _t(s, d, "embeddings")
            .filter(F.col("vec_id") < 100)
            .select(F.col("vec_id").alias("doc_id")),
            sim_ops.pairs_above_threshold(_t(s, d, "embeddings"), 100, 0.25).select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            ),
            max_iters=32,
        ),
        "sim_lsh_bucketed_ann": lambda s, d: sim_ops.lsh_bucketed_ann(
            _t(s, d, "embeddings"), [0, 1, 2, 3, 4]
        ),
        "sim_mllib_lsh": lambda s, d: sim_ops.mllib_lsh_neighbors(
            _t(s, d, "embeddings"), [0, 1, 2]
        ),
        # §2.10 streaming twins, run in batch mode (same function bodies
        # serve readStream inputs — tests/test_streaming.py proves
        # batch≡stream equivalence on the real file source)
        "stream_tumbling_hourly": lambda s, d: stream_ops.tumbling_hourly_counts(
            _t(s, d, "events")
        ),
        "stream_sliding_counts": lambda s, d: stream_ops.sliding_counts(
            _t(s, d, "events")
        ),
        "stream_sessionize": lambda s, d: stream_ops.sessionize_batch(
            _t(s, d, "events"), 30
        ),
        # batch twin uses keep_first (earliest ts) — streaming
        # dropDuplicates keeps first *arrival*, which batch mode can't
        # reproduce deterministically if event_id ever repeats
        "stream_dedup": lambda s, d: dedup_ops.keep_first(
            _t(s, d, "events"), ["event_id"], "ts", ["user_id"]
        ).select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        ),
        # custom stateful streaming (applyInPandasWithState): run the real
        # micro-batch stream to a memory sink, return the final running
        # totals per key. Rows-only by design — the update-mode emission
        # schedule isn't SQL-expressible, and the pandas float sum isn't
        # bit-contracted; the batch ground-truth equivalence is asserted in
        # tests/test_stateful_streaming.py.
        "stream_stateful_counts": _stream_stateful_counts,
        # stream-static broadcast enrichment + stream-stream interval
        # self-join (batch twins of the streaming bodies; equivalence on
        # the real file stream is proven in tests/test_streaming_joins.py)
        "stream_static_enrich": lambda s, d: stream_ops.enriched_segment_counts(
            _t(s, d, "events"), _t(s, d, "customer")
        ),
        "stream_stream_conversions": lambda s, d: stream_ops.view_purchase_conversions(
            _t(s, d, "events")
        ),
        # classic filter-agg / conditional-agg / ratio shapes (Q6/Q12/Q14)
        "agg_forecast_revenue_change": lambda s, d: _t(s, d, "lineitem")
        .filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.03, 0.05))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,6)")
                 * F.col("l_discount").cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        ),
        "agg_priority_shipping": lambda s, d: _t(s, d, "lineitem")
        .join(_t(s, d, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("high_line_count"),
            F.sum(
                F.when(
                    ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("low_line_count"),
        ),
        "agg_promo_revenue_pct": lambda s, d: _t(s, d, "lineitem")
        .join(_t(s, d, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(
                        F.col("p_type").startswith("ECO"),
                        F.col("l_extendedprice").cast("decimal(18,6)")
                        * (F.lit(1).cast("decimal(18,6)")
                           - F.col("l_discount").cast("decimal(18,6)")),
                    ).otherwise(F.lit(0).cast("decimal(37,12)"))
                ).cast("double")
                / F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1).cast("decimal(18,6)")
                       - F.col("l_discount").cast("decimal(18,6)"))
                ).cast("double")
            ).alias("promo_pct"),
        ),
        # multi-way shuffle-join analytics (TPC-H Q3/Q5 shapes)
        "agg_shipping_priority": lambda s, d: agg_ops.shipping_priority(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            "BUILDING",
        ),
        "agg_local_supplier_volume": lambda s, d: agg_ops.local_supplier_volume(
            _t(s, d, "region"),
            _t(s, d, "nation"),
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            "ASIA",
        ),
        "agg_order_priority_checks": lambda s, d: agg_ops.order_priority_checks(
            _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "agg_returned_item_losses": lambda s, d: agg_ops.returned_item_losses(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "nation"),
        ),
        "agg_customer_order_distribution": lambda s, d: (
            agg_ops.customer_order_distribution(
                _t(s, d, "customer"), _t(s, d, "orders")
            )
        ),
        "agg_supplier_counts_by_part": lambda s, d: agg_ops.supplier_counts_by_part(
            _t(s, d, "part"), _t(s, d, "lineitem"), _t(s, d, "supplier")
        ),
        "agg_large_volume_customers": lambda s, d: agg_ops.large_volume_customers(
            _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
        ),
        "agg_dormant_customers": lambda s, d: agg_ops.dormant_high_value_customers(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        "agg_nation_trade_volume": lambda s, d: agg_ops.nation_trade_volume(
            _t(s, d, "lineitem"),
            _t(s, d, "orders"),
            _t(s, d, "customer"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            "NATION_1",
            "NATION_2",
        ),
        "agg_market_share": lambda s, d: agg_ops.market_share(
            _t(s, d, "lineitem"),
            _t(s, d, "orders"),
            _t(s, d, "customer"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
            _t(s, d, "part"),
            "AMERICA",
            "NATION_3",
            "ECONOMY",
        ),
        "agg_top_revenue_suppliers": lambda s, d: agg_ops.top_revenue_suppliers(
            _t(s, d, "lineitem"), _t(s, d, "supplier")
        ),
        "agg_brand_promo_revenue": lambda s, d: agg_ops.brand_promo_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        "agg_sole_return_suppliers": lambda s, d: agg_ops.sole_return_suppliers(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "supplier")
        ),
        "agg_important_part_values": lambda s, d: agg_ops.important_part_values(
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            "NATION_3",
            0.001,
        ),
        # North-star: IVF ANN (k-means coarse quantizer trained offline
        # once per sf_dir; the query itself is assignment + probe only)
        "sim_ivf_ann": lambda s, d: sim_ops.ivf_ann(
            _t(s, d, "embeddings"), [0, 1, 2, 3, 4],
            centroids=_ivf_centroids(s, d),
        ),
        # IVF ANN with fixed formula centroids: same assignment/probe/
        # top-k machinery as sim_ivf_ann, but deterministic centroids
        # shared with the DuckDB oracle → the whole IVF pipeline is
        # hash-checked (the KMeans-trained path above stays recall-pinned
        # in tests/test_ann_quality).
        "sim_ivf_ann_fixed": lambda s, d: sim_ops.ivf_ann(
            _t(s, d, "embeddings"), [0, 1, 2, 3, 4],
            n_probe=4, k=3,
            centroids=sim_ops.fixed_ivf_centroids(64),
        ),
        # PQ encode: the argmin-over-codebooks mapping, hash-checked
        # against DuckDB. Uses deterministic formula codebooks (same
        # float literals embedded in both engines — see
        # sim_ops.fixed_pq_codebooks); the ANN-path queries below keep
        # KMeans-trained books (recall pinned in tests/test_ann_quality).
        "sim_pq_encode": lambda s, d: sim_ops.encode_pq(
            _t(s, d, "embeddings"), sim_ops.fixed_pq_codebooks(64)
        ).select(
            "vec_id", "label", F.concat_ws(",", F.col("codes")).alias("codes")
        ),
        # composed IVF-PQ index: coarse cells prune, PQ codes compress;
        # both models from the offline caches (zero training in-query)
        "sim_ivfpq_ann": lambda s, d: sim_ops.ivfpq_ann(
            _t(s, d, "embeddings"),
            [0, 1, 2, 3, 4],
            _ivf_centroids(s, d),
            _pq_codebooks(s, d),
        ),
        # PQ asymmetric-distance ANN with the same fixed codebooks as
        # sim_pq_encode → ADC scoring + top-k are hash-checked against
        # DuckDB. The KMeans-trained codebook path stays live (and
        # recall-pinned) via sim_ivfpq_ann above.
        "sim_pq_ann": lambda s, d: sim_ops.pq_ann(
            _t(s, d, "embeddings"), [0, 1, 2, 3, 4],
            codebooks=sim_ops.fixed_pq_codebooks(64),
        ),
        # composed IVF-PQ with BOTH fixed models (formula centroids +
        # formula codebooks): cell pruning, probe ranking, ADC scoring
        # and top-k — the full billion-vector index layout — hash-checked
        # end to end against DuckDB. The KMeans-trained composition stays
        # live above (sim_ivfpq_ann, recall-pinned in test_ann_quality).
        "sim_ivfpq_ann_fixed": lambda s, d: sim_ops.ivfpq_ann(
            _t(s, d, "embeddings"),
            [0, 1, 2, 3, 4],
            centroids=sim_ops.fixed_ivf_centroids(64),
            codebooks=sim_ops.fixed_pq_codebooks(64),
            n_probe=4,
            k=3,
        ),
        # unpivot/melt + explicit grouping sets (relational extras)
        "agg_unpivot_measures": lambda s, d: _t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "measure",
            "val",
        ),
        "agg_grouping_sets": lambda s, d: (
            _t(s, d, "lineitem").createOrReplaceTempView("_li_gs")
            or s.sql(
                """
                SELECT l_returnflag, l_linestatus,
                       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                       count(*) AS n
                FROM _li_gs
                GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                """
            )
        ),
        # extended join surface: as-of (point-in-time) join. Orders are
        # 1995-2001 while events are 2024 — remap order dates into the
        # events month (deterministically) so the join has real matches
        # and the oracle check is non-vacuous.
        "join_asof_orders_events": lambda s, d: asof_ops.asof_join(
            _t(s, d, "orders").select(
                "o_orderkey",
                "o_custkey",
                F.expr(
                    "timestamp(date_add(date'2024-01-01', "
                    "int(datediff(to_date(o_orderdate), date'1995-01-01') % 28)))"
                ).alias("order_ts"),
                "o_totalprice",
            ),
            _t(s, d, "events"),
            "o_custkey",
            "user_id",
            "order_ts",
            "ts",
            ["event_type", "value"],
            "event_id",
        ).select(
            "o_orderkey",
            "o_custkey",
            F.date_format("order_ts", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            F.col("asof_event_type").alias("last_event_type"),
            F.col("asof_value").alias("last_event_value"),
        ),
        # sampling & data mixing (hash-based variants are layout-
        # independent → oracle-checked; RNG variants rows-only)
        "sample_hash_docs": lambda s, d: sample_ops.hash_sample(
            _t(s, d, "documents"), "doc_id", 0.25
        ),
        "sample_hash_split_train": lambda s, d: sample_ops.hash_split(
            _t(s, d, "orders").select("o_orderkey", "o_custkey"), "o_orderkey", 0.8
        )[0],
        "sample_mix_sources": lambda s, d: sample_ops.mix_sources(
            _t(s, d, "documents"),
            "source",
            {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        ),
        "sample_bernoulli": lambda s, d: sample_ops.sample_fraction(
            _t(s, d, "documents"), 0.3
        ),
        # skew tooling (SURVEY.md §4c): the two-phase salted aggregate is
        # deterministic and must equal a plain GROUP BY — oracle-checked.
        "scale_salted_count": lambda s, d: skew_ops.salted_count(
            _t(s, d, "lineitem"), "l_returnflag", "l_orderkey"
        ),
        # correlated scalar subquery (Catalyst decorrelates to a join)
        "agg_small_quantity_orders": lambda s, d: (
            _t(s, d, "lineitem").createOrReplaceTempView("_li_sq")
            or s.sql(
                """
                SELECT l_partkey,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS small_revenue,
                       count(*) AS n_small_lines
                FROM _li_sq outer_li
                WHERE l_quantity < (
                    SELECT 0.5 * avg(l_quantity) FROM _li_sq
                    WHERE l_partkey = outer_li.l_partkey
                )
                GROUP BY l_partkey
                """
            )
        ),
        # array functions over the embedding column
        "array_functions_embeddings": lambda s, d: _t(s, d, "embeddings").select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.array_max("embedding").cast("double").alias("emb_max"),
            F.array_min("embedding").cast("double").alias("emb_min"),
            F.element_at("embedding", 1).cast("double").alias("first_elem"),
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
            # scalar projections of the sorted array: the driver's pandas
            # canonicalizer cannot sort an array<double> column (unhashable
            # list), so expose the three smallest values as plain doubles
            F.element_at(F.array_sort("embedding"), 1)
            .cast("double")
            .alias("smallest1"),
            F.element_at(F.array_sort("embedding"), 2)
            .cast("double")
            .alias("smallest2"),
            F.element_at(F.array_sort("embedding"), 3)
            .cast("double")
            .alias("smallest3"),
        ),
        # §2.9 scalar function families
        "scalar_string_functions": lambda s, d: scalar_ops.string_functions(
            _t(s, d, "part")
        ),
        "scalar_date_functions": lambda s, d: scalar_ops.date_functions(
            _t(s, d, "orders")
        ),
        "scalar_math_functions": lambda s, d: scalar_ops.math_functions(
            _t(s, d, "lineitem")
        ),
        "win_distribution_functions": lambda s, d: scalar_ops.distribution_windows(
            _t(s, d, "customer")
        ),
        "json_from_json_struct": lambda s, d: _t(s, d, "events").select(
            "event_id",
            F.from_json("props", "k INT").getField("k").alias("k"),
        ),
        "join_range_bucketed": lambda s, d: asof_ops.range_join_bucketed(
            _t(s, d, "orders").select(
                "o_orderkey",
                "o_custkey",
                F.expr(
                    "date_add(date'2024-01-01', "
                    "int(datediff(to_date(o_orderdate), date'1995-01-01') % 28))"
                ).alias("od"),
            ),
            _t(s, d, "events").select(
                "event_id", "user_id", F.to_date("ts").alias("ed"), "event_type"
            ),
            "o_custkey",
            "user_id",
            "od",
            "ed",
            2,
        ).select(
            "o_orderkey",
            "o_custkey",
            F.col("od").cast("string").alias("od"),
            "event_id",
            F.col("ed").cast("string").alias("ed"),
            "event_type",
        ),
        # §2.9 extension: JSON scalar functions over props
        "json_extract_props": lambda s, d: _t(s, d, "events").select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        ),
        "json_props_agg": lambda s, d: _t(s, d, "events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("decimal(18,6)")).cast("double").alias("sum_k"),
            F.max("k").alias("max_k"),
        ),
        # exact quantiles (A10's exact twin; approx variant in drift ops)
        # Mergeable-quantile rollup: DAILY fixed-bin histograms merged to
        # event_type level, CDF inverted with in-bin interpolation —
        # deterministic (unlike percentile_approx), so hash-checked
        "agg_quantile_rollup_hist": lambda s, d: sketch_ops.quantile_rollup_hist(
            _t(s, d, "events"), [0.5, 0.9, 0.99]
        ),
        # rolling N-day quantiles from the SAME daily histogram table
        # (second reuse of the persisted summary, like the HLL rolling
        # union) — deterministic, hash-checked
        "agg_rolling_quantile_hist": lambda s, d: sketch_ops.rolling_quantile_hist(
            _t(s, d, "events"), [0.5, 0.9]
        ),
        # root-cause table: which priorities drove the 1999 -> 2000
        # revenue movement (delta decomposition, ranked by |delta|)
        "agg_contribution_analysis": lambda s, d: agg_ops.contribution_analysis(
            _t(s, d, "orders"),
            "o_orderpriority",
            "o_totalprice",
            F.date_format(F.col("o_orderdate"), "yyyy"),
            "1999",
            "2000",
        ),
        # the three TPC-H shapes the dataset's missing partsupp table
        # previously left out, adapted over lineitem-derived relations:
        # Q9 profit rollup, Q2 correlated per-part min, Q20 nested
        # semi-join chain — completing the 22-shape sweep
        "agg_product_type_profit": lambda s, d: agg_ops.product_type_profit(
            _t(s, d, "lineitem"), _t(s, d, "part"), _t(s, d, "supplier"),
            _t(s, d, "nation"), _t(s, d, "orders"),
        ),
        "agg_min_cost_supplier": lambda s, d: agg_ops.min_cost_supplier(
            _t(s, d, "part"), _t(s, d, "supplier"), _t(s, d, "nation"),
            _t(s, d, "region"), _t(s, d, "lineitem"),
        ),
        "agg_promotion_suppliers": lambda s, d: agg_ops.promotion_candidate_suppliers(
            _t(s, d, "supplier"), _t(s, d, "nation"),
            _t(s, d, "lineitem"), _t(s, d, "part"),
        ),
        "agg_exact_quantiles": lambda s, d: _t(s, d, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("q"))
        .select(
            "event_type",
            F.element_at("q", 1).alias("p25"),
            F.element_at("q", 2).alias("p50"),
            F.element_at("q", 3).alias("p75"),
        ),
        # §2.12 ML layer
        "ml_demand_features": lambda s, d: mlfeat.demand_features(
            _t(s, d, "events")
        ),
        "ml_churn_features": lambda s, d: mlfeat.churn_features(
            _t(s, d, "orders")
        ),
        "ml_score_pandas_udf": lambda s, d: mlscore.score_demand_pandas_udf(
            mlfeat.demand_features(_t(s, d, "events"))
        ).select("d", "event_type", "n", "predicted_demand"),
        "ml_score_expression": lambda s, d: mlscore.score_demand_expression(
            mlfeat.demand_features(_t(s, d, "events"))
        ).select("d", "event_type", "n", "predicted_demand"),
        # calibration table: mean prediction vs mean actual per
        # predicted-value bin (decimal-exact means)
        "metrics_calibration": lambda s, d: metric_ops.calibration_bins(
            mlscore.score_demand_expression(
                mlfeat.demand_features(_t(s, d, "events"))
            ),
            "predicted_demand",
            "n",
            [0.0, 20.0, 40.0, 60.0, 80.0, 100.0],
        ),
        "ml_score_surge": lambda s, d: mlscore.score_surge_expression(
            mlfeat.demand_features(_t(s, d, "events"))
        ).select("d", "event_type", "n", "predicted_surge"),
        # Serving surface (reference app.py /predict/demand/batch): local
        # request rows → one vectorized scoring plan, fallback tier.
        "serve_demand_batch": lambda s, d: serve_ops.serve_demand(
            serve_ops.demand_requests(s, _SERVE_REQUESTS), request_id="drv-1"
        ),
        "ml_train_demand_models": lambda s, d: mltrain.train_demand_models(
            mlfeat.demand_features(_t(s, d, "events"))
        ),
        "ml_train_classifier": lambda s, d: mltrain.train_category_classifier(
            _t(s, d, "events")
        ),
        # North-star: multimodal plumbing
        "mm_media_metadata": lambda s, d: mm_ops.media_metadata(
            mm_ops.media_from_documents(_t(s, d, "documents"))
        ),
        "mm_extract_features": lambda s, d: mm_ops.extract_features(
            mm_ops.media_from_documents(_t(s, d, "documents"))
        ),
        # video-frame-sampling shape: 4 evenly spaced 16-byte windows
        # per payload, long format (byte slice = decode stub)
        "mm_sample_frames": lambda s, d: mm_ops.sample_frames(
            mm_ops.media_from_documents(_t(s, d, "documents"))
        ),
        # resize-to-budget shape: truncate-over-32B stub + routed metadata
        "mm_resize_meta": lambda s, d: mm_ops.resize_media(
            mm_ops.media_from_documents(_t(s, d, "documents"))
        ),
        # declarative expectations engine: 6 rule kinds over orders,
        # row-predicate rules fused into ONE scan
        # k-anonymity risk surface: QI combos shared by < k customers
        "quality_k_anonymity": lambda s, d: quality_ops.k_anonymity_report(
            _t(s, d, "customer"), ["c_nationkey", "c_mktsegment"], k=10
        ),
        "quality_expectations": lambda s, d: quality_ops.expectations_report(
            _t(s, d, "orders"),
            [
                {"rule": "custkey_not_null", "kind": "not_null",
                 "col": "o_custkey"},
                {"rule": "totalprice_0_200k", "kind": "in_range",
                 "col": "o_totalprice", "lo": 0, "hi": 200000},
                {"rule": "status_known", "kind": "in_set",
                 "col": "o_orderstatus", "values": ["O", "F", "P"]},
                {"rule": "priority_format", "kind": "regex",
                 "col": "o_orderpriority", "pattern": "^[1-5]-"},
                {"rule": "orderkey_unique", "kind": "unique",
                 "cols": ["o_orderkey"]},
                {"rule": "custkey_in_customer", "kind": "ref_integrity",
                 "col": "o_custkey", "ref": "customer",
                 "ref_col": "c_custkey"},
            ],
            ref_tables={"customer": _t(s, d, "customer")},
        ),
        "drift_missing_rate_shift": lambda s, d: drift_ops.missing_rate_shift(
            clean_ops.null_out_when(
                _t(s, d, "events").filter(F.to_date("ts") < F.lit("2024-01-15")),
                "value",
                F.col("event_type").startswith("error"),
            ),
            clean_ops.null_out_when(
                _t(s, d, "events").filter(F.to_date("ts") >= F.lit("2024-01-15")),
                "value",
                F.col("event_type").startswith("error"),
            ),
            ["value", "props"],
        ),
        # Behavioral analytics (round-5 extensions over the events /
        # orders tables: funnel, cohort retention, RFM segmentation)
        "behavior_funnel": lambda s, d: behavior_ops.funnel_stages(
            _t(s, d, "events")
        ),
        "behavior_cohort_retention": lambda s, d: behavior_ops.cohort_retention(
            _t(s, d, "events")
        ),
        # scale path: histogram-cutoff RFM (no global ntile sort)
        "behavior_rfm_hist": lambda s, d: behavior_ops.rfm_scores_hist(
            _t(s, d, "orders")
        ),
        "behavior_rfm_scores": lambda s, d: behavior_ops.rfm_scores(
            _t(s, d, "orders")
        ),
        # Fuzzy record linkage: blocked candidate pairs + Levenshtein
        "link_fuzzy_pairs": lambda s, d: link_ops.blocked_fuzzy_pairs(
            _t(s, d, "part"), "p_partkey", "p_name", max_distance=2
        ),
        # Mergeable-sketch distinct rollup: exact twin is hash-checked,
        # the HLL-union path is approximate (rows-only by design)
        "agg_distinct_rollup_exact": lambda s, d: sketch_ops.distinct_rollup_exact(
            _t(s, d, "events")
        ),
        "agg_distinct_rollup_sketch": lambda s, d: sketch_ops.distinct_rollup_sketch(
            _t(s, d, "events")
        ),
        # rolling N-day distinct: sketch-table window union (rows-only)
        # + exact range-join twin (hash-checked)
        "agg_rolling_distinct_sketch": lambda s, d: sketch_ops.rolling_distinct_sketch(
            _t(s, d, "events")
        ),
        "agg_rolling_distinct_exact": lambda s, d: sketch_ops.rolling_distinct_exact(
            _t(s, d, "events")
        ),
        # Time-series regularization: per-series hourly grid with
        # zero-filled counts + forward-filled sums, and the gap report
        "ts_resample_ffill": lambda s, d: ts_ops.resample_ffill(
            _t(s, d, "events")
        ),
        "ts_gap_stats": lambda s, d: ts_ops.gap_stats(_t(s, d, "events")),
        # hour-of-day seasonal baseline z-score anomaly flags
        "ts_seasonal_anomaly": lambda s, d: ts_ops.seasonal_anomaly(
            _t(s, d, "events")
        ),
        # sequential level-shift detection (CUSUM) — complements the
        # windowed distributional tests (PSI/KS)
        "ts_cusum_alarms": lambda s, d: ts_ops.cusum_alarms(
            _t(s, d, "events")
        ),
        "ts_resample_interpolate": lambda s, d: ts_ops.resample_interpolate(
            _t(s, d, "events")
        ),
        # Fixed-point PageRank over the customer–supplier bipartite graph
        # (integer micro-rank units → bit-exact across engines, so the
        # iterative algorithm is hash-checkable, not just rows-only)
        # MLlib FPGrowth frequent itemsets, normalized to a sorted
        # itemset string and truncated to pairs so the SQL co-occurrence
        # oracle checks the identical set
        # PIT join over SCD2 validity intervals (leakage-safe feature join)
        "join_point_in_time": _pit_status_at_event,
        # robust per-group outlier census (median/MAD modified z-score)
        # scale path: histogram median/MAD (no per-group percentile
        # buffer), deterministic and hash-checked
        "quality_robust_outliers_hist": lambda s, d: quality_ops.robust_outlier_report_hist(
            _t(s, d, "events"), "event_type", "value", 0.0, 500.0
        ),
        "quality_robust_outliers": lambda s, d: quality_ops.robust_outlier_report(
            _t(s, d, "events"), "event_type", "value"
        ),
        # BPE tokenizer training (iterative; driver sees one scalar per
        # round). Oracle: fixed n_merges unrolls to per-step CTEs
        # (_bpe_learn_oracle); also pinned against a pure-Python
        # reference in tests/test_bpe.py on the same corpus.
        # tokenizer APPLY step: encode docs with a fixed merge table
        # (fold once per distinct word, broadcast join back)
        "text_bpe_encode": lambda s, d: bpe_ops.encode_documents(
            _t(s, d, "documents"),
            [("t", "a"), ("ta", "b"), ("l", "e"), ("e", bpe_ops.EOW)],
        ),
        "text_bpe_learn": lambda s, d: bpe_ops.learn_bpe_merges(
            _t(s, d, "documents"), n_merges=8
        ),
        # EWMA demand feature (dyadic weights -> bit-exact, oracle-checked)
        "win_ewma_demand": lambda s, d: win_ops.ewma_dyadic(
            _t(s, d, "events")
            .groupBy(
                "event_type",
                F.date_format(
                    F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
                ).alias("hour_ts"),
            )
            .agg(F.count(F.lit(1)).alias("n")),
            "event_type",
            "hour_ts",
            "n",
            window_rows=20,
        ).select(
            "event_type",
            "hour_ts",
            F.col("n").cast("bigint").alias("n"),
            "ewma",
        ),
        # Anti-entropy reconciliation: bucketed checksums + bucket diff
        # against a replica with known tampering (status flipped on
        # every 97th order key)
        "scale_table_checksum": lambda s, d: recon_ops.table_checksum(
            _t(s, d, "orders"),
            "o_orderkey",
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
            n_buckets=256,
        ),
        "scale_checksum_diff": lambda s, d: recon_ops.checksum_diff(
            _t(s, d, "orders"),
            _t(s, d, "orders").withColumn(
                "o_orderstatus",
                F.when(F.col("o_orderkey") % 97 == 0, F.lit("X")).otherwise(
                    F.col("o_orderstatus")
                ),
            ),
            "o_orderkey",
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
            n_buckets=256,
        ),
        # row-level keyed diff: the drill-down after checksum_diff —
        # replica with flips (%97), deletions (%131), insertions (%149)
        "scale_row_diff": lambda s, d: recon_ops.row_diff(
            _t(s, d, "orders"),
            _t(s, d, "orders")
            .withColumn(
                "o_orderstatus",
                F.when(F.col("o_orderkey") % 97 == 0, F.lit("X")).otherwise(
                    F.col("o_orderstatus")
                ),
            )
            .filter(F.col("o_orderkey") % 131 != 0)
            .unionByName(
                _t(s, d, "orders")
                .filter(F.col("o_orderkey") % 149 == 0)
                .withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
                )
            ),
            "o_orderkey",
            ["o_custkey", "o_orderstatus", "o_orderpriority"],
        ),
        # composed behavioral pipeline: sessionization + funnel
        # milestones + diversity + recency in ONE lazy plan, hash-checked
        "pipeline_user_insights": lambda s, d: behavior_plan.user_insights(
            _t(s, d, "events")
        ),
        # keyed pseudonymization (salted sha256, map-only)
        "clean_pseudonymize": lambda s, d: clean_ops.pseudonymize(
            _t(s, d, "events").select("event_id", "user_id", "event_type"),
            ["user_id"],
            "pepper-1",
        ),
        # per-type winsorization: clamp value to its exact [p5, p95]
        # envelope (cutoffs broadcast back, no window over the stream)
        # scale path: histogram-derived cutoffs (deterministic,
        # mergeable) instead of exact per-group percentiles
        "clean_winsorize_hist": lambda s, d: clean_ops.winsorize_hist(
            _t(s, d, "events").select("event_id", "event_type", "value"),
            "value",
            group_col="event_type",
        ),
        "clean_winsorize_value": lambda s, d: clean_ops.winsorize(
            _t(s, d, "events").select("event_id", "event_type", "value"),
            "value",
            group_col="event_type",
        ),
        # pure-SQL surface over registered temp views (one ANSI text,
        # both engines)
        "sql_segment_ltv": _sql_segment_ltv,
        # time-to-convert between funnel stages (exact integer-us lags)
        "behavior_funnel_timing": lambda s, d: behavior_ops.funnel_timing(
            _t(s, d, "events")
        ),
        # event-type transition matrix (Markov counts + row shares)
        "behavior_transition_matrix": lambda s, d: behavior_ops.transition_matrix(
            _t(s, d, "events")
        ),
        # week-over-week growth of volume and value
        "behavior_period_growth": lambda s, d: behavior_ops.period_growth(
            _t(s, d, "events")
        ),
        # per-user behavioral diversity (Shannon entropy of event types)
        "behavior_type_entropy": lambda s, d: behavior_ops.type_entropy(
            _t(s, d, "events")
        ),
        # linear multi-touch attribution: equal credit share per touch
        # in the window (decimal-exact credit sums)
        "behavior_attribution_linear": lambda s, d: (
            behavior_ops.attribution_linear(_t(s, d, "events"))
        ),
        # DAU / trailing-7d active users per day (product stickiness)
        "behavior_stickiness": lambda s, d: behavior_ops.stickiness(
            _t(s, d, "events")
        ),
        # ClickHouse-style windowFunnel: deepest in-order stage chain
        # completing within 24h of its own stage-1 event, per user
        "behavior_window_funnel": lambda s, d: behavior_ops.window_funnel(
            _t(s, d, "events")
        ),
        # first/last-touch attribution per conversion (strict 7-day
        # lookback; single user-hash window exchange, never a self-join)
        "behavior_attribution": lambda s, d: behavior_ops.touch_attribution(
            _t(s, d, "events")
        ).select(
            "conv_id",
            "user_id",
            "first_touch_type",
            "last_touch_type",
            "n_touches",
        ),
        # channel-credit rollup: conversions credited to each touch type
        # under the first-touch vs last-touch model
        "behavior_attribution_credit": lambda s, d: (
            behavior_ops.attribution_credit(_t(s, d, "events"))
        ),
        # revenue concentration: per-nation Gini over customer revenue
        "agg_revenue_gini": lambda s, d: agg_ops.gini_by_group(
            _t(s, d, "orders").join(
                _t(s, d, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            "c_nationkey",
            "c_custkey",
            "o_totalprice",
        ),
        # PrefixSpan sequential patterns (the ordered twin of FPGrowth),
        # truncated to length 2 so the ordered-pair EXISTS oracle is exact
        "ml_seq_patterns": lambda s, d: basket_ops.sequential_patterns(
            _t(s, d, "events"), min_support=0.5, max_pattern_length=2
        ),
        "ml_freq_itemsets": lambda s, d: basket_ops.frequent_itemsets(
            _t(s, d, "lineitem"), min_support=0.001, max_len=2
        ),
        "graph_pagerank": lambda s, d: graph_ops.pagerank_fixed_point(
            graph_ops.symmetrize(
                _t(s, d, "orders")
                .join(
                    _t(s, d, "lineitem"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .select(
                    F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                    F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
                )
                .distinct()
            ),
            iterations=3,
        ),
    }


# ---------------------------------------------------------------------------
# oracle_sql() — DuckDB-runnable ANSI SQL twins
# ---------------------------------------------------------------------------


from distributed_mobility_data_pipeline_spark.operators.dedup_llm import (  # noqa: E402
    MINHASH_P,
    MINHASH_PARAMS,
)

# DuckDB twins of the fixed-point embedding kernels in
# operators/similarity.py: floor products to 1e-12 longs, sum exactly.
def _dot_sql(a: str, b: str) -> str:
    return (
        f"(CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) "
        f"* 1000000000000) AS BIGINT))) AS DOUBLE) "
        f"/ CAST(1000000000000 AS DOUBLE))"
    )


def _norm2_sql(e: str) -> str:
    return (
        f"(CAST(list_sum(list_transform({e}, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) "
        f"* 1000000000000) AS BIGINT))) AS DOUBLE) "
        f"/ CAST(1000000000000 AS DOUBLE))"
    )


def _pq_books_values() -> tuple[str, int, int]:
    """(VALUES rows, d_sub, m) for fixed_pq_codebooks(64): both engines
    embed the IDENTICAL float literals (repr round-trips doubles
    exactly)."""
    books = sim_ops.fixed_pq_codebooks(64)
    d_sub = len(books[0][0][1])
    rows = []
    for j, book in enumerate(books):
        for code, cent in book:
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            half = repr(-sum(x * x for x in cent) / 2.0)
            rows.append(f"({j}, {code}, {lit}, {half})")
    return ",\n              ".join(rows), d_sub, len(books)


def _pq_encode_cte() -> str:
    """Shared encode CTEs: ``scored0`` holds per-(vector, subspace)
    winning codes — argmax of the fixed-point dot + half-||c||^2 score,
    ties broken the way Spark's array_max over (score, code) structs
    does (larger code wins)."""
    values, d_sub, _m = _pq_books_values()
    sub = f"list_slice(e.emb, b.j*{d_sub}+1, b.j*{d_sub}+{d_sub})"
    return f"""
        books(j, code, centroid, half_cc_neg) AS (VALUES
              {values}
        ),
        e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        ),
        scored0 AS (
          SELECT e.vec_id, e.label, b.j,
                 first(b.code ORDER BY
                       {_dot_sql(sub, "b.centroid")} + b.half_cc_neg DESC,
                       b.code DESC) AS code
          FROM e CROSS JOIN books b
          GROUP BY e.vec_id, e.label, b.j
        )"""


def _ivf_ann_fixed_oracle_sql(n_probe: int = 4, k: int = 3) -> str:
    """DuckDB twin of sim_ivf_ann_fixed: the full IVF pipeline with the
    shared fixed formula centroids (similarity.fixed_ivf_centroids —
    identical float literals embedded here via repr). Mirrors each stage
    of ivf_ann exactly:

    1. cell assignment — argmax(dot(e,c) − ||c||²/2) where half_cc is
       the PYTHON-float literal (assign_ivf_cells builds it with
       F.lit(sum(x*x)/2)), ties → larger cell (Spark's array_max over
       (score, cell) structs);
    2. probe ranking — per query, cells by fixed-point dot(q,c) −
       fixed-point dot(c,c)/2 (ivf_ann's _probe_cells_frag emits the
       QUANTIZED half-self-dot literal — floor(x·x·1e12) fold / 2 —
       bit-equal to _norm2_sql/2 here, r20), ties → smaller cell,
       top n_probe;
    3. within-cell cosine — shared fixed-point dot / (qn·cn), rank by
       cos_sim DESC, vid ASC, top k."""
    cents = sim_ops.fixed_ivf_centroids(64)
    rows = []
    for cell, c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        half = repr(sum(x * x for x in c) / 2.0)
        rows.append(f"({cell}, {lit}, {half})")
    values = ",\n              ".join(rows)
    return f"""
        WITH cents(cell, centroid, half_cc) AS (VALUES
              {values}
        ),
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        ),
        assigned AS (
          SELECT e.vec_id, e.emb,
                 first(c.cell ORDER BY
                       {_dot_sql("e.emb", "c.centroid")} - c.half_cc DESC,
                       c.cell DESC) AS cell
          FROM e CROSS JOIN cents c
          GROUP BY e.vec_id, e.emb
        ),
        q AS (
          SELECT vec_id AS qid, emb AS qe,
                 sqrt({_norm2_sql("emb")}) AS qn
          FROM assigned WHERE vec_id IN (0, 1, 2, 3, 4)
        ),
        probes AS (
          SELECT qid, qe, qn, cell FROM (
            SELECT q.qid, q.qe, q.qn, c.cell,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     {_dot_sql("q.qe", "c.centroid")}
                       - {_norm2_sql("c.centroid")} / 2 DESC,
                     c.cell ASC) AS r
            FROM q CROSS JOIN cents c
          ) WHERE r <= {n_probe}
        ),
        scored AS (
          SELECT p.qid, a.vec_id AS vid,
                 {_dot_sql("p.qe", "a.emb")}
                 / (p.qn * sqrt({_norm2_sql("a.emb")})) AS cos_sim
          FROM probes p JOIN assigned a ON p.cell = a.cell
          WHERE p.qid != a.vec_id
        )
        SELECT qid, vid, CAST(rank AS INT) AS rank, cos_sim
        FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, vid) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _lsh_bucketed_oracle_sql(n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin of sim_lsh_bucketed_ann. The hyperplanes are
    deterministic by construction (similarity._hyperplane_sign: weight
    for element i of plane p is ±1 from the parity of the first sha256
    hex char of 'plane_{p}_{i}'), so the oracle PRECOMPUTES the sign
    matrix with hashlib (same sha256 → same hex → same parity) and
    embeds it as literals. Projections mirror Spark's decimal(28,12)
    per-product rounding; within-bucket cosine reuses the shared
    fixed-point dot."""
    import hashlib

    sign_rows = []
    for p in range(n_planes):
        signs = [
            "1.0"
            if ord(hashlib.sha256(f"plane_{p}_{i}".encode()).hexdigest()[0]) % 2 == 0
            else "-1.0"
            for i in range(dim)
        ]
        sign_rows.append(f"({p}, [{', '.join(signs)}]::DOUBLE[])")
    values = ",\n              ".join(sign_rows)
    return f"""
        WITH planes(p, signs) AS (VALUES
              {values}
        ),
        sig AS (
          SELECT e.vec_id, e.embedding,
                 string_agg(
                   CASE WHEN list_sum(list_transform(
                          list_zip(e.embedding, pl.signs),
                          z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)
                               AS DECIMAL(28,12)))) >= 0
                        THEN '1' ELSE '0' END, '' ORDER BY pl.p
                 ) AS bucket
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id, e.embedding
        ),
        n2 AS (
          SELECT s.vec_id, s.bucket, s.embedding,
                 {_norm2_sql("s.embedding")} AS nrm2
          FROM sig s
        ),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
                 {_dot_sql("q.embedding", "c.embedding")}
                 / (sqrt(q.nrm2) * sqrt(c.nrm2)) AS cos_sim
          FROM n2 q JOIN n2 c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
          WHERE q.vec_id IN (0, 1, 2, 3, 4)
        )
        SELECT qid, vid, CAST(rank AS INT) AS rank, cos_sim
        FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, vid) AS rank
          FROM scored
        ) WHERE rank <= 3
    """


def _pq_encode_oracle_sql() -> str:
    """DuckDB twin of sim_pq_encode (fixed formula codebooks)."""
    _values, _d_sub, m = _pq_books_values()
    pivot = ", ".join(
        f"CAST(max(CASE WHEN j = {j} THEN code END) AS VARCHAR)"
        for j in range(m)
    )
    return f"""
        WITH {_pq_encode_cte()}
        SELECT vec_id, label, concat_ws(',', {pivot}) AS codes
        FROM scored0 GROUP BY vec_id, label
    """


def _ivfpq_ann_fixed_oracle_sql(n_probe: int = 4, k: int = 3) -> str:
    """DuckDB twin of sim_ivfpq_ann_fixed: the composed IVF-PQ index
    with BOTH fixed models (similarity.fixed_ivf_centroids +
    fixed_pq_codebooks — identical float literals embedded here via
    repr). Composes the two already-hash-green recipes stage by stage,
    mirroring ivfpq_ann exactly:

    1. cell assignment — argmax(dot(e,c) − ||c||²/2) with half_cc the
       PYTHON-float literal (assign_ivf_cells builds it with
       F.lit(sum(x*x)/2)), ties → larger cell;
    2. PQ encode of the whole corpus — shared _pq_encode_cte (argmax
       per subspace, ties → larger code), exactly encode_pq(assigned);
    3. probe ranking — per query, cells by fixed-point dot(q,c) −
       fixed-point dot(c,c)/2 (ivfpq_ann's _probe_cells_frag emits the
       QUANTIZED half-self-dot literal — floor(x·x·1e12) fold / 2 —
       bit-equal to _norm2_sql/2 here, r20), ties → smaller cell,
       top n_probe;
    4. ADC scoring over probed cells only — approx dot summed in the
       same left-to-right subspace order as _pq_approx_dot; rank by
       approx_dot DESC, vid ASC, top k."""
    cents = sim_ops.fixed_ivf_centroids(64)
    rows = []
    for cell, c in cents:
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        half = repr(sum(x * x for x in c) / 2.0)
        rows.append(f"({cell}, {lit}, {half})")
    cent_values = ",\n              ".join(rows)
    _values, d_sub, m = _pq_books_values()
    code_cols = ", ".join(
        f"max(CASE WHEN j = {j} THEN code END) AS c{j}" for j in range(m)
    )
    book_joins = "\n          ".join(
        f"JOIN books b{j} ON b{j}.j = {j} AND b{j}.code = enc.c{j}"
        for j in range(m)
    )
    terms = " + ".join(
        _dot_sql(
            f"list_slice(p.qe, {j}*{d_sub}+1, {j}*{d_sub}+{d_sub})",
            f"b{j}.centroid",
        )
        for j in range(m)
    )
    return f"""
        WITH {_pq_encode_cte()},
        cents(cell, centroid, half_cc) AS (VALUES
              {cent_values}
        ),
        assigned AS (
          SELECT e.vec_id,
                 first(c.cell ORDER BY
                       {_dot_sql("e.emb", "c.centroid")} - c.half_cc DESC,
                       c.cell DESC) AS cell
          FROM e CROSS JOIN cents c
          GROUP BY e.vec_id
        ),
        enc AS (
          SELECT s.vec_id AS vid, s.label AS c_label, a.cell, {code_cols}
          FROM scored0 s JOIN assigned a ON a.vec_id = s.vec_id
          GROUP BY s.vec_id, s.label, a.cell
        ),
        q AS (
          SELECT vec_id AS qid, emb AS qe
          FROM e WHERE vec_id IN (0, 1, 2, 3, 4)
        ),
        probes AS (
          SELECT qid, qe, cell FROM (
            SELECT q.qid, q.qe, c.cell,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     {_dot_sql("q.qe", "c.centroid")}
                       - {_norm2_sql("c.centroid")} / 2 DESC,
                     c.cell ASC) AS r
            FROM q CROSS JOIN cents c
          ) WHERE r <= {n_probe}
        ),
        scored AS (
          SELECT p.qid, enc.vid, enc.c_label,
                 {terms} AS approx_dot
          FROM probes p JOIN enc ON p.cell = enc.cell
          {book_joins}
          WHERE p.qid != enc.vid
        )
        SELECT qid, vid, CAST(rank AS INT) AS rank, approx_dot, c_label
        FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY approx_dot DESC, vid) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _pq_ann_oracle_sql() -> str:
    """DuckDB twin of sim_pq_ann: encode the corpus with the shared
    fixed codebooks, then asymmetric-distance top-k — approx dot(q, x)
    = Σ_j fixedpoint_dot(q_sub_j, centroid_j[code_j]), summed in the
    same left-to-right subspace order as the Spark column expression so
    the doubles agree bitwise."""
    _values, d_sub, m = _pq_books_values()
    code_cols = ", ".join(
        f"max(CASE WHEN j = {j} THEN code END) AS c{j}" for j in range(m)
    )
    book_joins = "\n          ".join(
        f"JOIN books b{j} ON b{j}.j = {j} AND b{j}.code = enc.c{j}"
        for j in range(m)
    )
    terms = " + ".join(
        _dot_sql(
            f"list_slice(q.qe, {j}*{d_sub}+1, {j}*{d_sub}+{d_sub})",
            f"b{j}.centroid",
        )
        for j in range(m)
    )
    return f"""
        WITH {_pq_encode_cte()},
        enc AS (
          SELECT vec_id AS vid, label AS c_label, {code_cols}
          FROM scored0 GROUP BY vec_id, label
        ),
        q AS (
          SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
        ),
        scored AS (
          SELECT q.qid, enc.vid, enc.c_label,
                 {terms} AS approx_dot
          FROM q CROSS JOIN enc
          {book_joins}
          WHERE q.qid != enc.vid
        )
        SELECT qid, vid, CAST(rank AS INT) AS rank, approx_dot, c_label
        FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY approx_dot DESC, vid) AS rank
          FROM scored
        ) WHERE rank <= 3
    """


# DuckDB twin of the Spark minhash: same md5-prefix base hash, same
# affine permutation constants → identical signatures.
_MH_COLS = ",\n                   ".join(
    f"min((CAST({a} AS BIGINT)"
    f" * CAST(('0x' || substr(md5(shingle),1,8)) AS BIGINT)"
    f" + {b}) % {MINHASH_P}) AS mh_{i}"
    for i, (a, b) in enumerate(MINHASH_PARAMS)
)


def _bpe_learn_oracle(n_merges: int = 8) -> str:
    """Unrolled DuckDB oracle for ``text_bpe_learn``: BPE's per-step
    argmax+merge is iterative, but with a FIXED n_merges each step
    unrolls to three CTEs (pair counts / argmax / merge rewrite).

    Same representation as the text_bpe_encode oracle: each word is a
    DOUBLE-space-joined symbol string with sentinel spaces, so the
    greedy left-to-right merge fold (operators/bpe.py apply_merge) is
    exactly one global ``replace(' a  b ', ' ab ')`` — string replace
    scans left-to-right non-overlapping, the same semantics as the
    fold. Ties break (count DESC, left ASC, right ASC) in both engines
    (binary UTF-8 collation on each side)."""
    steps = []
    for k in range(1, n_merges + 1):
        steps.append(f"""
, p{k} AS (
  SELECT syms[i] AS l, syms[i+1] AS r,
         CAST(sum(count) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(s), '  ') AS syms, count FROM v{k - 1})
       , UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
  GROUP BY 1, 2
), t{k} AS (
  SELECT {k} AS step, l, r, l || r AS merged, pair_count
  FROM p{k} ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
), v{k} AS (
  SELECT count,
         replace(s, ' ' || t.l || '  ' || t.r || ' ',
                    ' ' || t.l || t.r || ' ') AS s
  FROM v{k - 1}, t{k} t
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM t{k}" for k in range(1, n_merges + 1)
    )
    return (
        """
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS count FROM (
    SELECT unnest(string_split(
      regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY 1
), v0 AS (
  SELECT count,
         ' ' || array_to_string(string_split(word, ''), '  ')
             || '  \u2581 ' AS s
  FROM w
)"""
        + "".join(steps)
        + f"""
SELECT CAST(step AS INT) AS step, l AS "left", r AS "right",
       merged, pair_count
FROM ({union})
"""
    )


def oracle_sql() -> dict[str, str]:
    return {
        "agg_hourly_demand": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
                   event_type,
                   CAST(count(*) AS BIGINT) AS event_count,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_value
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        """,
        "agg_revenue_daily": """
            SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
                   l_linestatus,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS total_revenue,
                   CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount) AS avg_discount,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity) AS avg_quantity,
                   CAST(count(*) AS BIGINT) AS line_count
            FROM lineitem WHERE l_returnflag = 'N'
            GROUP BY 1, 2
        """,
        "agg_driver_daily_summary": """
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
                   o_custkey AS cust_key,
                   CAST(count(*) AS BIGINT) AS order_count,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(o_totalprice) AS avg_spend
            FROM orders
            GROUP BY 1, 2
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                                 * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
                                 AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6))))
                        AS DOUBLE) AS sum_charge,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
                   CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "agg_supply_demand_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
                   CAST(count(*) AS BIGINT) AS event_count,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_value,
                   max(value) AS max_value,
                   min(value) AS min_value
            FROM events
            GROUP BY 1
        """,
        "agg_histogram_value": """
            SELECT CASE
                     WHEN value IS NULL THEN -1
                     WHEN value < 10.0 THEN 0
                     WHEN value < 25.0 THEN 1
                     WHEN value < 50.0 THEN 2
                     WHEN value < 75.0 THEN 3
                     ELSE 4
                   END AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1 ORDER BY 1
        """,
        "agg_status_distribution": """
            SELECT o_orderstatus AS status,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS share
            FROM orders GROUP BY 1
        """,
        "agg_top_k_global": """
            SELECT o_orderkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "agg_top_k_per_group": """
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM (
              SELECT o_orderkey, o_orderpriority, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders
            ) WHERE rk <= 3
        """,
        "agg_cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "agg_rollup_revenue": """
            SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY ROLLUP (year(l_shipdate), l_returnflag)
        """,
        "agg_pivot_status": """
            SELECT o_orderpriority,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
                   CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
            FROM orders GROUP BY 1
        """,
        "clean_events_silver": """
            SELECT event_id,
                   strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
                   user_id,
                   lower(trim(event_type)) AS event_type,
                   CASE WHEN lower(trim(event_type)) LIKE 'error%' THEN NULL
                        ELSE value END AS value,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date
            FROM events
            WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        """,
        "clean_ensure_columns": """
            SELECT o_orderkey, o_totalprice,
                   'unknown' AS city, CAST(1.0 AS DOUBLE) AS surge_factor
            FROM orders
        """,
        "clean_range_filter": """
            SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
                   o_totalprice
            FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
              AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
              AND o_totalprice > 1000.0
        """,
        "dedup_keep_latest": """
            SELECT event_id,
                   strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
                   user_id, event_type
            FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "dedup_distinct_projection": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "dedup_duplicate_stats": """
            SELECT l_orderkey, CAST(count(*) AS BIGINT) AS version_count
            FROM lineitem GROUP BY 1 HAVING count(*) > 1
        """,
        "star_dim_time": """
            SELECT sha256(CAST(d AS VARCHAR)) AS time_id,
                   CAST(d AS VARCHAR) AS date,
                   CAST(year(d) AS INT) AS year,
                   CAST(month(d) AS INT) AS month,
                   CAST(day(d) AS INT) AS day,
                   CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
                   CAST(quarter(d) AS INT) AS quarter,
                   CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend
            FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        """,
        "star_dim_entity": """
            SELECT sha256(CAST(c_custkey AS VARCHAR)) AS user_key,
                   c_custkey, c_name, c_mktsegment
            FROM (SELECT DISTINCT c_custkey, c_name, c_mktsegment FROM customer)
        """,
        "star_dim_locations": """
            SELECT sha256(CAST(zone_id AS VARCHAR)) AS location_id,
                   zone_id,
                   n_name AS zone_name,
                   n_regionkey AS region_id
            FROM (
              SELECT DISTINCT CAST(c_nationkey AS INT) AS zone_id FROM customer
              UNION
              SELECT DISTINCT CAST(s_nationkey AS INT) AS zone_id FROM supplier
            ) z LEFT JOIN nation ON z.zone_id = nation.n_nationkey
        """,
        "star_trips_fact": """
            SELECT l.l_orderkey, l.l_linenumber,
                   sha256(CAST(o.o_custkey AS VARCHAR)) AS user_key,
                   sha256(CAST(l.l_suppkey AS VARCHAR)) AS driver_key,
                   sha256(CAST(l.l_partkey AS VARCHAR)) AS vehicle_key,
                   o.o_orderstatus, c.c_mktsegment, p.p_brand,
                   CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
                   l.l_quantity, l.l_extendedprice
            FROM lineitem l
            LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN part p ON l.l_partkey = p.p_partkey
        """,
        "star_payments_fact": """
            SELECT sha256(CAST(o_orderkey AS VARCHAR) || '||' || 'payment') AS payment_id,
                   o_orderkey,
                   sha256(CAST(c_custkey AS VARCHAR)) AS user_key,
                   o_totalprice,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "join_ri_check": """
            SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS total_rows,
                   CAST((SELECT count(*) FROM lineitem
                         WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey))
                        AS BIGINT) AS orphan_rows,
                   CAST((SELECT count(*) FROM lineitem
                         WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey))
                        AS DOUBLE)
                   / (SELECT count(*) FROM lineitem) AS orphan_rate
        """,
        "join_semi_orders_with_lines": """
            SELECT o_orderkey, o_orderstatus FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        """,
        "join_anti_customers_no_orders": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "set_union_nation_keys": """
            SELECT CAST(c_nationkey AS INT) AS nk FROM customer
            UNION
            SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        """,
        "set_intersect_nation_keys": """
            SELECT CAST(c_nationkey AS INT) AS nk FROM customer
            INTERSECT
            SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        """,
        "set_except_nation_keys": """
            SELECT CAST(c_nationkey AS INT) AS nk FROM customer
            EXCEPT
            SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        """,
        "win_lag_demand": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n, sum_value,
                   lag(n, 1) OVER w AS n_lag_1,
                   lag(n, 7) OVER w AS n_lag_7
            FROM dc WINDOW w AS (PARTITION BY event_type ORDER BY d)
        """,
        "win_rolling_rows": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), m AS (
              SELECT d, event_type, n,
                     CAST(sum(CAST(n AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
                     CAST(sum(CAST(n AS DECIMAL(18,6)) * CAST(n AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2,
                     count(n) OVER w AS cnt
              FROM dc
              WINDOW w AS (PARTITION BY event_type ORDER BY d
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n,
                   s1 / cnt AS avg_7r,
                   CASE WHEN cnt > 1 THEN sqrt(greatest((s2 - s1*s1/cnt) / (cnt-1), 0.0)) END AS std_7r,
                   CAST(cnt AS BIGINT) AS cnt_7r
            FROM m
        """,
        "win_rolling_range_days": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), m AS (
              SELECT d, event_type, n,
                     CAST(sum(CAST(n AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
                     CAST(sum(CAST(n AS DECIMAL(18,6)) * CAST(n AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2,
                     count(n) OVER w AS cnt
              FROM (SELECT *, CAST(d - DATE '1970-01-01' AS BIGINT) AS ed FROM dc)
              WINDOW w AS (PARTITION BY event_type ORDER BY ed
                           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n,
                   s1 / cnt AS avg_7d,
                   CASE WHEN cnt > 1 THEN sqrt(greatest((s2 - s1*s1/cnt) / (cnt-1), 0.0)) END AS std_7d,
                   CAST(cnt AS BIGINT) AS cnt_7d
            FROM m
        """,
        "win_running_total": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, sum_value,
                   CAST(sum(CAST(sum_value AS DECIMAL(18,6))) OVER (
                        PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS running_total
            FROM dc
        """,
        "win_rank_customers": """
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   CAST(rank() OVER w AS INT) AS rk,
                   CAST(dense_rank() OVER w AS INT) AS drk
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
        """,
        "win_churn_label": """
            SELECT o_orderkey, o_custkey,
                   CAST(od AS VARCHAR) AS od,
                   CAST(next_date AS VARCHAR) AS next_date,
                   CAST(days_to_next AS INT) AS days_to_next,
                   CASE WHEN days_to_next IS NULL OR days_to_next > 30
                        THEN 1 ELSE 0 END AS will_churn
            FROM (
              SELECT o_orderkey, o_custkey, od,
                     lead(od, 1) OVER w AS next_date,
                     CAST(lead(od, 1) OVER w - od AS BIGINT) AS days_to_next
              FROM (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
                    FROM orders)
              WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
            )
        """,
        "quality_null_report": """
            WITH e AS (
              SELECT event_id, user_id, props,
                     CASE WHEN event_type LIKE 'error%' THEN NULL ELSE value END AS value
              FROM events
            )
            SELECT 'event_id' AS "column",
                   CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT) AS null_count,
                   CAST(count(*) AS BIGINT) AS total_rows,
                   CAST(count(*) FILTER (WHERE event_id IS NULL) AS DOUBLE) / count(*) AS null_rate
            FROM e
            UNION ALL
            SELECT 'user_id',
                   CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT),
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) FILTER (WHERE user_id IS NULL) AS DOUBLE) / count(*)
            FROM e
            UNION ALL
            SELECT 'value',
                   CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT),
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) FILTER (WHERE value IS NULL) AS DOUBLE) / count(*)
            FROM e
            UNION ALL
            SELECT 'props',
                   CAST(count(*) FILTER (WHERE props IS NULL) AS BIGINT),
                   CAST(count(*) AS BIGINT),
                   CAST(count(*) FILTER (WHERE props IS NULL) AS DOUBLE) / count(*)
            FROM e
        """,
        "quality_full_report": """
            SELECT 'required_column' AS "check", 'l_orderkey' AS "column",
                   CAST(1.0 AS DOUBLE) AS value, true AS passed
            UNION ALL
            SELECT 'required_column', 'l_quantity', 1.0, true
            UNION ALL
            SELECT 'required_column', 'no_such_col', 0.0, false
            UNION ALL
            SELECT 'null_rate', 'l_orderkey',
                   count(*) FILTER (WHERE l_orderkey IS NULL) / CAST(count(*) AS DOUBLE),
                   count(*) FILTER (WHERE l_orderkey IS NULL) / CAST(count(*) AS DOUBLE) <= 0.001
            FROM lineitem
            UNION ALL
            SELECT 'null_rate', 'l_shipdate',
                   count(*) FILTER (WHERE l_shipdate IS NULL) / CAST(count(*) AS DOUBLE),
                   count(*) FILTER (WHERE l_shipdate IS NULL) / CAST(count(*) AS DOUBLE) <= 0.001
            FROM lineitem
            UNION ALL
            SELECT 'non_negative', 'l_quantity',
                   CAST(count(*) FILTER (WHERE l_quantity < 0) AS DOUBLE),
                   count(*) FILTER (WHERE l_quantity < 0) = 0
            FROM lineitem
            UNION ALL
            SELECT 'non_negative', 'l_extendedprice',
                   CAST(count(*) FILTER (WHERE l_extendedprice < 0) AS DOUBLE),
                   count(*) FILTER (WHERE l_extendedprice < 0) = 0
            FROM lineitem
        """,
        "quality_negative_report": """
            SELECT 'l_quantity' AS "column",
                   CAST(count(*) FILTER (WHERE l_quantity < 0) AS BIGINT) AS negative_count
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice',
                   CAST(count(*) FILTER (WHERE l_extendedprice < 0) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount',
                   CAST(count(*) FILTER (WHERE l_discount < 0) AS BIGINT)
            FROM lineitem
        """,
        "quality_freshness": """
            SELECT CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date,
                   CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
                   CAST(count(*) AS BIGINT) AS row_count
            FROM orders
        """,
        "quality_volume_check": """
            SELECT CAST(count(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
                                           AND CAST(ts AS DATE) < DATE '2024-01-15') AS BIGINT) AS baseline_rows,
                   CAST(count(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
                                           AND CAST(ts AS DATE) < DATE '2024-01-29') AS BIGINT) AS current_rows,
                   CASE WHEN count(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
                                                AND CAST(ts AS DATE) < DATE '2024-01-15') > 0
                        THEN CAST(count(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
                                                     AND CAST(ts AS DATE) < DATE '2024-01-29') AS DOUBLE)
                             / count(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
                                                  AND CAST(ts AS DATE) < DATE '2024-01-15')
                   END AS volume_ratio
            FROM events
        """,
        "metrics_regression": """
            WITH p AS (
              SELECT value AS y,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY event_type) AS DOUBLE)
                     / count(value) OVER (PARTITION BY event_type) AS yhat
              FROM events WHERE value IS NOT NULL
            )
            SELECT CAST(sum(CAST(abs(y - yhat) AS DECIMAL(28,8))) AS DOUBLE) / count(y - yhat) AS mae,
                   sqrt(CAST(sum(CAST((y - yhat) * (y - yhat) AS DECIMAL(28,8))) AS DOUBLE) / count(y - yhat)) AS rmse,
                   CAST(sum(CAST(CASE WHEN y != 0 THEN abs((y - yhat) / y) END AS DECIMAL(28,8))) AS DOUBLE)
                   / count(CASE WHEN y != 0 THEN abs((y - yhat) / y) END) AS mape,
                   CAST(count(*) AS BIGINT) AS n
            FROM p
        """,
        "drift_ks_binned": """
            WITH b AS (
              SELECT CASE WHEN value IS NULL THEN -1
                          WHEN value < 20.0 THEN 0
                          WHEN value < 40.0 THEN 1
                          WHEN value < 60.0 THEN 2
                          WHEN value < 80.0 THEN 3
                          ELSE 4 END AS bucket
              FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-15'
            ), c AS (
              SELECT CASE WHEN value IS NULL THEN -1
                          WHEN value < 20.0 THEN 0
                          WHEN value < 40.0 THEN 1
                          WHEN value < 60.0 THEN 2
                          WHEN value < 80.0 THEN 3
                          ELSE 4 END AS bucket
              FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
            ), bg AS (SELECT bucket, count(*) AS b_n FROM b GROUP BY 1),
               cg AS (SELECT bucket, count(*) AS c_n FROM c GROUP BY 1),
               j AS (
              SELECT COALESCE(bg.bucket, cg.bucket) AS bucket,
                     CAST(COALESCE(b_n, 0) AS BIGINT) AS b_n,
                     CAST(COALESCE(c_n, 0) AS BIGINT) AS c_n
              FROM bg FULL JOIN cg ON bg.bucket = cg.bucket
            )
            SELECT bucket, b_n, c_n,
                   CAST(sum(b_n) OVER w AS DOUBLE) / sum(b_n) OVER ()
                     AS b_cum_share,
                   CAST(sum(c_n) OVER w AS DOUBLE) / sum(c_n) OVER ()
                     AS c_cum_share,
                   abs(CAST(sum(b_n) OVER w AS DOUBLE) / sum(b_n) OVER ()
                       - CAST(sum(c_n) OVER w AS DOUBLE) / sum(c_n) OVER ())
                     AS abs_diff
            FROM j
            WINDOW w AS (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "drift_psi_fixed_bins": """
            WITH b AS (
              SELECT CASE WHEN value IS NULL THEN -1
                          WHEN value < 20.0 THEN 0
                          WHEN value < 40.0 THEN 1
                          WHEN value < 60.0 THEN 2
                          WHEN value < 80.0 THEN 3
                          ELSE 4 END AS bucket
              FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-15'
            ), c AS (
              SELECT CASE WHEN value IS NULL THEN -1
                          WHEN value < 20.0 THEN 0
                          WHEN value < 40.0 THEN 1
                          WHEN value < 60.0 THEN 2
                          WHEN value < 80.0 THEN 3
                          ELSE 4 END AS bucket
              FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
            ), bg AS (SELECT bucket, count(*) AS b_n FROM b GROUP BY 1),
               cg AS (SELECT bucket, count(*) AS c_n FROM c GROUP BY 1),
               j AS (
              SELECT COALESCE(bg.bucket, cg.bucket) AS bucket,
                     COALESCE(b_n, 0) AS b_n, COALESCE(c_n, 0) AS c_n
              FROM bg FULL JOIN cg ON bg.bucket = cg.bucket
            ), pct AS (
              SELECT bucket, b_n, c_n,
                     CAST(b_n + 1 AS DOUBLE) / (sum(b_n) OVER () + 1) AS b_pct,
                     CAST(c_n + 1 AS DOUBLE) / (sum(c_n) OVER () + 1) AS c_pct
              FROM j
            )
            SELECT bucket,
                   CAST(b_n AS BIGINT) AS baseline_n,
                   CAST(c_n AS BIGINT) AS current_n,
                   CAST(CAST((c_pct - b_pct) * ln(c_pct / b_pct) AS DECIMAL(28,8)) AS DOUBLE) AS psi_term
            FROM pct
        """,
        "text_doc_stats": """
            WITH t AS (SELECT *, string_split(trim(text), ' ') AS toks FROM documents)
            SELECT doc_id, lang,
                   CAST(length(text) AS INT) AS n_chars_actual,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
                   CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / len(toks) AS mean_token_len
            FROM t
        """,
        "text_token_frequencies": """
            WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                         FROM documents)
            SELECT token, CAST(count(*) AS BIGINT) AS tf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tok GROUP BY 1
        """,
        "pipeline_corpus_health": """
            WITH base AS (
              SELECT doc_id, text, source, n_chars FROM documents
              UNION ALL
              SELECT doc_id + 300000, text, source, n_chars FROM documents
            ), t AS (
              SELECT source,
                     coalesce(sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')),
                              '__null__' || CAST(doc_id AS VARCHAR))
                       AS fp,
                     string_split(trim(text), ' ') AS toks,
                     n_chars
              FROM base
            ), per_doc AS (
              SELECT source, fp,
                     CAST(len(toks) AS BIGINT) AS n_tok,
                     CASE WHEN 0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                                      / len(toks))
                             + 0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                             + 0.2 * (1.0 - CAST(len(list_filter(toks,
                                     x -> length(x) <= 2)) AS DOUBLE)
                                     / len(toks)) >= 0.5
                          THEN 1 ELSE 0 END AS keep,
                     CASE WHEN greatest(
                         len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))),
                         len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))),
                         len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))),
                         len(list_filter(toks, x -> x IN ('der','die','und','das','von','zu','den','mit','ist','im')))) <= 0
                          THEN 'unknown'
                          WHEN len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) = greatest(
                         len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))),
                         len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))),
                         len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))),
                         len(list_filter(toks, x -> x IN ('der','die','und','das','von','zu','den','mit','ist','im'))))
                          THEN 'en'
                          WHEN len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))) = greatest(
                         len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))),
                         len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))),
                         len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))),
                         len(list_filter(toks, x -> x IN ('der','die','und','das','von','zu','den','mit','ist','im'))))
                          THEN 'es'
                          WHEN len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))) = greatest(
                         len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))),
                         len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))),
                         len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))),
                         len(list_filter(toks, x -> x IN ('der','die','und','das','von','zu','den','mit','ist','im'))))
                          THEN 'fr'
                          ELSE 'de' END AS lang
              FROM t
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_texts,
                   CAST(count(*) - count(DISTINCT fp) AS DOUBLE)
                     / count(*) AS exact_dup_rate,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(sum(n_tok) AS DOUBLE) / count(*)
                     AS avg_tokens_per_doc,
                   CAST(sum(keep) AS BIGINT) AS n_quality_keep,
                   CAST(sum(keep) AS DOUBLE) / count(*)
                     AS quality_keep_rate,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_en,
                   CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_es,
                   CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_fr,
                   CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_de,
                   CAST(sum(CASE WHEN lang = 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_unknown
            FROM per_doc GROUP BY 1
        """,
        "text_language_id": """
            WITH t AS (SELECT *, string_split(trim(text), ' ') AS toks FROM documents),
            s AS (
              SELECT doc_id, lang AS lang_label,
                CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS INT) AS score_en,
                CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))) AS INT) AS score_es,
                CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))) AS INT) AS score_fr,
                CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','von','zu','den','mit','ist','im'))) AS INT) AS score_de
              FROM t
            )
            SELECT doc_id, lang_label, score_en, score_es, score_fr, score_de,
                   CASE WHEN greatest(score_en, score_es, score_fr, score_de) <= 0 THEN 'unknown'
                        WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                        WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                        WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                        ELSE 'de' END AS lang_pred
            FROM s
        """,
        "text_quality_score": """
            WITH t AS (SELECT *, string_split(trim(text), ' ') AS toks FROM documents),
            c AS (
              SELECT doc_id,
                     CAST(len(toks) AS INT) AS n_tokens,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
                     least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_score,
                     CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
                     / len(toks) AS str_ratio
              FROM t
            )
            SELECT doc_id, n_tokens,
                   ttr AS type_token_ratio,
                   len_score AS length_score,
                   str_ratio AS short_token_ratio,
                   0.4 * ttr + 0.4 * len_score + 0.2 * (1.0 - str_ratio) AS quality_score,
                   CAST(0.4 * ttr + 0.4 * len_score + 0.2 * (1.0 - str_ratio) >= 0.5 AS INT) AS keep
            FROM c
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "text_token_count_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS INT) AS n_pieces,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS DOUBLE)
                   / length(text) AS pieces_per_char
            FROM documents
        """,
        "text_chunk_documents": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                       FROM documents),
            c AS (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks), 48)) AS start
                  FROM t)
            SELECT doc_id,
                   CAST((start - 1) // 48 AS INT) AS chunk_idx,
                   CAST(start AS INT) AS start_token,
                   CAST(least(64, len(toks) - start + 1) AS INT) AS n_chunk_tokens,
                   array_to_string(toks[start:start+63], ' ') AS chunk_text
            FROM c
        """,
        "text_redact_pii": """
            WITH s AS (
              SELECT doc_id,
                     text || ' contact_' || CAST(doc_id AS VARCHAR)
                          || '@example.com or 555-867-5309' AS seeded
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(seeded,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', 0)) AS INT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(seeded,
                     '[0-9]{3}-[0-9]{3}-[0-9]{4}', 0)) AS INT) AS n_phones,
                   sha256(regexp_replace(
                     regexp_replace(seeded,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
                     AS redacted_fingerprint
            FROM s
        """,
        "text_repetition_stats": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                         CASE WHEN len(toks) >= 2
                           THEN list_transform(range(len(toks) - 1),
                                               i -> array_to_string(toks[i+1:i+2], ' '))
                           ELSE [array_to_string(toks, ' ')] END AS grams
                  FROM t)
            SELECT doc_id,
                   CAST(len(grams) AS INT) AS n_ngrams,
                   CAST(len(list_distinct(grams)) AS INT) AS n_distinct_ngrams,
                   CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                     / len(grams) AS dup_ngram_ratio,
                   CAST((CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                     / len(grams)) < 0.3 AS INT) AS keep
            FROM g
        """,
        "text_pack_chunks": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                       FROM documents),
            c AS (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks), 48)) AS start
                  FROM t),
            ch AS (SELECT doc_id,
                          CAST((start - 1) // 48 AS INT) AS chunk_idx,
                          CAST(least(64, len(toks) - start + 1) AS INT) AS n_chunk_tokens
                   FROM c)
            SELECT doc_id, chunk_idx, n_chunk_tokens,
                   CAST(sum(n_chunk_tokens) OVER w AS BIGINT) AS cum_tokens,
                   CAST(chunk_idx // 4 AS INT) AS pack_id
            FROM ch
            WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "text_quality_percentile": """
            WITH t AS (SELECT *, string_split(trim(text), ' ') AS toks FROM documents),
            c AS (
              SELECT doc_id,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
                     least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_score,
                     CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
                     / len(toks) AS str_ratio
              FROM t
            ),
            s AS (SELECT doc_id,
                         0.4 * ttr + 0.4 * len_score + 0.2 * (1.0 - str_ratio)
                           AS quality_score
                  FROM c),
            r AS (SELECT doc_id, quality_score,
                         percent_rank() OVER (ORDER BY quality_score, doc_id)
                           AS pct_rank
                  FROM s)
            SELECT doc_id, quality_score, pct_rank
            FROM r WHERE pct_rank >= 0.1
        """,
        "text_quality_cutoff": """
            WITH t AS (SELECT *, string_split(trim(text), ' ') AS toks FROM documents),
            c AS (
              SELECT doc_id,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
                     least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_score,
                     CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
                     / len(toks) AS str_ratio
              FROM t
            ),
            s AS (SELECT doc_id,
                         0.4 * ttr + 0.4 * len_score + 0.2 * (1.0 - str_ratio)
                           AS quality_score
                  FROM c),
            b AS (SELECT doc_id, quality_score,
                         CAST(least(floor(quality_score * 1000), 999) AS INT)
                           AS bucket
                  FROM s),
            h AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
            cum AS (SELECT bucket,
                           sum(n) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS cum_n,
                           sum(n) OVER () AS total_n
                    FROM h),
            cut AS (SELECT CAST(coalesce(max(CASE
                             WHEN CAST(cum_n AS DOUBLE) <= 0.1 * total_n
                             THEN bucket + 1 END), 0) AS INT) AS cutoff_bucket
                    FROM cum)
            SELECT b.doc_id, b.quality_score, b.bucket, cut.cutoff_bucket
            FROM b CROSS JOIN cut WHERE b.bucket >= cut.cutoff_bucket
        """,
        "text_unigram_logprob": """
            WITH tf AS (
              SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id,
                           unnest(string_split(trim(text), ' ')) AS token
                    FROM documents)
              GROUP BY 1, 2
            ),
            tot AS (SELECT token, CAST(sum(tf) AS BIGINT) AS c_tok
                    FROM tf GROUP BY 1),
            g AS (SELECT CAST(sum(c_tok) AS BIGINT) AS n_total FROM tot)
            SELECT doc_id,
                   CAST(sum(tf) AS BIGINT) AS n_tokens,
                   CAST(sum(CAST(tf * ln(CAST(c_tok AS DOUBLE) / n_total)
                        AS DECIMAL(28,8))) AS DOUBLE) AS sum_logprob,
                   CAST(sum(CAST(tf * ln(CAST(c_tok AS DOUBLE) / n_total)
                        AS DECIMAL(28,8))) AS DOUBLE)
                     / CAST(sum(tf) AS BIGINT) AS mean_token_logprob
            FROM tf JOIN tot USING (token) CROSS JOIN g
            GROUP BY doc_id, g.n_total
        """,
        "text_bigram_pmi": """
            WITH t AS (SELECT string_split(trim(text), ' ') AS toks
                       FROM documents),
            p AS (SELECT unnest(list_transform(range(len(toks) - 1),
                           i -> struct_pack(w1 := toks[i+1], w2 := toks[i+2])))
                           AS pr
                  FROM t WHERE len(toks) >= 2),
            bi AS (SELECT pr.w1 AS w1, pr.w2 AS w2,
                          CAST(count(*) AS BIGINT) AS c_xy
                   FROM p GROUP BY 1, 2),
            uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c_tok
                    FROM (SELECT unnest(string_split(trim(text), ' ')) AS token
                          FROM documents)
                    GROUP BY 1),
            nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM bi),
            nu AS (SELECT CAST(sum(c_tok) AS BIGINT) AS n_unigrams FROM uni)
            SELECT w1, w2, c_xy,
                   u1.c_tok AS c_1, u2.c_tok AS c_2,
                   CAST(CAST(ln((CAST(c_xy AS DOUBLE) / n_bigrams)
                     / ((CAST(u1.c_tok AS DOUBLE) / n_unigrams)
                        * (CAST(u2.c_tok AS DOUBLE) / n_unigrams)))
                     AS DECIMAL(28,8)) AS DOUBLE) AS pmi
            FROM bi
            JOIN uni u1 ON u1.token = bi.w1
            JOIN uni u2 ON u2.token = bi.w2
            CROSS JOIN nb CROSS JOIN nu
            WHERE c_xy >= 5
        """,
        "text_vocab_coverage": """
            WITH uni AS (SELECT token, CAST(count(*) AS BIGINT)
                           AS n_occurrences
                         FROM (SELECT unnest(string_split(trim(text), ' '))
                                 AS token FROM documents)
                         GROUP BY 1),
            g AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS n_total
                  FROM uni),
            top AS (SELECT token, n_occurrences FROM uni
                    ORDER BY n_occurrences DESC, token LIMIT 100)
            SELECT CAST(row_number() OVER o AS INT) AS vocab_id,
                   token, n_occurrences,
                   CAST(sum(n_occurrences) OVER c AS BIGINT)
                     AS cum_occurrences,
                   CAST(sum(n_occurrences) OVER c AS DOUBLE) / n_total
                     AS cum_coverage
            FROM top CROSS JOIN g
            WINDOW o AS (ORDER BY n_occurrences DESC, token),
                   c AS (ORDER BY n_occurrences DESC, token
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "sample_importance_weighted": """
            WITH tc AS (SELECT source,
                               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
                        FROM documents GROUP BY 1),
            tot AS (SELECT sum(n_tokens) AS _total FROM tc),
            tgt AS (SELECT v.source,
                           CAST(v.target_share AS DOUBLE) AS target_share
                    FROM (VALUES ('src0', 0.4), ('src1', 0.3),
                                 ('src2', 0.2), ('src3', 0.1))
                    v(source, target_share)),
            w AS (SELECT tc.source,
                         least(coalesce(tgt.target_share, 0.0)
                               / (CAST(tc.n_tokens AS DOUBLE) / tot._total),
                               1.0) AS keep_weight
                  FROM tc CROSS JOIN tot LEFT JOIN tgt USING (source))
            SELECT d.doc_id, d.source, w.keep_weight
            FROM documents d JOIN w USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'iw'),
                        1, 8)) AS BIGINT) % 1000000
                  < w.keep_weight * 1000000
        """,
        "win_scd2_history": """
            WITH m AS (
              SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            ch AS (SELECT user_id, event_type, ts, event_id FROM m
                   WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
            SELECT user_id, event_type,
                   CAST(row_number() OVER w2 AS INT) AS version,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
                   strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S.%f')
                     AS valid_to,
                   CAST(lead(ts) OVER w2 IS NULL AS INT) AS is_current
            FROM ch
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "dedup_docs_segments": """
            WITH t AS (SELECT doc_id,
                              string_split(regexp_replace(lower(trim(text)),
                                           ' +', ' ', 'g'), ' ') AS toks
                       FROM documents),
            s1 AS (SELECT doc_id, toks,
                          unnest(range(CAST(ceil(len(toks) / 16.0) AS BIGINT)))
                            AS i
                   FROM t),
            seg AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
                           array_to_string(toks[i*16+1:i*16+16], ' ')
                             AS seg_text
                    FROM s1),
            kept AS (SELECT doc_id, seg_idx, seg_text,
                            row_number() OVER (PARTITION BY seg_text
                                               ORDER BY doc_id, seg_idx) AS rn
                     FROM seg),
            agg AS (SELECT doc_id,
                           CAST(count(*) AS BIGINT) AS n_kept,
                           string_agg(seg_text, ' ' ORDER BY seg_idx)
                             AS dedup_text
                    FROM kept WHERE rn = 1 GROUP BY doc_id),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
                    FROM seg GROUP BY 1)
            SELECT tot.doc_id, tot.n_segments,
                   coalesce(agg.n_kept, 0) AS n_kept_segments,
                   tot.n_segments - coalesce(agg.n_kept, 0)
                     AS n_dropped_segments,
                   coalesce(agg.dedup_text, '') AS dedup_text
            FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
        """,
        "scale_skew_report": """
            WITH c AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS n
                       FROM lineitem GROUP BY 1),
            g AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
            top AS (SELECT k, n FROM c ORDER BY n DESC, k LIMIT 20)
            SELECT CAST(row_number() OVER o AS INT) AS rank,
                   CAST(k AS VARCHAR) AS key, n,
                   CAST(n AS DOUBLE) / n_total AS share,
                   CAST(sum(n) OVER cum AS DOUBLE) / n_total AS cum_share
            FROM top CROSS JOIN g
            WINDOW o AS (ORDER BY n DESC, k),
                   cum AS (ORDER BY n DESC, k
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "agg_incremental_daily_revenue": """
            SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6))
                               - CAST(l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS total_revenue,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*) AS avg_quantity,
                   CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*) AS avg_discount
            FROM lineitem GROUP BY 1
        """,
        "scale_partition_plan": """
            WITH p AS (SELECT source,
                              CAST(count(*) AS BIGINT) AS n_rows,
                              CAST(sum(length(text) + 64) AS BIGINT)
                                AS total_bytes
                       FROM documents GROUP BY 1)
            SELECT source, n_rows, total_bytes,
                   greatest(1, CAST(ceil(CAST(total_bytes AS DOUBLE) / 4096)
                                    AS INT)) AS n_files,
                   CAST(ceil(CAST(n_rows AS DOUBLE)
                        / greatest(1, CAST(ceil(CAST(total_bytes AS DOUBLE)
                                               / 4096) AS INT)))
                        AS BIGINT) AS rows_per_file
            FROM p
        """,
        "sample_negative_pairs": """
            WITH n AS (SELECT count(*) AS n_keys FROM embeddings),
            base AS (
              SELECT e.vec_id AS anchor_id,
                     t.i AS neg_idx,
                     CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || '_'
                            || CAST(t.i AS VARCHAR) || 'neg'), 1, 8)) AS BIGINT)
                       % n.n_keys AS negative_id,
                     n.n_keys AS n_keys
              FROM embeddings e
              CROSS JOIN n
              CROSS JOIN (SELECT unnest(range(4)) AS i) t
            )
            SELECT anchor_id,
                   CAST(neg_idx AS INT) AS neg_idx,
                   CAST(CASE WHEN negative_id = anchor_id
                             THEN (negative_id + 1) % n_keys
                             ELSE negative_id END AS BIGINT) AS negative_id
            FROM base
        """,
        "sample_fixed_k_per_source": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'topk'), 1, 8)) AS BIGINT)
                                % 1000000,
                                doc_id) AS rn
              FROM documents
            ) WHERE rn <= 5
        """,
        "scalar_morton3_key": f"""
            WITH t AS (SELECT o_orderkey,
                              CAST(o_custkey % 256 AS BIGINT) AS c0,
                              CAST(o_orderkey % 256 AS BIGINT) AS c1,
                              CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT)
                                AS c2
                       FROM orders)
            SELECT o_orderkey,
                   CAST({_morton_nd_sql(["c0", "c1", "c2"], 21)} AS BIGINT)
                     AS zkey
            FROM t
        """,
        "scalar_morton_key": """
            WITH t AS (SELECT o_orderkey,
                              CAST(o_custkey % 256 AS BIGINT) AS a,
                              CAST(o_orderkey % 256 AS BIGINT) AS b
                       FROM orders),
            s1 AS (SELECT o_orderkey, (a & 65535) AS a0, (b & 65535) AS b0 FROM t),
            s2 AS (SELECT o_orderkey,
                          ((a0 | (a0 << 8)) & 16711935) AS a1,
                          ((b0 | (b0 << 8)) & 16711935) AS b1 FROM s1),
            s3 AS (SELECT o_orderkey,
                          ((a1 | (a1 << 4)) & 252645135) AS a2,
                          ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s2),
            s4 AS (SELECT o_orderkey,
                          ((a2 | (a2 << 2)) & 858993459) AS a3,
                          ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s3),
            s5 AS (SELECT o_orderkey,
                          ((a3 | (a3 << 1)) & 1431655765) AS a4,
                          ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s4)
            SELECT o_orderkey, CAST(a4 | (b4 << 1) AS BIGINT) AS zkey FROM s5
        """,
        "dedup_corpus_diff": """
            WITH old AS (SELECT doc_id, text FROM documents),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 1 THEN text || ' v2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 10 <> 0
              UNION ALL
              SELECT doc_id + 900000, text FROM documents WHERE doc_id < 30
            ),
            a AS (SELECT doc_id,
                         sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS old_fp,
                         TRUE AS in_old
                  FROM old),
            b AS (SELECT doc_id,
                         sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS new_fp,
                         TRUE AS in_new
                  FROM new)
            SELECT doc_id,
                   CASE WHEN in_old IS NULL THEN 'added'
                        WHEN in_new IS NULL THEN 'removed'
                        WHEN old_fp IS NOT DISTINCT FROM new_fp THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM a FULL OUTER JOIN b USING (doc_id)
        """,
        "quality_gate_quarantine": """
            WITH v AS (
              SELECT event_id, user_id, event_type, value,
                     concat_ws(',',
                       CASE WHEN NOT coalesce(event_type IN
                         ('click','view','purchase','signup'), FALSE)
                         THEN 'known_event_type' END,
                       CASE WHEN NOT coalesce(value <= 100.0, FALSE)
                         THEN 'value_below_cap' END) AS violations
              FROM events)
            SELECT * FROM v WHERE violations <> ''
        """,
        "text_token_rarity": """
            WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                         FROM documents),
            dfb AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM tok GROUP BY 1)
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(d.df) AS BIGINT) AS sum_df,
                   CAST(sum(d.df) AS DOUBLE) / count(*) AS mean_df,
                   CAST(sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) AS rare_ratio
            FROM tok t JOIN dfb d USING (token)
            GROUP BY 1
        """,
        "text_tfidf_top_terms": """
            WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                         FROM documents),
            tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                   FROM tok GROUP BY 1, 2),
            dfb AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM tok GROUP BY 1),
            nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                   FROM documents),
            s AS (SELECT tf.doc_id, tf.token, tf.tf, dfb.df,
                         CAST(tf.tf AS DOUBLE) * nd.n_docs / dfb.df AS tfidf
                  FROM tf JOIN dfb USING (token) CROSS JOIN nd)
            SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, tfidf
            FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, token) AS rank
              FROM s
            ) WHERE rank <= 3
        """,
        "stream_corpus_dedup": """
            WITH fp AS (
              SELECT doc_id, source,
                     coalesce(sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')),
                              '__null__' || CAST(doc_id AS VARCHAR))
                       AS fingerprint
              FROM documents)
            SELECT doc_id, source, fingerprint FROM (
              SELECT *, row_number() OVER (PARTITION BY fingerprint
                                           ORDER BY doc_id) AS rn
              FROM fp
            ) WHERE rn = 1
        """,
        "sim_quantize_embeddings": """
            WITH t AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            m AS (SELECT vec_id, e,
                         list_max(list_transform(e, x -> abs(x))) AS absmax
                  FROM t),
            s AS (SELECT vec_id, e,
                         CASE WHEN absmax = 0 THEN 1.0
                              ELSE 127.0 / absmax END AS scale
                  FROM m),
            q AS (SELECT vec_id, scale,
                         list_transform(e, x -> CAST(floor(x * scale + 0.5) AS INT)) AS qv
                  FROM s)
            SELECT vec_id, scale,
                   CAST(list_min(qv) AS INT) AS q_min,
                   CAST(list_max(qv) AS INT) AS q_max,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
            FROM q
        """,
        "sample_mixing_weights": """
            WITH tc AS (SELECT source,
                               CAST(count(*) AS BIGINT) AS n_docs,
                               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
                        FROM documents GROUP BY 1),
            tot AS (SELECT sum(n_tokens) AS _total FROM tc),
            tgt AS (SELECT v.source,
                           CAST(v.target_share AS DOUBLE) AS target_share
                    FROM (VALUES ('src0', 0.4), ('src1', 0.3),
                                 ('src2', 0.2), ('src3', 0.1))
                    v(source, target_share))
            SELECT source,
                   coalesce(tc.n_docs, 0) AS n_docs,
                   coalesce(tc.n_tokens, 0) AS n_tokens,
                   coalesce(CAST(tc.n_tokens AS DOUBLE) / tot._total, 0.0)
                     AS actual_share,
                   coalesce(tgt.target_share, 0.0) AS target_share,
                   CASE WHEN coalesce(CAST(tc.n_tokens AS DOUBLE) / tot._total,
                                      0.0) > 0.0
                        THEN coalesce(tgt.target_share, 0.0)
                             / (CAST(tc.n_tokens AS DOUBLE) / tot._total)
                   END AS sampling_weight
            FROM (tc CROSS JOIN tot) FULL JOIN tgt USING (source)
        """,
        "text_contamination": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 500000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents WHERE doc_id < 50
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 8
                       THEN list_transform(range(len(toks) - 7),
                                           i -> array_to_string(toks[i+1:i+8], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 50),
            corpus AS (SELECT * FROM sh WHERE doc_id >= 50),
            bs AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS bench_total
                   FROM bench GROUP BY 1),
            ov AS (SELECT c.doc_id, b.bench_id,
                          CAST(count(*) AS BIGINT) AS n_shared
                   FROM corpus c JOIN bench b ON c.shingle = b.shingle
                   GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT ov.doc_id, ov.bench_id, ov.n_shared, bs.bench_total,
                   CAST(ov.n_shared AS DOUBLE) / bs.bench_total AS containment
            FROM ov JOIN bs USING (bench_id)
        """,
        "dedup_docs_exact": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 200000, text FROM documents
            )
            SELECT coalesce(sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')),
                            '__null__' || CAST(doc_id AS VARCHAR)) AS fingerprint,
                   min(doc_id) AS keep_doc_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM all_docs GROUP BY 1
        """,
        "text_winnow_fingerprints": """
            WITH norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS t
              FROM documents
            ), kg AS (
              SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     CAST(('0x' || substr(md5(
                       array_to_string(ws[i:i+2], ' ')), 1, 8)) AS BIGINT) AS h,
                     len(ws) - 2 AS n_kg
              FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM norm)
                   , UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
              WHERE len(ws) >= 3
            ), keyed AS (
              -- rightmost-min-per-window == min of h*2^21 + (2^21-1-pos)
              SELECT doc_id, pos, n_kg,
                     min(h * 2097152 + (2097151 - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key
              FROM kg
            )
            SELECT DISTINCT doc_id,
                   CAST(key // 2097152 AS BIGINT) AS fp_hash,
                   CAST(2097151 - (key % 2097152) AS BIGINT) AS fp_pos
            FROM keyed WHERE pos <= n_kg - 3
        """,
        "dedup_docs_winnow": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ), norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS t
              FROM base
            ), kg AS (
              SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     CAST(('0x' || substr(md5(
                       array_to_string(ws[i:i+2], ' ')), 1, 8)) AS BIGINT) AS h,
                     len(ws) - 2 AS n_kg
              FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM norm)
                   , UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
              WHERE len(ws) >= 3
            ), keyed AS (
              SELECT doc_id, pos, n_kg,
                     min(h * 2097152 + (2097151 - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key
              FROM kg
            ), fps AS (
              SELECT DISTINCT doc_id AS doc,
                     CAST(key // 2097152 AS BIGINT) AS fp_hash
              FROM keyed WHERE pos <= n_kg - 3
            ), rare AS (
              SELECT fp_hash FROM fps GROUP BY 1 HAVING count(*) <= 100
            ), kept AS (
              SELECT doc, fp_hash FROM fps
              WHERE fp_hash IN (SELECT fp_hash FROM rare)
            ), sizes AS (
              SELECT doc, CAST(count(*) AS BIGINT) AS n_fp FROM kept GROUP BY 1
            ), shared AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM kept a JOIN kept b
                ON a.fp_hash = b.fp_hash AND a.doc < b.doc
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, n_shared,
                   CAST(n_shared AS DOUBLE)
                     / least(sa.n_fp, sb.n_fp) AS overlap
            FROM shared
            JOIN sizes sa ON sa.doc = doc_a
            JOIN sizes sb ON sb.doc = doc_b
            WHERE CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) >= 0.3
        """,
        "dedup_docs_winnow_clusters": """
            WITH RECURSIVE base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ), norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS t
              FROM base
            ), kg AS (
              SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     CAST(('0x' || substr(md5(
                       array_to_string(ws[i:i+2], ' ')), 1, 8)) AS BIGINT) AS h,
                     len(ws) - 2 AS n_kg
              FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM norm)
                   , UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
              WHERE len(ws) >= 3
            ), keyed AS (
              SELECT doc_id, pos, n_kg,
                     min(h * 2097152 + (2097151 - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key
              FROM kg
            ), fps AS (
              SELECT DISTINCT doc_id AS doc,
                     CAST(key // 2097152 AS BIGINT) AS fp_hash
              FROM keyed WHERE pos <= n_kg - 3
            ), rare AS (
              SELECT fp_hash FROM fps GROUP BY 1 HAVING count(*) <= 100
            ), kept AS (
              SELECT doc, fp_hash FROM fps
              WHERE fp_hash IN (SELECT fp_hash FROM rare)
            ), sizes AS (
              SELECT doc, count(*) AS n_fp FROM kept GROUP BY 1
            ), shared AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared
              FROM kept a JOIN kept b
                ON a.fp_hash = b.fp_hash AND a.doc < b.doc
              GROUP BY 1, 2
            ), win AS (
              SELECT doc_a, doc_b FROM shared
              JOIN sizes sa ON sa.doc = doc_a
              JOIN sizes sb ON sb.doc = doc_b
              WHERE CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) >= 0.3
            ), edges AS (
              SELECT doc_a AS s, doc_b AS d FROM win
              UNION
              SELECT doc_b, doc_a FROM win
            ), reach AS (
              SELECT doc_id AS node, doc_id AS r FROM base
              UNION
              SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
            ), comp AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            )
            SELECT cluster_id,
                   CAST(count(*) AS BIGINT) AS cluster_size,
                   min(node) AS keep_doc_id
            FROM comp GROUP BY cluster_id
        """,
        "sample_cluster_safe_split": """
            WITH RECURSIVE base AS (
              SELECT doc_id, source, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, source,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT doc_a, doc_b
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM jac
              UNION
              SELECT doc_b, doc_a FROM jac
            ),
            reach AS (
              SELECT doc_id AS node, doc_id AS r FROM base
              UNION
              SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
            ),
            comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
            SELECT b.doc_id, b.source, c.cluster_id,
                   CASE WHEN CAST(('0x' || substr(md5(
                          CAST(c.cluster_id AS VARCHAR) || 'csplit'), 1, 8))
                          AS BIGINT) % 1000000 < 800000
                        THEN 'train' ELSE 'test' END AS split
            FROM base b JOIN comp c ON c.node = b.doc_id
        """,
        "dedup_docs_winnow_spans": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ), norm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS t
              FROM base
            ), kg AS (
              SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     CAST(('0x' || substr(md5(
                       array_to_string(ws[i:i+2], ' ')), 1, 8)) AS BIGINT) AS h,
                     len(ws) - 2 AS n_kg
              FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM norm)
                   , UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
              WHERE len(ws) >= 3
            ), keyed AS (
              SELECT doc_id, pos, n_kg,
                     min(h * 2097152 + (2097151 - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key
              FROM kg
            ), fpsp AS (
              SELECT DISTINCT doc_id AS doc,
                     CAST(key // 2097152 AS BIGINT) AS fp_hash,
                     CAST(2097151 - (key % 2097152) AS BIGINT) AS fp_pos
              FROM keyed WHERE pos <= n_kg - 3
            ), fps AS (
              SELECT DISTINCT doc, fp_hash FROM fpsp
            ), rare AS (
              SELECT fp_hash FROM fps GROUP BY 1 HAVING count(*) <= 100
            ), kept AS (
              SELECT doc, fp_hash FROM fps
              WHERE fp_hash IN (SELECT fp_hash FROM rare)
            ), keptp AS (
              SELECT doc, fp_hash, fp_pos FROM fpsp
              WHERE fp_hash IN (SELECT fp_hash FROM rare)
            ), sizes AS (
              SELECT doc, count(*) AS n_fp FROM kept GROUP BY 1
            ), shared AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM kept a JOIN kept b
                ON a.fp_hash = b.fp_hash AND a.doc < b.doc
              GROUP BY 1, 2
            ), pairs AS (
              SELECT doc_a, doc_b, n_shared,
                     CAST(n_shared AS DOUBLE)
                       / least(sa.n_fp, sb.n_fp) AS overlap
              FROM shared
              JOIN sizes sa ON sa.doc = doc_a
              JOIN sizes sb ON sb.doc = doc_b
              WHERE CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) >= 0.3
            )
            SELECT p.doc_a, p.doc_b, p.n_shared, p.overlap,
                   CAST(min(fa.fp_pos) AS BIGINT) AS a_start,
                   CAST(max(fa.fp_pos) + 2 AS BIGINT) AS a_end,
                   CAST(min(fb.fp_pos) AS BIGINT) AS b_start,
                   CAST(max(fb.fp_pos) + 2 AS BIGINT) AS b_end
            FROM pairs p
            JOIN keptp fa ON fa.doc = p.doc_a
            JOIN keptp fb ON fb.doc = p.doc_b AND fb.fp_hash = fa.fp_hash
            GROUP BY 1, 2, 3, 4
        """,
        "dedup_docs_jaccard_pairs": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, common,
                   CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
                   CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
        """,
        "dedup_canonical_quality": """
            WITH RECURSIVE base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            sig AS (
              SELECT doc_id,
                   """ + _MH_COLS + """
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, 0 AS band,
                     sha256(mh_0::VARCHAR || '|' || mh_1::VARCHAR || '|' || mh_2::VARCHAR || '|' || mh_3::VARCHAR) AS bhash FROM sig
              UNION ALL
              SELECT doc_id, 1,
                     sha256(mh_4::VARCHAR || '|' || mh_5::VARCHAR || '|' || mh_6::VARCHAR || '|' || mh_7::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 2,
                     sha256(mh_8::VARCHAR || '|' || mh_9::VARCHAR || '|' || mh_10::VARCHAR || '|' || mh_11::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 3,
                     sha256(mh_12::VARCHAR || '|' || mh_13::VARCHAR || '|' || mh_14::VARCHAR || '|' || mh_15::VARCHAR) FROM sig
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            jacv AS (
              SELECT doc_a, doc_b,
                     CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            ),
            dup_pairs AS (
              SELECT cand.doc_a, cand.doc_b
              FROM cand LEFT JOIN jacv
                ON cand.doc_a = jacv.doc_a AND cand.doc_b = jacv.doc_b
              WHERE COALESCE(jaccard, 0.0) >= 0.5
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM dup_pairs
              UNION
              SELECT doc_b, doc_a FROM dup_pairs
            ),
            reach AS (
              SELECT doc_id AS node, doc_id AS r FROM base
              UNION
              SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
            ),
            comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
            scored AS (
              SELECT comp.node, comp.cluster_id,
                     CAST(length(base.text) AS BIGINT) AS len
              FROM comp JOIN base ON base.doc_id = comp.node
            ),
            ranked AS (
              SELECT cluster_id, node, len,
                     row_number() OVER (PARTITION BY cluster_id
                                        ORDER BY len DESC, node) AS rn,
                     count(*) OVER (PARTITION BY cluster_id) AS cluster_size
              FROM scored
            )
            SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
                   node AS keep_doc_id, len AS keep_score
            FROM ranked WHERE rn = 1
        """,
        "dedup_docs_clusters": """
            WITH RECURSIVE base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            sig AS (
              SELECT doc_id,
                   """ + _MH_COLS + """
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, 0 AS band,
                     sha256(mh_0::VARCHAR || '|' || mh_1::VARCHAR || '|' || mh_2::VARCHAR || '|' || mh_3::VARCHAR) AS bhash FROM sig
              UNION ALL
              SELECT doc_id, 1,
                     sha256(mh_4::VARCHAR || '|' || mh_5::VARCHAR || '|' || mh_6::VARCHAR || '|' || mh_7::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 2,
                     sha256(mh_8::VARCHAR || '|' || mh_9::VARCHAR || '|' || mh_10::VARCHAR || '|' || mh_11::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 3,
                     sha256(mh_12::VARCHAR || '|' || mh_13::VARCHAR || '|' || mh_14::VARCHAR || '|' || mh_15::VARCHAR) FROM sig
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            jacv AS (
              SELECT doc_a, doc_b,
                     CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            ),
            dup_pairs AS (
              SELECT cand.doc_a, cand.doc_b
              FROM cand LEFT JOIN jacv
                ON cand.doc_a = jacv.doc_a AND cand.doc_b = jacv.doc_b
              WHERE COALESCE(jaccard, 0.0) >= 0.5
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM dup_pairs
              UNION
              SELECT doc_b, doc_a FROM dup_pairs
            ),
            reach AS (
              SELECT doc_id AS node, doc_id AS r FROM base
              UNION
              SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
            ),
            comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
            SELECT cluster_id,
                   CAST(count(*) AS BIGINT) AS cluster_size,
                   min(node) AS keep_doc_id
            FROM comp GROUP BY cluster_id
        """,
        "dedup_docs_clusters_jaccard": """
            WITH RECURSIVE base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT doc_a, doc_b
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM jac
              UNION
              SELECT doc_b, doc_a FROM jac
            ),
            reach AS (
              SELECT doc_id AS node, doc_id AS r FROM base
              UNION
              SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
            ),
            comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
            SELECT cluster_id,
                   CAST(count(*) AS BIGINT) AS cluster_size,
                   min(node) AS keep_doc_id
            FROM comp GROUP BY cluster_id
        """,
        "dedup_docs_minhash_sig": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            )
            SELECT doc_id,
                   """ + _MH_COLS + """
            FROM sh GROUP BY doc_id
        """,
        "dedup_docs_minhash_lsh": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            norm AS (SELECT doc_id,
                            string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS toks
                     FROM base),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(len(toks) - 2),
                                           i -> array_to_string(toks[i+1:i+3], ' '))
                       ELSE [array_to_string(toks, ' ')] END)) AS shingle
              FROM norm
            ),
            sig AS (
              SELECT doc_id,
                   """ + _MH_COLS + """
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, 0 AS band,
                     sha256(mh_0::VARCHAR || '|' || mh_1::VARCHAR || '|' || mh_2::VARCHAR || '|' || mh_3::VARCHAR) AS bhash FROM sig
              UNION ALL
              SELECT doc_id, 1,
                     sha256(mh_4::VARCHAR || '|' || mh_5::VARCHAR || '|' || mh_6::VARCHAR || '|' || mh_7::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 2,
                     sha256(mh_8::VARCHAR || '|' || mh_9::VARCHAR || '|' || mh_10::VARCHAR || '|' || mh_11::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 3,
                     sha256(mh_12::VARCHAR || '|' || mh_13::VARCHAR || '|' || mh_14::VARCHAR || '|' || mh_15::VARCHAR) FROM sig
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT doc_a, doc_b,
                     CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
              FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
            )
            SELECT cand.doc_a, cand.doc_b,
                   COALESCE(jaccard, 0.0) AS jaccard,
                   CAST(COALESCE(jaccard, 0.0) >= 0.5 AS INT) AS is_dup
            FROM cand LEFT JOIN jac ON cand.doc_a = jac.doc_a AND cand.doc_b = jac.doc_b
        """,
        # Six-stage corpus-prep composition, each CTE mirroring one stage
        # of plans/corpus.py:prepare_training_corpus (exact dedup -> LSH
        # near-dup removal -> quality/repetition/length gates -> PII
        # scrub -> chunk -> pack). Deterministic end-to-end: the LSH
        # stage uses the same md5-prefix base hash + affine permutation
        # constants as the Spark side.
        "pipeline_corpus_prep": """
            WITH norm AS (
              SELECT doc_id, text, n_chars,
                     regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS ntext
              FROM documents
            ),
            surv1 AS (  -- stage 1: exact dedup, lowest doc_id survives
              SELECT doc_id, text, n_chars, ntext FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY coalesce(ntext,
                                          '__null__' || CAST(doc_id AS VARCHAR))
                    ORDER BY doc_id) AS rn
                FROM norm) WHERE rn = 1
            ),
            toks AS (SELECT doc_id, string_split(ntext, ' ') AS t FROM surv1),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(CASE WHEN len(t) >= 3
                       THEN list_transform(range(len(t) - 2),
                                           i -> array_to_string(t[i+1:i+3], ' '))
                       ELSE [array_to_string(t, ' ')] END)) AS shingle
              FROM toks
            ),
            sig AS (
              SELECT doc_id,
                   """ + _MH_COLS + """
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, 0 AS band,
                     sha256(mh_0::VARCHAR || '|' || mh_1::VARCHAR || '|' || mh_2::VARCHAR || '|' || mh_3::VARCHAR) AS bhash FROM sig
              UNION ALL
              SELECT doc_id, 1,
                     sha256(mh_4::VARCHAR || '|' || mh_5::VARCHAR || '|' || mh_6::VARCHAR || '|' || mh_7::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 2,
                     sha256(mh_8::VARCHAR || '|' || mh_9::VARCHAR || '|' || mh_10::VARCHAR || '|' || mh_11::VARCHAR) FROM sig
              UNION ALL
              SELECT doc_id, 3,
                     sha256(mh_12::VARCHAR || '|' || mh_13::VARCHAR || '|' || mh_14::VARCHAR || '|' || mh_15::VARCHAR) FROM sig
            ),
            cand AS (  -- stage 2: LSH band-collision candidates
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bhash = b.bhash
               AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle
                                 AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            losers AS (  -- verified near-dups: higher doc_id drops
              SELECT DISTINCT cand.doc_b AS doc_id
              FROM cand
              LEFT JOIN common ON cand.doc_a = common.doc_a
                              AND cand.doc_b = common.doc_b
              JOIN sizes sa ON sa.doc_id = cand.doc_a
              JOIN sizes sb ON sb.doc_id = cand.doc_b
              WHERE CAST(COALESCE(n_common, 0) AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - COALESCE(n_common, 0)) >= 0.5
            ),
            surv2 AS (
              SELECT doc_id, text, n_chars FROM surv1 s
              WHERE NOT EXISTS (SELECT 1 FROM losers l
                                WHERE l.doc_id = s.doc_id)
            ),
            q AS (  -- stage 3: quality/repetition/length gates
              SELECT doc_id, text,
                     len(wt) AS n_tokens,
                     0.4 * (CAST(len(list_distinct(wt)) AS DOUBLE) / len(wt))
                     + 0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                     + 0.2 * (1.0 - CAST(len(list_filter(wt,
                           x -> length(x) <= 2)) AS DOUBLE) / len(wt))
                       AS quality_score,
                     CASE WHEN len(wt) >= 2
                       THEN list_transform(range(len(wt) - 1),
                                           i -> array_to_string(wt[i+1:i+2], ' '))
                       ELSE [array_to_string(wt, ' ')] END AS grams
              FROM (SELECT doc_id, text, n_chars,
                           string_split(trim(text), ' ') AS wt
                    FROM surv2)
            ),
            filt AS (
              SELECT doc_id, text FROM q
              WHERE n_tokens >= 5 AND quality_score >= 0.5
                AND CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                    / len(grams) <= 0.3
            ),
            clean AS (  -- stage 4: PII scrub
              SELECT doc_id,
                     regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text
              FROM filt
            ),
            ct AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM clean),
            c AS (SELECT doc_id, t,
                         unnest(generate_series(1, len(t), 48)) AS start
                  FROM ct),
            ch AS (  -- stage 5: chunk (size 64, stride 48)
              SELECT doc_id,
                     CAST((start - 1) // 48 AS INT) AS chunk_idx,
                     CAST(least(64, len(t) - start + 1) AS INT)
                       AS n_chunk_tokens
              FROM c)
            -- stage 6: pack (budget 256 = 4 chunks per pack)
            SELECT doc_id, chunk_idx, n_chunk_tokens,
                   CAST(sum(n_chunk_tokens) OVER w AS BIGINT) AS cum_tokens,
                   CAST(chunk_idx // 4 AS INT) AS pack_id
            FROM ch
            WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "dedup_docs_simhash": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            tok AS (SELECT doc_id,
                           unnest(string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS token
                    FROM base),
            bits AS (
              SELECT doc_id, j.j AS j,
                     ascii(substr(sha256(token), j.j + 1, 1)) % 2 AS bit
              FROM tok CROSS JOIN (SELECT unnest(range(64)) AS j) j
            ),
            maj AS (SELECT doc_id, j, sum(bit * 2 - 1) AS balance FROM bits GROUP BY 1, 2)
            SELECT doc_id,
                   string_agg(CASE WHEN balance > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
            FROM maj GROUP BY doc_id
        """,
        "dedup_docs_simhash_hamming": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     substring(text, 1, length(text) - instr(reverse(text), ' '))
              FROM documents
            ),
            tok AS (SELECT doc_id,
                           unnest(string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS token
                    FROM base),
            bits AS (
              SELECT doc_id, j.j AS j,
                     ascii(substr(sha256(token), j.j + 1, 1)) % 2 AS bit
              FROM tok CROSS JOIN (SELECT unnest(range(64)) AS j) j
            ),
            maj AS (SELECT doc_id, j, sum(bit * 2 - 1) AS balance FROM bits GROUP BY 1, 2),
            sims AS (
              SELECT doc_id,
                     string_agg(CASE WHEN balance > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
              FROM maj GROUP BY doc_id
            )
            SELECT o.doc_id, o.simhash, d.simhash AS simhash_dup,
                   CAST(len(list_filter(range(64),
                        j -> substr(o.simhash, j + 1, 1) != substr(d.simhash, j + 1, 1)))
                        AS INT) AS hamming
            FROM sims o JOIN sims d ON d.doc_id = o.doc_id + 100000
            WHERE o.doc_id < 100000
        """,
        "sim_label_centroids": """
            WITH ex AS (
              SELECT label, CAST(i AS INT) AS pos,
                     embedding[CAST(i AS INT) + 1] AS v
              FROM embeddings, unnest(range(len(embedding))) AS t(i)
            )
            SELECT label, pos,
                   CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)))
                        AS DOUBLE) / count(*) AS c
            FROM ex GROUP BY 1, 2
        """,
        "sim_prototype_confusion": f"""
            WITH ex AS (
              SELECT label, CAST(i AS INT) AS pos,
                     embedding[CAST(i AS INT) + 1] AS v
              FROM embeddings, unnest(range(len(embedding))) AS t(i)
            ), cent AS (
              SELECT label, pos,
                     CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)))
                          AS DOUBLE) / count(*) AS c
              FROM ex GROUP BY 1, 2
            ), cents AS (
              SELECT label AS predicted_label,
                     list(c ORDER BY pos) AS centroid
              FROM cent GROUP BY label
            ), scored AS (
              SELECT e.vec_id, e.label AS true_label, p.predicted_label,
                     {_dot_sql("e.embedding", "p.centroid")}
                     / (sqrt({_norm2_sql("e.embedding")})
                        * sqrt({_norm2_sql("p.centroid")})) AS cos_sim
              FROM embeddings e CROSS JOIN cents p
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_sim DESC, predicted_label) AS rank
              FROM scored
            )
            SELECT true_label, predicted_label,
                   CAST(count(*) AS BIGINT) AS n
            FROM ranked WHERE rank = 1
            GROUP BY 1, 2
        """,
        "quality_robust_outliers": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS median
              FROM events GROUP BY 1
            ), wm AS (
              SELECT e.event_type, e.value, m.median
              FROM events e JOIN med m USING (event_type)
            ), madt AS (
              SELECT event_type,
                     quantile_cont(abs(value - median), 0.5) AS mad,
                     min(median) AS median
              FROM wm GROUP BY 1
            ), sc AS (
              SELECT w.event_type, w.value, w.median, d.mad
              FROM wm w JOIN (SELECT event_type, mad FROM madt) d
                USING (event_type)
            ), counts AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN mad > 0
                                    AND 0.6745 * abs(value - median) / mad > 3.5
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM sc GROUP BY 1
            )
            SELECT c.event_type, n, m.median, m.mad, n_outliers
            FROM counts c JOIN madt m USING (event_type)
        """,
        "sim_cross_contamination": f"""
            WITH n2 AS (
              SELECT vec_id, embedding,
                     {_norm2_sql("embedding")} AS nrm2
              FROM embeddings
            ),
            scored AS (
              SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
                     {_dot_sql("t.embedding", "b.embedding")}
                     / (sqrt(t.nrm2) * sqrt(b.nrm2)) AS cos_sim
              FROM n2 t JOIN n2 b
                ON t.vec_id >= 25 AND b.vec_id < 25
            )
            SELECT train_id, bench_id, cos_sim
            FROM (
              SELECT *, row_number() OVER (PARTITION BY train_id
                        ORDER BY cos_sim DESC, bench_id) AS rank
              FROM scored WHERE cos_sim >= 0.3
            ) WHERE rank = 1
        """,
        "sim_hard_negatives": f"""
            WITH n2 AS (
              SELECT vec_id, embedding, label,
                     {_norm2_sql("embedding")} AS nrm2
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS qid, q.label AS q_label,
                     c.vec_id AS vid, c.label AS neg_label,
                     {_dot_sql("q.embedding", "c.embedding")}
                     / (sqrt(q.nrm2) * sqrt(c.nrm2)) AS cos_sim
              FROM n2 q JOIN n2 c
                ON q.vec_id != c.vec_id AND q.label != c.label
              WHERE q.vec_id IN (0, 1, 2, 3, 4)
            )
            SELECT qid, q_label, vid, neg_label,
                   CAST(rank AS INT) AS rank, cos_sim
            FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY cos_sim DESC, vid) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "sim_embedding_drift": f"""
            WITH newt AS (
              SELECT vec_id,
                     CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding)
                          ELSE embedding END AS embedding
              FROM embeddings WHERE vec_id % 97 <> 0
              UNION ALL
              SELECT vec_id + 1000000, embedding
              FROM embeddings WHERE vec_id % 89 = 0
            ), j AS (
              SELECT o.vec_id AS oid, n.vec_id AS nid,
                     o.embedding AS vo, n.embedding AS vn
              FROM embeddings o FULL OUTER JOIN newt n
                ON o.vec_id = n.vec_id
            ), matched AS (
              SELECT {_dot_sql("vo", "vn")}
                     / (sqrt({_norm2_sql("vo")}) * sqrt({_norm2_sql("vn")}))
                       AS c
              FROM j WHERE oid IS NOT NULL AND nid IS NOT NULL
            )
            SELECT 'matched' AS status,
                   CAST(greatest(0, least(19, floor((c - (-1.0)) / 0.1)))
                        AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            -- undefined cosines (NULL or zero-norm vectors on a matched
            -- id) go to the dedicated matched_null bucket below
            FROM matched WHERE c IS NOT NULL AND NOT isnan(c) GROUP BY 2
            UNION ALL
            SELECT 'matched_null', CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
            FROM matched WHERE c IS NULL OR isnan(c)
            UNION ALL
            SELECT 'added', CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
            FROM j WHERE oid IS NULL
            UNION ALL
            SELECT 'removed', CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
            FROM j WHERE nid IS NULL
        """,
        "sim_cosine_topk": f"""
            WITH n2 AS (
              SELECT vec_id, embedding, label,
                     {_norm2_sql("embedding")} AS nrm2
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS qid, c.vec_id AS vid, c.label AS c_label,
                     {_dot_sql("q.embedding", "c.embedding")}
                     / (sqrt(q.nrm2) * sqrt(c.nrm2)) AS cos_sim
              FROM n2 q JOIN n2 c ON q.vec_id != c.vec_id
              WHERE q.vec_id IN (0, 1, 2, 3, 4)
            )
            SELECT qid, vid, CAST(rank AS INT) AS rank, cos_sim, c_label
            FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY cos_sim DESC, vid) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "sim_knn_label_agreement": f"""
            WITH n2 AS (
              SELECT vec_id, embedding, label,
                     {_norm2_sql("embedding")} AS nrm2
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS qid, q.label AS q_label,
                     c.vec_id AS vid, c.label AS c_label,
                     {_dot_sql("q.embedding", "c.embedding")}
                     / (sqrt(q.nrm2) * sqrt(c.nrm2)) AS cos_sim
              FROM n2 q JOIN n2 c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 50
            )
            SELECT qid, vid, cos_sim, q_label, c_label,
                   CAST(q_label = c_label AS INT) AS label_match
            FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY cos_sim DESC, vid) AS rank
              FROM scored
            ) WHERE rank = 1
        """,
        "sim_pairs_above_threshold": f"""
            WITH n2 AS (
              SELECT vec_id, embedding,
                     {_norm2_sql("embedding")} AS nrm2
              FROM embeddings WHERE vec_id < 100
            )
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     {_dot_sql("a.embedding", "b.embedding")}
                     / (sqrt(a.nrm2) * sqrt(b.nrm2)) AS cos_sim
              FROM n2 a JOIN n2 b ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.25
        """,
        "sim_pq_encode": _pq_encode_oracle_sql(),
        "sim_pq_ann": _pq_ann_oracle_sql(),
        "sim_ivf_ann_fixed": _ivf_ann_fixed_oracle_sql(),
        "sim_ivfpq_ann_fixed": _ivfpq_ann_fixed_oracle_sql(),
        "sim_lsh_bucketed_ann": _lsh_bucketed_oracle_sql(),
        "dedup_embedding_clusters": """
            WITH RECURSIVE n2 AS (
              SELECT vec_id, embedding,
                     """ + _norm2_sql("embedding") + """ AS nrm2
              FROM embeddings WHERE vec_id < 100
            ),
            pairs AS (
              SELECT doc_a, doc_b FROM (
                SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                       """ + _dot_sql("a.embedding", "b.embedding") + """
                       / (sqrt(a.nrm2) * sqrt(b.nrm2)) AS cos_sim
                FROM n2 a JOIN n2 b ON a.vec_id < b.vec_id
              ) WHERE cos_sim >= 0.25
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
              SELECT vec_id AS node, vec_id AS r FROM n2
              UNION
              SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r
            ),
            comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
            SELECT cluster_id,
                   CAST(count(*) AS BIGINT) AS cluster_size,
                   min(node) AS keep_doc_id
            FROM comp GROUP BY cluster_id
        """,
        "agg_forecast_revenue_change": """
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                            * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue_delta,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
              AND l_discount BETWEEN 0.03 AND 0.05
              AND l_quantity < 24
        """,
        "agg_priority_shipping": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "agg_promo_revenue_pct": """
            SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'ECO%'
                                 THEN CAST(l_extendedprice AS DECIMAL(18,6))
                                      * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
                                 ELSE CAST(0 AS DECIMAL(37,12)) END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                              * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE)
                   AS promo_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
        """,
        "agg_shipping_priority": """
            SELECT l.l_orderkey,
                   CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
                   o.o_orderpriority,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15'
              AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "agg_local_supplier_volume": """
            SELECT n.n_name,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
            GROUP BY 1
        """,
        "agg_nation_trade_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND year(CAST(l.l_shipdate AS DATE)) IN (1995, 1996)
            GROUP BY 1, 2, 3
        """,
        "agg_market_share": """
            WITH j AS (
              SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
                     CAST(l.l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))) AS vol,
                     n2.n_name AS supp_nation
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
              JOIN orders o ON l.l_orderkey = o.o_orderkey
               AND CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
               AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
              JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            )
            SELECT o_year,
                   CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                                 ELSE CAST(0 AS DECIMAL(37,12)) END) AS DOUBLE)
                   / CAST(sum(vol) AS DOUBLE) AS mkt_share,
                   CAST(sum(vol) AS DOUBLE) AS total_volume
            FROM j GROUP BY o_year ORDER BY o_year
        """,
        "agg_top_revenue_suppliers": """
            WITH rev AS (
                SELECT l_suppkey,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                            AS DOUBLE) AS total_revenue
                FROM lineitem
                WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
                GROUP BY 1
            )
            SELECT s.s_suppkey, s.s_name, rev.total_revenue
            FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
            WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "agg_brand_promo_revenue": """
            SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "agg_sole_return_suppliers": """
            WITH culprit AS (
                SELECT DISTINCT l_orderkey, l_suppkey
                FROM lineitem WHERE l_returnflag = 'R'
            )
            SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM culprit l1
            JOIN orders o ON o.o_orderkey = l1.l_orderkey
                         AND o.o_orderstatus = 'F'
            JOIN supplier s ON l1.l_suppkey = s.s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
            GROUP BY 1
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "agg_important_part_values": """
            WITH vals AS (
                SELECT l.l_partkey,
                       sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                           * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6)))) AS value_dec
                FROM lineitem l
                WHERE l.l_suppkey IN (
                    SELECT s_suppkey FROM supplier
                    JOIN nation ON s_nationkey = n_nationkey
                    WHERE n_name = 'NATION_3')
                GROUP BY 1
            )
            SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
            FROM vals
            WHERE CAST(value_dec AS DOUBLE) >
                  CAST((SELECT sum(value_dec) FROM vals) AS DOUBLE) * 0.001
        """,
        "agg_order_priority_checks": """
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
              AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
            GROUP BY 1
        """,
        "agg_returned_item_losses": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))))
                        AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND CAST(o.o_orderdate AS DATE) >= DATE '1995-07-01'
              AND CAST(o.o_orderdate AS DATE) < DATE '1995-10-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "agg_customer_order_distribution": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
                SELECT c.c_custkey,
                       CAST(count(o.o_orderkey) AS BIGINT) AS c_count
                FROM customer c
                LEFT OUTER JOIN orders o
                  ON c.c_custkey = o.o_custkey
                 AND o.o_orderpriority <> '1-URGENT'
                GROUP BY 1
            )
            GROUP BY 1
        """,
        "agg_supplier_counts_by_part": """
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size IN (10, 20, 30, 40)
              AND l.l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "agg_large_volume_customers": """
            WITH big AS (
                SELECT l_orderkey,
                       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
                FROM lineitem
                GROUP BY 1
                HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 300.0
            )
            SELECT c.c_name, c.c_custkey, o.o_orderkey,
                   CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
                   o.o_totalprice, big.sum_qty
            FROM orders o
            JOIN big ON o.o_orderkey = big.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "agg_dormant_customers": """
            SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                           / count(c_acctbal)
                    FROM customer WHERE c_acctbal > 0.0)
              AND c_custkey NOT IN (
                    SELECT o_custkey FROM orders
                    WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
            GROUP BY 1
        """,
        "agg_unpivot_measures": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """,
        "agg_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "join_asof_orders_events": """
            WITH r AS (
              SELECT user_id AS _k, CAST(ts AS TIMESTAMP) AS _t, 0 AS _is_left,
                     event_id AS _tb,
                     struct_pack(et := event_type, val := value) AS _v,
                     NULL::BIGINT AS o_orderkey, NULL::BIGINT AS o_custkey,
                     NULL::TIMESTAMP AS order_ts, NULL::DOUBLE AS o_totalprice
              FROM events
            ), l AS (
              SELECT o_custkey AS _k,
                     CAST(DATE '2024-01-01'
                          + CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) % 28 AS INT)
                          AS TIMESTAMP) AS _t,
                     1 AS _is_left,
                     NULL::BIGINT AS _tb,
                     NULL::STRUCT(et VARCHAR, val DOUBLE) AS _v,
                     o_orderkey, o_custkey,
                     CAST(DATE '2024-01-01'
                          + CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) % 28 AS INT)
                          AS TIMESTAMP) AS order_ts,
                     o_totalprice
              FROM orders
            ), u AS (SELECT * FROM r UNION ALL SELECT * FROM l),
            carried AS (
              SELECT *,
                     struct_extract(last_value(_v IGNORE NULLS) OVER w, 'et') AS last_event_type,
                     struct_extract(last_value(_v IGNORE NULLS) OVER w, 'val') AS last_event_value
              FROM u
              WINDOW w AS (PARTITION BY _k
                           ORDER BY _t, _is_left, _tb ASC NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT o_orderkey, o_custkey,
                   strftime(order_ts, '%Y-%m-%d') AS order_date,
                   o_totalprice, last_event_type, last_event_value
            FROM carried WHERE _is_left = 1
        """,
        "sample_hash_docs": """
            SELECT * FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's0'), 1, 8)) AS BIGINT)
                  % 1000000 < 250000
        """,
        "sample_hash_split_train": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || 'split'), 1, 8)) AS BIGINT)
                  % 1000000 < 800000
        """,
        "sample_mix_sources": """
            SELECT doc_id, text, lang, source, n_chars FROM (
              SELECT *,
                     CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1
                                 ELSE 0.0 END AS _rate,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8)) AS BIGINT)
                     % 1000000 AS _bucket
              FROM documents
            ) WHERE _bucket < CAST(floor(_rate * 1000000) AS BIGINT)
        """,
        "scale_salted_count": """
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "agg_small_quantity_orders": """
            SELECT l_partkey,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS small_revenue,
                   CAST(count(*) AS BIGINT) AS n_small_lines
            FROM lineitem outer_li
            WHERE l_quantity < (
                SELECT 0.5 * avg(l_quantity) FROM lineitem
                WHERE l_partkey = outer_li.l_partkey
            )
            GROUP BY l_partkey
        """,
        "array_functions_embeddings": """
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS dim,
                   CAST(list_max(embedding) AS DOUBLE) AS emb_max,
                   CAST(list_min(embedding) AS DOUBLE) AS emb_min,
                   CAST(embedding[1] AS DOUBLE) AS first_elem,
                   CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
                   CAST(list_sort(embedding)[1] AS DOUBLE) AS smallest1,
                   CAST(list_sort(embedding)[2] AS DOUBLE) AS smallest2,
                   CAST(list_sort(embedding)[3] AS DOUBLE) AS smallest3
            FROM embeddings
        """,
        "scalar_string_functions": """
            SELECT p_partkey,
                   upper(p_name) AS name_upper,
                   substring(p_name, 1, 8) AS name_prefix,
                   CAST(length(p_name) AS INT) AS name_len,
                   reverse(p_name) AS name_rev,
                   lpad(p_brand, 12, '*') AS brand_padded,
                   concat_ws('::', p_brand, p_type) AS brand_type,
                   CAST(instr(p_name, 'a') AS INT) AS first_a,
                   string_split(p_name, ' ')[1] AS name_first_word,
                   string_split(p_name, ' ')[-1] AS name_last_word,
                   replace(p_brand, '#', '_') AS brand_clean,
                   trim(lower(p_type)) AS type_norm
            FROM part
        """,
        "scalar_date_functions": """
            SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS od,
                   CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus_3_months,
                   CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus_30_days,
                   CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
                   CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS VARCHAR) AS month_start,
                   CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y,
                   CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
                   CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS m,
                   CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS dom,
                   CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy,
                   CAST(DATE '2000-01-01' - CAST(o_orderdate AS DATE) AS INT) AS days_to_y2k
            FROM orders
        """,
        "scalar_math_functions": """
            SELECT l_orderkey, l_linenumber,
                   abs(l_extendedprice - 1000.0) AS abs_delta,
                   sqrt(l_extendedprice) AS sqrt_price,
                   CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
                   CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
                   greatest(l_discount, 0.05) AS disc_floor,
                   least(l_discount, 0.05) AS disc_cap,
                   CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
                   round(l_extendedprice, 1) AS price_1dp,
                   CAST(CAST(ln(l_extendedprice) AS DECIMAL(28,8)) AS DOUBLE) AS ln_price,
                   fmod(l_extendedprice, 97.0) AS price_mod
            FROM lineitem
        """,
        "win_distribution_functions": """
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume,
                   first_value(c_acctbal) OVER wf AS seg_max_bal,
                   last_value(c_acctbal) OVER wf AS seg_min_bal
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey),
                   wf AS (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            """,
        "json_from_json_struct": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        """,
        "join_range_bucketed": """
            WITH o AS (
              SELECT o_orderkey, o_custkey,
                     DATE '2024-01-01'
                     + CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) % 28 AS INT) AS od
              FROM orders
            )
            SELECT o.o_orderkey, o.o_custkey,
                   CAST(o.od AS VARCHAR) AS od,
                   e.event_id,
                   CAST(CAST(e.ts AS DATE) AS VARCHAR) AS ed,
                   e.event_type
            FROM o
            JOIN events e
              ON e.user_id = o.o_custkey
             AND abs(CAST(e.ts AS DATE) - o.od) <= 2
        """,
        "json_extract_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        """,
        "json_props_agg": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(CAST(json_extract_string(props, '$.k') AS INT)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS sum_k,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
            FROM events GROUP BY 1
        """,
        "agg_quantile_rollup_hist": """
            WITH h AS (
              SELECT event_type,
                     CAST(greatest(0, least(19, floor((value - 0.0) / 25.0)))
                          AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ), b AS (
              SELECT event_type, bin, n,
                     sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum
              FROM h
            ), t AS (
              SELECT event_type, CAST(sum(n) AS BIGINT) AS total
              FROM h GROUP BY 1
            ), tg AS (
              SELECT event_type, CAST(q AS DOUBLE) AS q,
                     CAST(q AS DOUBLE) * CAST(total AS DOUBLE) AS target
              FROM t, (VALUES (0.5), (0.9), (0.99)) AS qv(q)
            )
            SELECT tg.event_type, tg.q,
                   0.0 + CAST(bin AS DOUBLE) * 25.0
                       + (target - CAST(cum - n AS DOUBLE))
                         / CAST(n AS DOUBLE) * 25.0 AS value_q
            FROM tg JOIN b ON tg.event_type = b.event_type
            WHERE CAST(cum AS DOUBLE) >= target
              AND CAST(cum - n AS DOUBLE) < target
        """,
        "agg_rolling_quantile_hist": """
            WITH h AS (
              SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                              '%Y-%m-%d') AS day,
                     CAST(greatest(0, least(19, floor((value - 0.0) / 25.0)))
                          AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ), grid AS (
              SELECT d.day, b.bin
              FROM (SELECT DISTINCT day FROM h) d
              CROSS JOIN (SELECT DISTINCT bin FROM h) b
            ), dense AS (
              SELECT grid.day, grid.bin, COALESCE(h.n, 0) AS n,
                     date_diff('day', DATE '1970-01-01',
                               CAST(grid.day AS DATE)) AS di
              FROM grid LEFT JOIN h ON h.day = grid.day AND h.bin = grid.bin
            ), rolled AS (
              SELECT day, bin,
                     CAST(sum(n) OVER (PARTITION BY bin ORDER BY di
                       RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS n
              FROM dense
            ), b AS (
              SELECT day, bin, n,
                     sum(n) OVER (PARTITION BY day ORDER BY bin) AS cum
              FROM rolled
            ), t AS (
              SELECT day, CAST(sum(n) AS BIGINT) AS total
              FROM rolled GROUP BY 1
            ), tg AS (
              SELECT day, CAST(q AS DOUBLE) AS q,
                     CAST(q AS DOUBLE) * CAST(total AS DOUBLE) AS target
              FROM t, (VALUES (0.5), (0.9)) AS qv(q)
            )
            SELECT tg.day, tg.q,
                   0.0 + CAST(bin AS DOUBLE) * 25.0
                       + (target - CAST(cum - n AS DOUBLE))
                         / CAST(n AS DOUBLE) * 25.0 AS value_q
            FROM tg JOIN b ON tg.day = b.day
            WHERE CAST(cum AS DOUBLE) >= target
              AND CAST(cum - n AS DOUBLE) < target
        """,
        "agg_contribution_analysis": """
            WITH agg AS (
              SELECT o_orderpriority AS dim_value,
                     CAST(sum(CAST(CASE WHEN substr(CAST(o_orderdate AS VARCHAR), 1, 4) = '1999'
                              THEN o_totalprice ELSE 0.0 END
                              AS DECIMAL(18,6))) AS DOUBLE) AS base_total,
                     CAST(sum(CAST(CASE WHEN substr(CAST(o_orderdate AS VARCHAR), 1, 4) = '2000'
                              THEN o_totalprice ELSE 0.0 END
                              AS DECIMAL(18,6))) AS DOUBLE) AS comp_total
              FROM orders
              WHERE substr(CAST(o_orderdate AS VARCHAR), 1, 4) IN ('1999', '2000')
              GROUP BY 1
            ), d AS (
              SELECT *, comp_total - base_total AS delta FROM agg
            ), t AS (
              SELECT CAST(sum(CAST(delta AS DECIMAL(28,6))) AS DOUBLE)
                       AS total_delta
              FROM d
            )
            SELECT dim_value, base_total, comp_total, delta,
                   CASE WHEN total_delta <> 0.0
                        THEN delta / total_delta END AS delta_share,
                   CAST(row_number() OVER (ORDER BY abs(delta) DESC,
                                           dim_value) AS INT)
                     AS contribution_rank
            FROM d, t
        """,
        "agg_product_type_profit": """
            SELECT n_name AS nation,
                   substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS o_year,
                   CAST(sum(CAST(
                     l_extendedprice * (1.0 - l_discount)
                     - 0.6 * p_retailprice * l_quantity
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
                     AND p_name LIKE '%red%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """,
        "agg_min_cost_supplier": """
            WITH cost AS (
              SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                     min(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem GROUP BY 1, 2
            ), offers AS (
              SELECT c.partkey, p_brand, s_name, n_name AS nation,
                     unit_cost
              FROM cost c
              JOIN part ON c.partkey = p_partkey AND p_size = 5
              JOIN supplier ON c.suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
                         AND r_name = 'EUROPE'
            )
            SELECT partkey AS p_partkey, p_brand, s_name, nation, unit_cost
            FROM (
              SELECT *, min(unit_cost) OVER (PARTITION BY partkey) AS mc
              FROM offers
            ) WHERE unit_cost = mc
        """,
        "agg_promotion_suppliers": """
            SELECT s_suppkey, s_name, n_name AS nation
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              JOIN part ON l_partkey = p_partkey
                       AND p_name LIKE '%red%'
              WHERE substr(CAST(l_shipdate AS VARCHAR), 1, 4) = '1999'
              GROUP BY l_suppkey, l_partkey
              HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                     > 60.0
            )
        """,
        "agg_exact_quantiles": """
            SELECT event_type,
                   quantile_cont(value, 0.25) AS p25,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.75) AS p75
            FROM events WHERE value IS NOT NULL
            GROUP BY 1
        """,
        "ml_demand_features": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2
            ), feat AS (
              SELECT *, lag(n, 1) OVER w AS n_lag_1, lag(n, 7) OVER w AS n_lag_7,
                     CAST(sum(CAST(n AS DECIMAL(18,6))) OVER wf AS DOUBLE) AS s1,
                     CAST(sum(CAST(n AS DECIMAL(18,6)) * CAST(n AS DECIMAL(18,6))) OVER wf AS DOUBLE) AS s2,
                     count(n) OVER wf AS cnt
              FROM dc
              WINDOW w AS (PARTITION BY event_type ORDER BY d),
                     wf AS (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n, sum_value,
                   n_lag_1, n_lag_7,
                   s1 / cnt AS avg_7r,
                   CASE WHEN cnt > 1 THEN sqrt(greatest((s2 - s1*s1/cnt) / (cnt-1), 0.0)) END AS std_7r,
                   CAST(cnt AS BIGINT) AS cnt_7r,
                   CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
                   CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
                   CASE WHEN s1 / cnt IS NOT NULL AND n > (s1 / cnt) * 1.5
                        THEN 1 ELSE 0 END AS is_spike
            FROM feat
        """,
        "ml_churn_features": """
            WITH base AS (
              SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
              FROM orders
            ), lab AS (
              SELECT *, lead(od, 1) OVER w AS next_date,
                     CAST(lead(od, 1) OVER w - od AS INT) AS days_to_next,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER wf AS DOUBLE) AS s1,
                     count(o_totalprice) OVER wf AS cnt
              FROM base
              WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey),
                     wf AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
                            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
            )
            SELECT o_orderkey, o_custkey, CAST(od AS VARCHAR) AS od, o_totalprice,
                   days_to_next,
                   CASE WHEN days_to_next IS NULL OR days_to_next > 30
                        THEN 1 ELSE 0 END AS will_churn,
                   s1 / cnt AS avg_3o,
                   CAST(cnt AS BIGINT) AS cnt_3o
            FROM lab
        """,
        "ml_score_pandas_udf": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), feat AS (
              SELECT *, lag(n, 1) OVER w AS n_lag_1, lag(n, 7) OVER w AS n_lag_7,
                     CAST(sum(CAST(n AS DECIMAL(18,6))) OVER wf AS DOUBLE) AS s1,
                     count(n) OVER wf AS cnt
              FROM dc
              WINDOW w AS (PARTITION BY event_type ORDER BY d),
                     wf AS (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n,
                   round(0.5 * COALESCE(CAST(n_lag_1 AS DOUBLE), 0)
                         + 0.3 * COALESCE(CAST(n_lag_7 AS DOUBLE), 0)
                         + 0.2 * COALESCE(s1 / cnt, 0.0)
                         + 1.0, 3) AS predicted_demand
            FROM feat
        """,
        "metrics_calibration": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), feat AS (
              SELECT *, lag(n, 1) OVER w AS n_lag_1,
                     lag(n, 7) OVER w AS n_lag_7,
                     CAST(sum(CAST(n AS DECIMAL(18,6))) OVER wf AS DOUBLE)
                       AS s1,
                     count(n) OVER wf AS cnt
              FROM dc
              WINDOW w AS (PARTITION BY event_type ORDER BY d),
                     wf AS (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ), scored AS (
              SELECT n,
                     round(0.5 * COALESCE(CAST(n_lag_1 AS DOUBLE), 0)
                           + 0.3 * COALESCE(CAST(n_lag_7 AS DOUBLE), 0)
                           + 0.2 * COALESCE(s1 / cnt, 0.0)
                           + 1.0, 3) AS predicted_demand
              FROM feat
            ), bucketed AS (
              SELECT CASE WHEN predicted_demand IS NULL THEN -1
                          WHEN predicted_demand < 20.0 THEN 0
                          WHEN predicted_demand < 40.0 THEN 1
                          WHEN predicted_demand < 60.0 THEN 2
                          WHEN predicted_demand < 80.0 THEN 3
                          ELSE 4 END AS bucket,
                     predicted_demand, n
              FROM scored
              WHERE predicted_demand IS NOT NULL AND n IS NOT NULL
            )
            SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(predicted_demand AS DECIMAL(18,6)))
                        AS DOUBLE) / count(*) AS avg_pred,
                   CAST(sum(CAST(CAST(n AS DOUBLE) AS DECIMAL(18,6)))
                        AS DOUBLE) / count(*) AS avg_actual,
                   CAST(sum(CAST(predicted_demand AS DECIMAL(18,6)))
                        AS DOUBLE) / count(*)
                   - CAST(sum(CAST(CAST(n AS DOUBLE) AS DECIMAL(18,6)))
                          AS DOUBLE) / count(*) AS bias
            FROM bucketed GROUP BY 1
        """,
        "ml_score_expression": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), feat AS (
              SELECT *, lag(n, 1) OVER w AS n_lag_1, lag(n, 7) OVER w AS n_lag_7,
                     CAST(sum(CAST(n AS DECIMAL(18,6))) OVER wf AS DOUBLE) AS s1,
                     count(n) OVER wf AS cnt
              FROM dc
              WINDOW w AS (PARTITION BY event_type ORDER BY d),
                     wf AS (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n,
                   round(0.5 * COALESCE(CAST(n_lag_1 AS DOUBLE), 0)
                         + 0.3 * COALESCE(CAST(n_lag_7 AS DOUBLE), 0)
                         + 0.2 * COALESCE(s1 / cnt, 0.0)
                         + 1.0, 3) AS predicted_demand
            FROM feat
        """,
        "ml_score_surge": """
            WITH dc AS (
              SELECT CAST(ts AS DATE) AS d, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), feat AS (
              SELECT *, CAST(sum(CAST(n AS DECIMAL(18,6))) OVER wf AS DOUBLE) AS s1,
                     count(n) OVER wf AS cnt
              FROM dc
              WINDOW wf AS (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            )
            SELECT CAST(d AS VARCHAR) AS d, event_type, n,
                   round(least(greatest(
                     1.0
                     + COALESCE(CAST(n AS DOUBLE) / nullif(s1 / cnt, 0.0), 1.0) * 0.25
                     + CASE WHEN dayofweek(d) IN (0, 6) THEN 1.0 ELSE 0.0 END * 0.1,
                     1.0), 3.0), 3) AS predicted_surge
            FROM feat
        """,
        "serve_demand_batch": """
            WITH req(hour, day_of_week, is_weekend, n_lag_1, n_lag_7, avg_7r) AS (
              VALUES (10, 2, 0, CAST(4.0 AS DOUBLE), CAST(6.0 AS DOUBLE), CAST(5.0 AS DOUBLE)),
                     (22, 6, 1, NULL, CAST(2.0 AS DOUBLE), CAST(1.5 AS DOUBLE)),
                     (7, 1, 0, CAST(12.5 AS DOUBLE), CAST(8.1 AS DOUBLE), CAST(9.3 AS DOUBLE)),
                     (18, 5, 1, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                     (3, 3, 0, CAST(100.2 AS DOUBLE), CAST(90.4 AS DOUBLE), CAST(95.6 AS DOUBLE))
            )
            SELECT 'drv-1' AS request_id,
                   CAST(hour AS INT) AS hour,
                   CAST(day_of_week AS INT) AS day_of_week,
                   CAST(is_weekend AS INT) AS is_weekend,
                   n_lag_1, n_lag_7, avg_7r,
                   round(0.5 * COALESCE(n_lag_1, 0.0)
                         + 0.3 * COALESCE(n_lag_7, 0.0)
                         + 0.2 * COALESCE(avg_7r, 0.0)
                         + 1.0, 2) AS predicted,
                   'fallback' AS model_used
            FROM req
        """,
        "stream_tumbling_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
                   event_type,
                   CAST(count(*) AS BIGINT) AS event_count,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "stream_sliding_counts": """
            WITH panes AS (
              SELECT event_type,
                     unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                             time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                               - INTERVAL '30 minutes']) AS win_start
              FROM events
            )
            SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
                   strftime(win_start + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS win_end,
                   event_type,
                   CAST(count(*) AS BIGINT) AS event_count
            FROM panes
            GROUP BY 1, 2, 3
        """,
        "stream_sessionize": """
            WITH o AS (
              SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                     lag(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
            ), flagged AS (
              SELECT *, CASE WHEN prev_ts IS NULL
                               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
                             ELSE 0 END AS is_new
              FROM o
            ), sess AS (
              SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
              FROM flagged
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   CAST(count(*) AS BIGINT) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
            FROM sess GROUP BY 1, 2
        """,
        "stream_dedup": """
            SELECT event_id,
                   strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
                   user_id, event_type, value
            FROM (
              SELECT *, row_number() OVER (PARTITION BY event_id
                                           ORDER BY CAST(ts AS TIMESTAMP), user_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "mm_extract_features": """
            SELECT doc_id AS media_id,
                   'text' AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS payload_sha256,
                   CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) / 255.0 AS feat_0,
                   CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) / 255.0 AS feat_1,
                   CAST(('0x' || substr(sha256(text), 5, 2)) AS INT) / 255.0 AS feat_2,
                   CAST(('0x' || substr(sha256(text), 7, 2)) AS INT) / 255.0 AS feat_3
            FROM documents
        """,
        "mm_media_metadata": """
            SELECT doc_id AS media_id,
                   'text' AS kind,
                   'text/plain' AS mime,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   sha256(text) AS payload_sha256
            FROM documents
        """,
        "mm_sample_frames": """
            -- byte == char here (documents are ASCII; the verify suite
            -- asserts octet_length(encode(text)) = length(text))
            WITH media AS (
              SELECT doc_id AS media_id, text AS payload FROM documents
            ), f AS (
              SELECT media_id, CAST(i AS INT) AS frame_idx,
                     CAST((i * greatest(length(payload) - 16, 0)) // 3
                          AS BIGINT) AS frame_offset,
                     substring(payload,
                               CAST((i * greatest(length(payload) - 16, 0))
                                    // 3 + 1 AS BIGINT),
                               CAST(16 AS BIGINT)) AS frame
              FROM media, (SELECT unnest(range(4)) AS i) r
            )
            SELECT media_id, frame_idx, frame_offset,
                   CAST(length(frame) AS BIGINT) AS n_frame_bytes,
                   sha256(frame) AS frame_sha256
            FROM f
        """,
        "mm_resize_meta": """
            SELECT doc_id AS media_id, 'text' AS kind,
                   CAST(length(text) AS BIGINT) AS n_bytes_in,
                   CAST(least(length(text), 32) AS BIGINT) AS n_bytes_out,
                   sha256(substring(text, 1, 32)) AS resized_sha256
            FROM documents
        """,
        "quality_robust_outliers_hist": """
            WITH nn AS (
              SELECT event_type, value FROM events WHERE value IS NOT NULL
            ), h1 AS (
              SELECT event_type,
                     CAST(greatest(0, least(39, floor(value / 12.5)))
                          AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n
              FROM nn GROUP BY 1, 2
            ), b1 AS (
              SELECT event_type, bin, n,
                     sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum
              FROM h1
            ), t1 AS (
              SELECT event_type, CAST(sum(n) AS BIGINT) AS total
              FROM h1 GROUP BY 1
            ), med AS (
              SELECT t1.event_type,
                     0.0 + CAST(bin AS DOUBLE) * 12.5
                         + (0.5 * CAST(total AS DOUBLE)
                            - CAST(cum - n AS DOUBLE))
                           / CAST(n AS DOUBLE) * 12.5 AS median
              FROM t1 JOIN b1 ON t1.event_type = b1.event_type
              WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE)
                AND CAST(cum - n AS DOUBLE) < 0.5 * CAST(total AS DOUBLE)
            ), devs AS (
              SELECT nn.event_type, nn.value, med.median,
                     abs(nn.value - med.median) AS adev
              FROM nn JOIN med ON nn.event_type = med.event_type
            ), h2 AS (
              SELECT event_type,
                     CAST(greatest(0, least(39, floor(adev / 12.5)))
                          AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n
              FROM devs GROUP BY 1, 2
            ), b2 AS (
              SELECT event_type, bin, n,
                     sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum
              FROM h2
            ), t2 AS (
              SELECT event_type, CAST(sum(n) AS BIGINT) AS total
              FROM h2 GROUP BY 1
            ), madt AS (
              SELECT t2.event_type,
                     0.0 + CAST(bin AS DOUBLE) * 12.5
                         + (0.5 * CAST(total AS DOUBLE)
                            - CAST(cum - n AS DOUBLE))
                           / CAST(n AS DOUBLE) * 12.5 AS mad
              FROM t2 JOIN b2 ON t2.event_type = b2.event_type
              WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE)
                AND CAST(cum - n AS DOUBLE) < 0.5 * CAST(total AS DOUBLE)
            )
            SELECT d.event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   min(d.median) AS median,
                   min(m.mad) AS mad,
                   CAST(sum(CASE WHEN m.mad > 0
                                  AND 0.6745 * d.adev / m.mad > 3.5
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM devs d JOIN madt m ON d.event_type = m.event_type
            GROUP BY 1
        """,
        "quality_k_anonymity": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM customer GROUP BY 1, 2
            HAVING count(*) < 10
        """,
        "quality_expectations": """
            WITH scan AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN o_custkey IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
                     CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                              AND NOT (o_totalprice BETWEEN 0 AND 200000)
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_rng,
                     CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('O', 'F', 'P')
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
                     CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority,
                                                     '^[1-5]-')
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_re
              FROM orders
            ), uniq AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS v
              FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
            ), ri AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN c.c_custkey IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS v
              FROM orders o LEFT JOIN customer c
                ON o.o_custkey = c.c_custkey
              WHERE o.o_custkey IS NOT NULL
            )
            SELECT 'custkey_not_null' AS rule, 'not_null' AS kind,
                   n AS n_checked, v_nn AS n_violations,
                   v_nn = 0 AS passed FROM scan
            UNION ALL
            SELECT 'totalprice_0_200k', 'in_range', n, v_rng,
                   v_rng = 0 FROM scan
            UNION ALL
            SELECT 'status_known', 'in_set', n, v_set, v_set = 0 FROM scan
            UNION ALL
            SELECT 'priority_format', 'regex', n, v_re, v_re = 0 FROM scan
            UNION ALL
            SELECT 'orderkey_unique', 'unique', n, v, v = 0 FROM uniq
            UNION ALL
            SELECT 'custkey_in_customer', 'ref_integrity', n, v,
                   v = 0 FROM ri
        """,
        "drift_missing_rate_shift": """
            WITH base AS (
              SELECT CASE WHEN event_type LIKE 'error%' THEN NULL ELSE value END AS value, props
              FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-15'
            ), cur AS (
              SELECT CASE WHEN event_type LIKE 'error%' THEN NULL ELSE value END AS value, props
              FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
            ), br AS (
              SELECT 'value' AS "column",
                     CAST(count(*) FILTER (WHERE value IS NULL) AS DOUBLE) / count(*) AS baseline_rate
              FROM base
              UNION ALL
              SELECT 'props', CAST(count(*) FILTER (WHERE props IS NULL) AS DOUBLE) / count(*)
              FROM base
            ), cr AS (
              SELECT 'value' AS "column",
                     CAST(count(*) FILTER (WHERE value IS NULL) AS DOUBLE) / count(*) AS current_rate
              FROM cur
              UNION ALL
              SELECT 'props', CAST(count(*) FILTER (WHERE props IS NULL) AS DOUBLE) / count(*)
              FROM cur
            )
            SELECT br."column" AS "column", baseline_rate, current_rate,
                   abs(current_rate - baseline_rate) AS shift
            FROM br JOIN cr USING ("column")
        """,
        "behavior_funnel": """
            WITH e AS (SELECT user_id, ts, event_type FROM events),
            t0 AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN ts END) AS t0
              FROM e GROUP BY user_id
            ), t1 AS (
              SELECT e.user_id,
                     min(CASE WHEN e.event_type = 'click' AND e.ts >= t0.t0
                              THEN e.ts END) AS t1
              FROM e JOIN t0 USING (user_id) GROUP BY e.user_id
            ), t2 AS (
              SELECT e.user_id,
                     min(CASE WHEN e.event_type = 'purchase' AND e.ts >= t1.t1
                              THEN e.ts END) AS t2
              FROM e JOIN t1 USING (user_id) GROUP BY e.user_id
            ), u AS (
              SELECT t0.user_id, t0.t0, t1.t1, t2.t2
              FROM t0 JOIN t1 USING (user_id) JOIN t2 USING (user_id)
            ), c AS (
              SELECT count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n0,
                     count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n1,
                     count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS n2
              FROM u
            )
            SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage,
                   CAST(n0 AS BIGINT) AS users,
                   CASE WHEN n0 > 0 THEN 100.0 * n0 / n0 END AS pct_of_first
            FROM c
            UNION ALL
            SELECT CAST(1 AS INT), 'click', CAST(n1 AS BIGINT),
                   CASE WHEN n0 > 0 THEN 100.0 * n1 / n0 END FROM c
            UNION ALL
            SELECT CAST(2 AS INT), 'purchase', CAST(n2 AS BIGINT),
                   CASE WHEN n0 > 0 THEN 100.0 * n2 / n0 END FROM c
        """,
        "behavior_cohort_retention": """
            WITH activity AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS am
              FROM events
            ), first AS (
              SELECT user_id, min(am) AS cm FROM activity GROUP BY user_id
            ), per AS (
              SELECT f.cm,
                     datediff('day', f.cm, a.am) // 7 AS period_offset
              FROM activity a JOIN first f USING (user_id)
            ), counts AS (
              SELECT cm, period_offset, CAST(count(*) AS BIGINT) AS n_users
              FROM per GROUP BY 1, 2
            ), sized AS (
              SELECT cm, period_offset, n_users,
                     max(CASE WHEN period_offset = 0 THEN n_users END)
                       OVER (PARTITION BY cm) AS cohort_size
              FROM counts
            )
            SELECT strftime(cm, '%Y-%m-%d') AS cohort_period,
                   CAST(period_offset AS INT) AS period_offset,
                   n_users,
                   CAST(cohort_size AS BIGINT) AS cohort_size,
                   100.0 * n_users / cohort_size AS retention_pct
            FROM sized
        """,
        "behavior_rfm_hist": """
            WITH maxd AS (SELECT max(o_orderdate) AS a FROM orders),
            per AS (
              SELECT o_custkey,
                     CAST(date_diff('day', max(o_orderdate),
                                    (SELECT a FROM maxd)) AS DOUBLE) AS r,
                     CAST(count(*) AS BIGINT) AS f,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                          AS DOUBLE) AS m
              FROM orders GROUP BY 1
            ),
            rh AS (
              SELECT CAST(greatest(0, least(39, floor((r - 0.0) / 100.0)))
                          AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n
              FROM per GROUP BY 1
            ), rb AS (
              SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum,
                     (SELECT sum(n) FROM rh) AS total
              FROM rh
            ), rq AS (
              SELECT 0.0 + CAST(bin AS DOUBLE) * 100.0
                       + (CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
                          - CAST(cum - n AS DOUBLE))
                         / CAST(n AS DOUBLE) * 100.0 AS value_q
              FROM rb, (VALUES (0.25), (0.5), (0.75)) AS qv(q)
              WHERE CAST(cum AS DOUBLE) >= CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
                AND CAST(cum - n AS DOUBLE) < CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
            ),
            fh AS (
              SELECT CAST(greatest(0, least(39, floor((f - 0.0) / 2.5)))
                          AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n
              FROM per GROUP BY 1
            ), fb AS (
              SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum,
                     (SELECT sum(n) FROM fh) AS total
              FROM fh
            ), fq AS (
              SELECT 0.0 + CAST(bin AS DOUBLE) * 2.5
                       + (CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
                          - CAST(cum - n AS DOUBLE))
                         / CAST(n AS DOUBLE) * 2.5 AS value_q
              FROM fb, (VALUES (0.25), (0.5), (0.75)) AS qv(q)
              WHERE CAST(cum AS DOUBLE) >= CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
                AND CAST(cum - n AS DOUBLE) < CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
            ),
            mh AS (
              SELECT CAST(greatest(0, least(39, floor((m - 0.0) / 250000.0)))
                          AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n
              FROM per GROUP BY 1
            ), mb AS (
              SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum,
                     (SELECT sum(n) FROM mh) AS total
              FROM mh
            ), mq AS (
              SELECT 0.0 + CAST(bin AS DOUBLE) * 250000.0
                       + (CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
                          - CAST(cum - n AS DOUBLE))
                         / CAST(n AS DOUBLE) * 250000.0 AS value_q
              FROM mb, (VALUES (0.25), (0.5), (0.75)) AS qv(q)
              WHERE CAST(cum AS DOUBLE) >= CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
                AND CAST(cum - n AS DOUBLE) < CAST(q AS DOUBLE) * CAST(total AS DOUBLE)
            )
            SELECT o_custkey AS custkey,
                   CAST(r AS BIGINT) AS recency_days, f AS frequency,
                   m AS monetary,
                   CAST(1 + (SELECT count(*) FROM rq WHERE value_q > per.r)
                        AS INT) AS r_score,
                   CAST(1 + (SELECT count(*) FROM fq
                             WHERE value_q < CAST(per.f AS DOUBLE))
                        AS INT) AS f_score,
                   CAST(1 + (SELECT count(*) FROM mq WHERE value_q < per.m)
                        AS INT) AS m_score,
                   CAST(1 + (SELECT count(*) FROM rq WHERE value_q > per.r)
                        AS VARCHAR)
                   || CAST(1 + (SELECT count(*) FROM fq
                                WHERE value_q < CAST(per.f AS DOUBLE))
                           AS VARCHAR)
                   || CAST(1 + (SELECT count(*) FROM mq WHERE value_q < per.m)
                           AS VARCHAR) AS segment
            FROM per
        """,
        "behavior_rfm_scores": """
            WITH refdate AS (
              SELECT max(CAST(o_orderdate AS DATE)) AS a FROM orders
            ), per AS (
              SELECT o_custkey AS custkey,
                     max(CAST(o_orderdate AS DATE)) AS lod,
                     CAST(count(*) AS BIGINT) AS frequency,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                       AS monetary
              FROM orders GROUP BY o_custkey
            ), r AS (
              SELECT custkey,
                     CAST(datediff('day', lod, (SELECT a FROM refdate)) AS INT)
                       AS recency_days,
                     frequency, monetary
              FROM per
            ), s AS (
              SELECT custkey, recency_days, frequency, monetary,
                     CAST(ntile(4) OVER (ORDER BY recency_days DESC, custkey ASC)
                          AS INT) AS r_score,
                     CAST(ntile(4) OVER (ORDER BY frequency ASC, custkey ASC)
                          AS INT) AS f_score,
                     CAST(ntile(4) OVER (ORDER BY monetary ASC, custkey ASC)
                          AS INT) AS m_score
              FROM r
            )
            SELECT custkey, recency_days, frequency, monetary,
                   r_score, f_score, m_score,
                   CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                     || CAST(m_score AS VARCHAR) AS segment
            FROM s
        """,
        "link_fuzzy_pairs": """
            WITH t AS (
              SELECT p_partkey AS id, p_name AS name,
                     regexp_extract(p_name, '(\\S+)$', 1) AS blk
              FROM part
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   a.name AS name_a, b.name AS name_b,
                   CAST(levenshtein(a.name, b.name) AS INT) AS edit_distance,
                   1.0 - CAST(levenshtein(a.name, b.name) AS DOUBLE)
                         / greatest(length(a.name), length(b.name)) AS similarity
            FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
            WHERE levenshtein(a.name, b.name) <= 2
        """,
        "agg_distinct_rollup_exact": """
            SELECT strftime(ts, '%Y-%m') AS month,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1
        """,
        "agg_rolling_distinct_exact": """
            WITH activity AS (
              SELECT DISTINCT user_id AS k, date_trunc('day', ts) AS d
              FROM events
            ), days AS (
              SELECT DISTINCT d AS day FROM activity
            )
            SELECT strftime(day, '%Y-%m-%d') AS day,
                   CAST(count(DISTINCT k) AS BIGINT) AS n_users
            FROM days JOIN activity
              ON d <= day AND d > day - INTERVAL 7 DAY
            GROUP BY 1
        """,
        "stream_static_enrich": """
            SELECT c.c_mktsegment, e.event_type,
                   CAST(count(*) AS BIGINT) AS event_count,
                   CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                     AS sum_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
        "stream_stream_conversions": """
            WITH v AS (
              SELECT user_id, event_id AS view_id,
                     CAST(ts AS TIMESTAMP) AS view_ts
              FROM events WHERE event_type = 'view'
            ), p AS (
              SELECT user_id, event_id AS purchase_id,
                     CAST(ts AS TIMESTAMP) AS purchase_ts,
                     value AS purchase_value
              FROM events WHERE event_type = 'purchase'
            )
            SELECT v.user_id, view_id, purchase_id,
                   strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
                   strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
                   CAST(epoch_us(purchase_ts) - epoch_us(view_ts) AS BIGINT)
                     AS lag_us,
                   purchase_value
            FROM v JOIN p ON v.user_id = p.user_id
                 AND purchase_ts >= view_ts
                 AND purchase_ts < view_ts + INTERVAL 60 MINUTES
        """,
        "ts_resample_ffill": """
            WITH agg AS (
              SELECT event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT event_type, min(h) AS mn, max(h) AS mx
              FROM agg GROUP BY 1
            ), grid AS (
              SELECT event_type,
                     unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
              FROM bounds
            ), j AS (
              SELECT g.event_type, g.h, a.n_events, a.sum_value
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.h = a.h
            )
            SELECT event_type,
                   strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
                   COALESCE(n_events, 0) AS n_events,
                   last_value(sum_value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS sum_value_ffill,
                   CAST(n_events IS NULL AS INT) AS is_gap
            FROM j
        """,
        "ts_resample_interpolate": """
            WITH agg AS (
              SELECT event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT event_type, min(h) AS mn, max(h) AS mx
              FROM agg GROUP BY 1
            ), grid AS (
              SELECT event_type,
                     unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
              FROM bounds
            ), j AS (
              SELECT g.event_type, g.h, a.n_events, a.sum_value
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.h = a.h
            ), base AS (
              SELECT event_type, h,
                     COALESCE(n_events, 0) AS n_events,
                     CAST(n_events IS NULL AS INT) AS is_gap,
                     last_value(sum_value IGNORE NULLS) OVER wp AS ff,
                     row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS idx
              FROM j
              WINDOW wp AS (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), ext AS (
              SELECT *,
                     last_value(CASE WHEN is_gap = 0 THEN ff END IGNORE NULLS)
                       OVER wp AS prev_v,
                     last_value(CASE WHEN is_gap = 0 THEN idx END IGNORE NULLS)
                       OVER wp AS prev_i,
                     first_value(CASE WHEN is_gap = 0 THEN ff END IGNORE NULLS)
                       OVER wn AS next_v,
                     first_value(CASE WHEN is_gap = 0 THEN idx END IGNORE NULLS)
                       OVER wn AS next_i
              FROM base
              WINDOW wp AS (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wn AS (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_type,
                   strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
                   n_events,
                   CASE WHEN is_gap = 0 THEN ff
                        WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                          THEN prev_v + (next_v - prev_v) * (idx - prev_i)
                               / (next_i - prev_i)
                        ELSE COALESCE(prev_v, next_v) END AS sum_value_interp,
                   is_gap
            FROM ext
        """,
        "text_bpe_learn": _bpe_learn_oracle(8),
        "text_bpe_encode": """
            -- greedy left-to-right BPE merge == sequential global
            -- string replace over a DOUBLE-space-joined symbol string
            -- (double spacing keeps symbol boundaries exact and lets
            -- consecutive merges rematch, matching the Spark fold)
            WITH occ AS (
              SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n_occ
              FROM (
                SELECT doc_id,
                       unnest(string_split(
                         regexp_replace(lower(trim(text)), ' +', ' ', 'g'),
                         ' ')) AS word
                FROM documents
              ) WHERE word <> '' GROUP BY 1, 2
            ), vocab AS (
              SELECT DISTINCT word FROM occ
            ), seg AS (
              SELECT word,
                replace(replace(replace(replace(
                  ' ' || array_to_string(string_split(word, ''), '  ')
                      || '  ▁ ',
                  ' t  a ', ' ta '),
                  ' ta  b ', ' tab '),
                  ' l  e ', ' le '),
                  ' e  ▁ ', ' e▁ ') AS s
              FROM vocab
            ), toks AS (
              SELECT word,
                     CAST(len(string_split(trim(s), '  ')) AS BIGINT)
                       AS n_tokens
              FROM seg
            )
            SELECT o.doc_id,
                   CAST(sum(o.n_occ) AS BIGINT) AS n_words,
                   CAST(sum(o.n_occ * t.n_tokens) AS BIGINT)
                     AS n_bpe_tokens,
                   CAST(sum(o.n_occ * t.n_tokens) AS DOUBLE)
                     / sum(o.n_occ) AS avg_tokens_per_word
            FROM occ o JOIN toks t USING (word)
            GROUP BY 1
        """,
        "ts_cusum_alarms": """
            WITH observed AS (
              SELECT event_type AS series,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                       AS d,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), grid AS (
              SELECT series,
                     unnest(generate_series(min(d), max(d),
                                            INTERVAL 1 DAY)) AS d
              FROM observed GROUP BY series
            ), daily AS (
              SELECT g.series, strftime(CAST(g.d AS DATE), '%Y-%m-%d') AS day,
                     COALESCE(o.n, 0) AS n
              FROM grid g LEFT JOIN observed o
                ON g.series = o.series AND CAST(g.d AS DATE) = o.d
            ), stats AS (
              SELECT series,
                     CAST(sum(n) AS DOUBLE) / count(*) AS mean_n,
                     sqrt(greatest(
                       (sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                        - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE))
                       / CAST(count(*) AS DOUBLE), 0.0)) AS sd_n
              FROM daily GROUP BY 1
            ), scored AS (
              SELECT d.series, d.day, d.n,
                     CASE WHEN s.sd_n > 0
                          THEN (d.n - s.mean_n) / s.sd_n
                          ELSE 0.0 END AS z
              FROM daily d JOIN stats s ON d.series = s.series
            ), walks AS (
              SELECT series, day, n, z,
                     sum(z - 0.5) OVER w AS a_hi,
                     sum(z + 0.5) OVER w AS a_lo
              FROM scored
              WINDOW w AS (PARTITION BY series ORDER BY day
                           ROWS UNBOUNDED PRECEDING)
            ), reflected AS (
              SELECT series, day, n, z,
                     a_hi - least(min(a_hi) OVER w, 0.0) AS cusum_hi,
                     -(a_lo - greatest(max(a_lo) OVER w, 0.0)) AS cusum_lo
              FROM walks
              WINDOW w AS (PARTITION BY series ORDER BY day
                           ROWS UNBOUNDED PRECEDING)
            )
            SELECT series, day, n, z, cusum_hi, cusum_lo,
                   CAST(cusum_hi > 5.0 AS INT) AS alarm_hi,
                   CAST(cusum_lo > 5.0 AS INT) AS alarm_lo
            FROM reflected
        """,
        "ts_seasonal_anomaly": """
            WITH hourly AS (
              SELECT event_type AS series,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), profile AS (
              SELECT series, hour(hour_ts) AS hod,
                     CAST(count(*) AS BIGINT) AS n_obs,
                     CAST(sum(n) AS BIGINT) AS sum_n,
                     CAST(sum(n * n) AS BIGINT) AS sum_sq
              FROM hourly GROUP BY 1, 2
            ), joined AS (
              SELECT h.series,
                     strftime(h.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_s,
                     CAST(hour(h.hour_ts) AS INT) AS hod, h.n,
                     CAST(p.sum_n AS DOUBLE) / p.n_obs AS mean_n,
                     (CAST(p.sum_sq AS DOUBLE)
                      - CAST(p.sum_n AS DOUBLE) * CAST(p.sum_n AS DOUBLE)
                        / p.n_obs) / (p.n_obs - 1) AS var_n,
                     p.n_obs
              FROM hourly h JOIN profile p
                ON h.series = p.series AND hour(h.hour_ts) = p.hod
            )
            SELECT series, hour_s, hod, n, mean_n,
                   CASE WHEN n_obs > 1 AND var_n > 0
                        THEN (CAST(n AS DOUBLE) - mean_n) / sqrt(var_n)
                   END AS z,
                   coalesce(abs(CASE WHEN n_obs > 1 AND var_n > 0
                        THEN (CAST(n AS DOUBLE) - mean_n) / sqrt(var_n)
                   END) >= 2.0, FALSE) AS is_anomaly
            FROM joined
        """,
        "ts_gap_stats": """
            WITH agg AS (
              SELECT event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT event_type, min(h) AS mn, max(h) AS mx
              FROM agg GROUP BY 1
            ), grid AS (
              SELECT event_type,
                     unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
              FROM bounds
            ), filled AS (
              SELECT g.event_type, g.h,
                     CAST(a.n_events IS NULL AS INT) AS is_gap
              FROM grid g LEFT JOIN agg a
                ON g.event_type = a.event_type AND g.h = a.h
            ), rn AS (
              SELECT event_type, h, is_gap,
                     row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rnum
              FROM filled
            ), gaps AS (
              SELECT event_type,
                     rnum - row_number()
                       OVER (PARTITION BY event_type ORDER BY h) AS grp
              FROM rn WHERE is_gap = 1
            ), longest AS (
              SELECT event_type, max(len) AS longest FROM (
                SELECT event_type, grp, count(*) AS len
                FROM gaps GROUP BY 1, 2
              ) GROUP BY 1
            ), totals AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
                     CAST(sum(is_gap) AS BIGINT) AS n_gaps
              FROM filled GROUP BY 1
            )
            SELECT t.event_type, n_buckets, n_gaps,
                   CAST(COALESCE(longest, 0) AS BIGINT) AS longest_gap_run
            FROM totals t LEFT JOIN longest l ON t.event_type = l.event_type
        """,
        "win_ewma_demand": """
            WITH hourly AS (
              SELECT event_type,
                     strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                              '%Y-%m-%d %H:%M:%S') AS hour_ts,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), framed AS (
              SELECT event_type, hour_ts, n,
                     list(CAST(n AS DOUBLE)) OVER (
                       PARTITION BY event_type ORDER BY hour_ts
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
              FROM hourly
            )
            SELECT event_type, hour_ts, n,
                   list_sum(list_transform(arr,
                     (x, i) -> x * power(0.5, len(arr) - i)))
                   / (2.0 - power(0.5, len(arr) - 1)) AS ewma
            FROM framed
        """,
        "scale_table_checksum": """
            SELECT CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                               || 'ck'), 1, 8)) AS BIGINT) % 256 AS INT)
                     AS bucket,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(('0x' || substr(md5(
                       COALESCE(replace(replace(CAST(o_orderkey AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                       || COALESCE(replace(replace(CAST(o_custkey AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                       || COALESCE(replace(replace(CAST(o_orderstatus AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                       || COALESCE(replace(replace(CAST(o_orderpriority AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N')
                     ), 1, 8)) AS BIGINT)) % 4611686018427387904 AS BIGINT) AS checksum
            FROM orders GROUP BY 1
        """,
        "scale_checksum_diff": """
            WITH tampered AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 97 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     o_orderpriority
              FROM orders
            ), ca AS (
              SELECT CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                 || 'ck'), 1, 8)) AS BIGINT) % 256 AS INT)
                       AS bucket,
                     CAST(count(*) AS BIGINT) AS n_rows_a,
                     CAST(sum(CAST(('0x' || substr(md5(
                         COALESCE(replace(replace(CAST(o_orderkey AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                         || COALESCE(replace(replace(CAST(o_custkey AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                         || COALESCE(replace(replace(CAST(o_orderstatus AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                         || COALESCE(replace(replace(CAST(o_orderpriority AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N')
                       ), 1, 8)) AS BIGINT)) % 4611686018427387904 AS BIGINT) AS checksum_a
              FROM orders GROUP BY 1
            ), cb AS (
              SELECT CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                 || 'ck'), 1, 8)) AS BIGINT) % 256 AS INT)
                       AS bucket,
                     CAST(count(*) AS BIGINT) AS n_rows_b,
                     CAST(sum(CAST(('0x' || substr(md5(
                         COALESCE(replace(replace(CAST(o_orderkey AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                         || COALESCE(replace(replace(CAST(o_custkey AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                         || COALESCE(replace(replace(CAST(o_orderstatus AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
                         || COALESCE(replace(replace(CAST(o_orderpriority AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N')
                       ), 1, 8)) AS BIGINT)) % 4611686018427387904 AS BIGINT) AS checksum_b
              FROM tampered GROUP BY 1
            )
            SELECT COALESCE(ca.bucket, cb.bucket) AS bucket,
                   COALESCE(n_rows_a, 0) AS n_rows_a,
                   COALESCE(n_rows_b, 0) AS n_rows_b,
                   COALESCE(checksum_a, 0) AS checksum_a,
                   COALESCE(checksum_b, 0) AS checksum_b,
                   CASE WHEN COALESCE(n_rows_a, 0) <> COALESCE(n_rows_b, 0)
                        THEN 'count_mismatch'
                        ELSE 'checksum_mismatch' END AS status
            FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
            WHERE COALESCE(n_rows_a, 0) <> COALESCE(n_rows_b, 0)
               OR COALESCE(checksum_a, 0) <> COALESCE(checksum_b, 0)
        """,
        "scale_row_diff": """
            WITH b AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 97 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     o_orderpriority
              FROM orders WHERE o_orderkey % 131 <> 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                     o_orderpriority
              FROM orders WHERE o_orderkey % 149 = 0
            ), j AS (
              -- presence markers, not key-nullness: a row with a NULL
              -- key on side a must classify as 'removed' (it can never
              -- join), matching the operator's _in_a/_in_b markers
              SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                     CASE WHEN a.in_a IS NULL THEN 'added'
                          WHEN b.in_b IS NULL THEN 'removed'
                          ELSE 'changed' END AS status,
                     concat_ws(',',
                       CASE WHEN a.o_custkey IS DISTINCT FROM b.o_custkey
                            THEN 'o_custkey' END,
                       CASE WHEN a.o_orderpriority
                                 IS DISTINCT FROM b.o_orderpriority
                            THEN 'o_orderpriority' END,
                       CASE WHEN a.o_orderstatus
                                 IS DISTINCT FROM b.o_orderstatus
                            THEN 'o_orderstatus' END) AS cc
              FROM (SELECT *, 1 AS in_a FROM orders) a
              FULL OUTER JOIN (SELECT *, 1 AS in_b FROM b) b
                ON a.o_orderkey = b.o_orderkey
            )
            SELECT o_orderkey, status,
                   CASE WHEN status = 'changed' THEN cc ELSE '' END
                     AS changed_cols
            FROM j
            WHERE status <> 'changed' OR cc <> ''
        """,
        "join_point_in_time": """
            WITH m AS (
              SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            ch AS (SELECT user_id, event_type, ts, event_id FROM m
                   WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
            hist AS (
              SELECT user_id, event_type AS status,
                     CAST(row_number() OVER w2 AS INT) AS version,
                     ts AS valid_from,
                     lead(ts) OVER w2 AS valid_to
              FROM ch
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT e.event_id, e.user_id,
                   strftime(CAST(e.ts AS TIMESTAMP),
                            '%Y-%m-%d %H:%M:%S.%f') AS ts,
                   h.status, h.version
            FROM events e JOIN hist h ON e.user_id = h.user_id
                 AND e.ts >= h.valid_from
                 AND (h.valid_to IS NULL OR e.ts < h.valid_to)
        """,
        "sql_segment_ltv": _SEGMENT_LTV_SQL,
        "behavior_funnel_timing": """
            WITH t0 AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN ts END) AS t0
              FROM events GROUP BY 1
            ), t1 AS (
              SELECT e.user_id,
                     min(CASE WHEN e.event_type = 'click' AND e.ts >= t0.t0
                              THEN e.ts END) AS t1
              FROM events e JOIN t0 USING (user_id) GROUP BY 1
            ), t2 AS (
              SELECT e.user_id,
                     min(CASE WHEN e.event_type = 'purchase' AND e.ts >= t1.t1
                              THEN e.ts END) AS t2
              FROM events e JOIN t1 USING (user_id) GROUP BY 1
            ), m AS (
              SELECT t0.user_id,
                     CAST(t0.t0 AS TIMESTAMP) AS t0,
                     CAST(t1.t1 AS TIMESTAMP) AS t1,
                     CAST(t2.t2 AS TIMESTAMP) AS t2
              FROM t0 JOIN t1 USING (user_id) JOIN t2 USING (user_id)
            ), lag1 AS (
              SELECT epoch_us(t1) - epoch_us(t0) AS lag FROM m
              WHERE t1 IS NOT NULL
            ), lag2 AS (
              SELECT epoch_us(t2) - epoch_us(t1) AS lag FROM m
              WHERE t2 IS NOT NULL
            )
            SELECT 'view>click' AS transition,
                   CAST(count(*) AS BIGINT) AS n_converted,
                   CAST(sum(lag) AS DOUBLE) / count(*) AS avg_lag_us,
                   quantile_cont(lag, 0.5) AS median_lag_us
            FROM lag1
            UNION ALL
            SELECT 'click>purchase',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(lag) AS DOUBLE) / count(*),
                   quantile_cont(lag, 0.5)
            FROM lag2
        """,
        "behavior_transition_matrix": """
            WITH pairs AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS from_type,
                     event_type AS to_type
              FROM events
            ), counts AS (
              SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
              FROM pairs WHERE from_type IS NOT NULL
              GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   n / sum(n) OVER (PARTITION BY from_type) AS row_share
            FROM counts
        """,
        "behavior_period_growth": """
            WITH agg AS (
              SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS p,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
              FROM events GROUP BY 1
            ), lagged AS (
              SELECT p, n_events, sum_value,
                     lag(n_events) OVER (ORDER BY p) AS prev_n,
                     lag(sum_value) OVER (ORDER BY p) AS prev_v
              FROM agg
            )
            SELECT strftime(p, '%Y-%m-%d') AS period, n_events, sum_value,
                   CASE WHEN prev_n > 0
                        THEN 100.0 * (n_events - prev_n) / prev_n
                   END AS events_growth_pct,
                   CASE WHEN prev_v <> 0
                        THEN 100.0 * (sum_value - prev_v) / prev_v
                   END AS value_growth_pct
            FROM lagged
        """,
        "behavior_attribution_linear": """
            WITH convs AS (
              SELECT user_id AS u, event_id AS conv_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS cus
              FROM events WHERE event_type = 'purchase'
            ), touches AS (
              SELECT user_id AS u, event_type AS touch_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS tus
              FROM events WHERE event_type <> 'purchase'
            ), pairs AS (
              SELECT c.conv_id, t.touch_type
              FROM convs c JOIN touches t ON c.u = t.u
              WHERE t.tus >= c.cus - 604800000000 AND t.tus < c.cus
            ), credited AS (
              SELECT touch_type,
                     CAST(CAST(1.0 AS DOUBLE)
                          / (count(*) OVER (PARTITION BY conv_id))
                          AS DECIMAL(28,12)) AS credit
              FROM pairs
            )
            SELECT touch_type,
                   CAST(sum(credit) AS DOUBLE) AS linear_credits,
                   CAST(count(*) AS BIGINT) AS n_touch_events
            FROM credited GROUP BY 1
        """,
        "behavior_stickiness": """
            WITH activity AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            ), dau AS (
              SELECT d, CAST(count(*) AS BIGINT) AS dau
              FROM activity GROUP BY 1
            ), days AS (
              SELECT DISTINCT d AS day FROM activity
            ), rolling AS (
              SELECT day,
                     CAST(count(DISTINCT a.user_id) AS BIGINT) AS window_au
              FROM days JOIN activity a
                ON a.d <= day AND a.d > day - 7
              GROUP BY 1
            )
            SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau,
                   r.window_au,
                   CAST(dau.dau AS DOUBLE) / r.window_au AS stickiness
            FROM dau JOIN rolling r ON dau.d = r.day
        """,
        "behavior_window_funnel": """
            WITH ev AS (
              SELECT user_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ), ann AS (
              SELECT user_id, event_type, us,
                     min(CASE WHEN event_type = 'click' THEN us END)
                       OVER w AS next2,
                     min(CASE WHEN event_type = 'purchase' THEN us END)
                       OVER w AS next3
              FROM ev
              WINDOW w AS (PARTITION BY user_id ORDER BY us DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
            ), s1 AS (
              SELECT user_id, us AS t1, next2 AS c2 FROM ann
              WHERE event_type = 'view'
            ), s2 AS (
              SELECT user_id, us AS c2, next3 AS c3 FROM ann
              WHERE event_type = 'click'
            ), chain AS (
              SELECT s1.user_id, s1.t1, s1.c2, s2.c3
              FROM s1 LEFT JOIN s2
                ON s1.user_id = s2.user_id AND s1.c2 = s2.c2
            )
            SELECT user_id,
                   CAST(max(CASE
                     WHEN c3 IS NOT NULL AND c3 <= t1 + 86400000000 THEN 3
                     WHEN c2 IS NOT NULL AND c2 <= t1 + 86400000000 THEN 2
                     ELSE 1 END) AS INT) AS funnel_level
            FROM chain GROUP BY user_id
        """,
        "behavior_attribution": """
            WITH e AS (
              SELECT event_id, user_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events
            ), t AS (
              SELECT event_id AS conv_id, user_id, event_type,
                     first_value(CASE WHEN event_type <> 'purchase'
                                      THEN event_type END IGNORE NULLS)
                       OVER w AS first_touch_type,
                     last_value(CASE WHEN event_type <> 'purchase'
                                     THEN event_type END IGNORE NULLS)
                       OVER w AS last_touch_type,
                     count(CASE WHEN event_type <> 'purchase' THEN 1 END)
                       OVER w AS n_touches
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN 604800000000 PRECEDING
                                     AND 1 PRECEDING)
            )
            SELECT conv_id, user_id, first_touch_type, last_touch_type,
                   CAST(n_touches AS BIGINT) AS n_touches
            FROM t WHERE event_type = 'purchase'
        """,
        "behavior_attribution_credit": """
            WITH e AS (
              SELECT event_id, user_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events
            ), t AS (
              SELECT user_id, event_type,
                     first_value(CASE WHEN event_type <> 'purchase'
                                      THEN event_type END IGNORE NULLS)
                       OVER w AS first_touch_type,
                     last_value(CASE WHEN event_type <> 'purchase'
                                     THEN event_type END IGNORE NULLS)
                       OVER w AS last_touch_type
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN 604800000000 PRECEDING
                                     AND 1 PRECEDING)
            ), attr AS (
              SELECT * FROM t WHERE event_type = 'purchase'
            ), f AS (
              SELECT coalesce(first_touch_type, '(none)') AS touch_type,
                     count(*) AS c
              FROM attr GROUP BY 1
            ), l AS (
              SELECT coalesce(last_touch_type, '(none)') AS touch_type,
                     count(*) AS c
              FROM attr GROUP BY 1
            )
            SELECT coalesce(f.touch_type, l.touch_type) AS touch_type,
                   CAST(coalesce(f.c, 0) AS BIGINT) AS first_touch_credits,
                   CAST(coalesce(l.c, 0) AS BIGINT) AS last_touch_credits
            FROM f FULL OUTER JOIN l ON f.touch_type = l.touch_type
        """,
        "pipeline_user_insights": """
            WITH counts AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY 1, 2
            ), tot AS (
              SELECT user_id, sum(c) AS n, count(*) AS k
              FROM counts GROUP BY 1
            ), ent AS (
              SELECT c.user_id,
                     CAST(min(t.n) AS BIGINT) AS n_events,
                     CAST(min(t.k) AS INT) AS n_types,
                     -sum((c.c / t.n) * ln(c.c / t.n)) AS entropy
              FROM counts c JOIN tot t USING (user_id)
              GROUP BY c.user_id
            ), o AS (
              SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                     lag(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
            ), flagged AS (
              SELECT *, CASE WHEN prev_ts IS NULL
                               OR epoch_us(ts) - epoch_us(prev_ts)
                                  > 1800000000 THEN 1
                             ELSE 0 END AS is_new
              FROM o
            ), sess AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_seq
              FROM flagged
            ), sess_g AS (
              SELECT user_id, session_seq, count(*) AS ne
              FROM sess GROUP BY 1, 2
            ), sessions AS (
              SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_sessions,
                     CAST(sum(ne) AS BIGINT) AS se
              FROM sess_g GROUP BY 1
            ), t0 AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view' THEN ts END) AS t0
              FROM events GROUP BY 1
            ), t1 AS (
              SELECT e.user_id,
                     min(CASE WHEN e.event_type = 'click' AND e.ts >= t0.t0
                              THEN e.ts END) AS t1
              FROM events e JOIN t0 USING (user_id) GROUP BY 1
            ), t2 AS (
              SELECT e.user_id,
                     min(CASE WHEN e.event_type = 'purchase' AND e.ts >= t1.t1
                              THEN e.ts END) AS t2
              FROM events e JOIN t1 USING (user_id) GROUP BY 1
            ), miles AS (
              SELECT t0.user_id,
                     CAST(t0 IS NOT NULL AS INT) AS reached_view,
                     CAST(t1 IS NOT NULL AS INT) AS reached_click,
                     CAST(t2 IS NOT NULL AS INT) AS reached_purchase
              FROM t0 JOIN t1 USING (user_id) JOIN t2 USING (user_id)
            ), refd AS (
              SELECT max(CAST(ts AS DATE)) AS a FROM events
            ), rec AS (
              SELECT user_id,
                     CAST(datediff('day', max(CAST(ts AS DATE)),
                                   (SELECT a FROM refd)) AS INT)
                       AS days_since_last
              FROM events GROUP BY user_id
            )
            SELECT e.user_id, e.n_events, e.n_types, e.entropy,
                   s.n_sessions, s.se / s.n_sessions AS events_per_session,
                   m.reached_view, m.reached_click, m.reached_purchase,
                   r.days_since_last
            FROM ent e JOIN sessions s USING (user_id)
                 JOIN miles m USING (user_id)
                 JOIN rec r USING (user_id)
        """,
        "clean_pseudonymize": """
            SELECT event_id,
                   CASE WHEN user_id IS NOT NULL
                        THEN sha256('pepper-1' || CAST(user_id AS VARCHAR))
                   END AS user_id,
                   event_type
            FROM events
        """,
        "clean_winsorize_hist": """
            WITH h AS (
              SELECT event_type,
                     CAST(greatest(0, least(19, floor((value - 0.0) / 25.0)))
                          AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ), b AS (
              SELECT event_type, bin, n,
                     sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum
              FROM h
            ), t AS (
              SELECT event_type, CAST(sum(n) AS BIGINT) AS total
              FROM h GROUP BY 1
            ), tg AS (
              SELECT event_type, CAST(q AS DOUBLE) AS q,
                     CAST(q AS DOUBLE) * CAST(total AS DOUBLE) AS target
              FROM t, (VALUES (0.05), (0.95)) AS qv(q)
            ), qs AS (
              SELECT tg.event_type, tg.q,
                     0.0 + CAST(bin AS DOUBLE) * 25.0
                         + (target - CAST(cum - n AS DOUBLE))
                           / CAST(n AS DOUBLE) * 25.0 AS value_q
              FROM tg JOIN b ON tg.event_type = b.event_type
              WHERE CAST(cum AS DOUBLE) >= target
                AND CAST(cum - n AS DOUBLE) < target
            ), cuts AS (
              SELECT event_type,
                     min(CASE WHEN q = 0.05 THEN value_q END) AS lo,
                     min(CASE WHEN q = 0.95 THEN value_q END) AS hi
              FROM qs GROUP BY 1
            )
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN e.value IS NOT NULL
                        THEN least(greatest(e.value, c.lo), c.hi)
                   END AS value_winsorized
            FROM events e LEFT JOIN cuts c ON e.event_type = c.event_type
        """,
        "clean_winsorize_value": """
            WITH cuts AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
              FROM events WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN e.value IS NOT NULL
                        THEN least(greatest(e.value, c.lo), c.hi)
                   END AS value_winsorized
            FROM events e LEFT JOIN cuts c ON e.event_type = c.event_type
        """,
        "behavior_type_entropy": """
            WITH counts AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY 1, 2
            ), tot AS (
              SELECT user_id, sum(c) AS n, count(*) AS k
              FROM counts GROUP BY 1
            )
            SELECT c.user_id,
                   CAST(min(t.n) AS BIGINT) AS n_events,
                   CAST(min(t.k) AS INT) AS n_types,
                   -sum((c.c / t.n) * ln(c.c / t.n)) AS entropy
            FROM counts c JOIN tot t USING (user_id)
            GROUP BY c.user_id
        """,
        "agg_revenue_gini": """
            WITH per_key AS (
              SELECT c_nationkey, c_custkey,
                     sum(CAST(o_totalprice AS DECIMAL(18,6))) AS x
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1, 2
            ), ranked AS (
              SELECT c_nationkey, x,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY x ASC, c_custkey ASC) AS i
              FROM per_key
            ), agg AS (
              SELECT c_nationkey,
                     count(*) AS n,
                     CAST(sum(x) AS DOUBLE) AS total,
                     CAST(sum(i * x) AS DOUBLE) AS weighted
              FROM ranked GROUP BY 1
            )
            SELECT c_nationkey,
                   CAST(n AS BIGINT) AS n_keys,
                   total AS total_value,
                   CASE WHEN total <> 0
                        THEN 2.0 * weighted / (n * total) - (n + 1.0) / n
                   END AS gini
            FROM agg
        """,
        "ml_seq_patterns": """
            WITH seq_users AS (
              SELECT count(DISTINCT user_id) AS n FROM events
            ), singles AS (
              SELECT event_type AS pattern, CAST(1 AS INT) AS n_steps,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS freq
              FROM events GROUP BY event_type
            ), pairs AS (
              SELECT a.event_type || '>' || b.event_type AS pattern,
                     CAST(2 AS INT) AS n_steps,
                     CAST(count(DISTINCT a.user_id) AS BIGINT) AS freq
              FROM events a JOIN events b ON a.user_id = b.user_id
                   AND (a.ts < b.ts
                        OR (a.ts = b.ts AND a.event_id < b.event_id))
              GROUP BY 1
            )
            SELECT pattern, n_steps, freq
            FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs),
                 seq_users
            WHERE freq >= ceiling(0.5 * n)
        """,
        "ml_freq_itemsets": """
            WITH op AS (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
            ), n AS (
              SELECT CAST(ceiling(0.001 * count(DISTINCT o)) AS BIGINT)
                AS min_count
              FROM op
            ), singles AS (
              SELECT CAST(p AS VARCHAR) AS itemset, CAST(1 AS INT) AS n_items,
                     CAST(count(*) AS BIGINT) AS freq
              FROM op GROUP BY p
            ), pairs AS (
              SELECT CAST(a.p AS VARCHAR) || ',' || CAST(b.p AS VARCHAR)
                       AS itemset,
                     CAST(2 AS INT) AS n_items,
                     CAST(count(*) AS BIGINT) AS freq
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
              GROUP BY a.p, b.p
            )
            SELECT itemset, n_items, freq
            FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs), n
            WHERE freq >= min_count
        """,
        "graph_pagerank": """
            WITH e0 AS (
              SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                              's' || CAST(l_suppkey AS VARCHAR) AS s
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ), edges AS (
              SELECT c AS src, s AS dst FROM e0
              UNION ALL
              SELECT s AS src, c AS dst FROM e0
            ), deg AS (
              SELECT src, CAST(count(*) AS BIGINT) AS outdeg
              FROM edges GROUP BY 1
            ), nodes AS (
              SELECT DISTINCT src AS node FROM edges
            ), params AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST((3 * 1000000000000) // (20 * count(*)) AS BIGINT)
                       AS teleport
              FROM nodes
            ), r0 AS (
              SELECT node, CAST(1000000000000 // n AS BIGINT) AS rank_fp
              FROM nodes, params
            ), c1 AS (
              SELECT e.dst AS node, sum(r.rank_fp // d.outdeg) AS insum
              FROM edges e JOIN r0 r ON e.src = r.node
                           JOIN deg d ON e.src = d.src
              GROUP BY 1
            ), r1 AS (
              SELECT nodes.node,
                     CAST(teleport + (17 * COALESCE(c1.insum, 0)) // 20
                          AS BIGINT) AS rank_fp
              FROM nodes CROSS JOIN params
                   LEFT JOIN c1 ON nodes.node = c1.node
            ), c2 AS (
              SELECT e.dst AS node, sum(r.rank_fp // d.outdeg) AS insum
              FROM edges e JOIN r1 r ON e.src = r.node
                           JOIN deg d ON e.src = d.src
              GROUP BY 1
            ), r2 AS (
              SELECT nodes.node,
                     CAST(teleport + (17 * COALESCE(c2.insum, 0)) // 20
                          AS BIGINT) AS rank_fp
              FROM nodes CROSS JOIN params
                   LEFT JOIN c2 ON nodes.node = c2.node
            ), c3 AS (
              SELECT e.dst AS node, sum(r.rank_fp // d.outdeg) AS insum
              FROM edges e JOIN r2 r ON e.src = r.node
                           JOIN deg d ON e.src = d.src
              GROUP BY 1
            ), r3 AS (
              SELECT nodes.node,
                     CAST(teleport + (17 * COALESCE(c3.insum, 0)) // 20
                          AS BIGINT) AS rank_fp
              FROM nodes CROSS JOIN params
                   LEFT JOIN c3 ON nodes.node = c3.node
            )
            SELECT node, rank_fp,
                   rank_fp / 1000000000000.0 AS rank
            FROM r3
        """,
    }
