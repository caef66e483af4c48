"""Structured Streaming operators (SURVEY.md §2.10).

The reference has no true streaming — its "real-time" path is a FastAPI
row loop (app.py:269-378) and its hourly grain is a batch
``date_trunc`` (feature_engineering.py:58-74). These are the streaming
twins the capability contract asks for: watermarked tumbling / sliding /
session windows and streaming keep-first dedup over an `events`-shaped
stream.

Every transformation is defined on a plain DataFrame, so the SAME
function body serves batch and streaming (Spark's unified API); tests
run them both ways and check batch≡stream equivalence. The source is
a file stream (sources/readers.read_events_stream); on a cluster it
swaps to Kafka with no operator change.

Watermarks bound state: at 100 TB/day the tumbling-count state is
(#keys × #open-windows) rows, evicted as the watermark passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import exact_sum


def tumbling_hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of aggregates.hourly_demand: 1h tumbling window
    counts per event_type with late-data watermark."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            exact_sum("value").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "event_count",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts (each event lands in window/slide panes)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            "event_type",
            "event_count",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows: a session closes after ``gap`` of
    inactivity (session_window, the streaming sessionization operator)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming D1: dropDuplicates keyed on event_id within the
    watermark horizon (the bounded-state streaming dedup)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.dropDuplicates(["event_id"])


def session_start_flags(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Events + a ``_new`` column flagging each session's first event
    (gap > ``gap_minutes`` from the previous event of the same user).
    The shared first half of sessionization: one (user_id) window pass.
    Exposed so per-user session STATS (count / events-per-session) can
    aggregate straight from the flags — ``sum(_new)`` per user equals
    the session count — without the intermediate per-session rollup
    (r19, guide §2.4: plans/behavior.user_insights saves an exchange)."""
    from pyspark.sql import Window

    # defensive: unix_micros requires TimestampType; NTZ input (µs parquet
    # read without the read_events normalization) casts value-preserving
    # under the pinned-UTC session
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000  # exact integer µs: no float/floor ambiguity
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    return events.withColumn("_new", new_sess)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization via lag + cumulative session ids (the
    window-function equivalent of session_window, SURVEY §2.10 /
    'Sessionization' pattern) — oracle-checkable in plain SQL."""
    from pyspark.sql import Window

    df = session_start_flags(events, gap_minutes).withColumn(
        "session_seq",
        F.sum("_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        df.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


def enriched_segment_counts(
    events: DataFrame, customers: DataFrame
) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcast
    customer dimension (user_id → market segment), then aggregate per
    (segment, event_type).

    The dimension side of a stream-static join is re-read per
    micro-batch but never holds streaming state; broadcast keeps the
    join shuffle-free on the stream side. The aggregate's state is one
    row per (segment, type) — tiny and bounded by key cardinality, so
    no watermark is needed (complete output mode).

    Same body serves batch (the driver's oracle-checked twin).
    """
    dim = customers.select(
        F.col("c_custkey").alias("_ck"), "c_mktsegment"
    )
    joined = events.join(F.broadcast(dim), events["user_id"] == F.col("_ck"))
    return (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            exact_sum("value").alias("sum_value"),
        )
    )


def view_purchase_conversions(
    events: DataFrame,
    horizon_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream self-join: purchases within ``horizon_minutes`` of
    a view by the same user (conversion attribution).

    Streaming semantics: both branches are watermarked and the join
    condition carries an explicit time range, so Spark can bound each
    side's state buffer to the watermark + horizon and evict behind it
    — the state-safe form of a stream-stream join. Inner joins emit
    eagerly on match, so results don't wait for window close.

    The same body is the batch twin (plain range self-join).
    """
    src = (
        events.withWatermark("ts", watermark) if events.isStreaming else events
    )
    views = src.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    horizon = F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES")
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") < F.col("view_ts") + horizon),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts"
        ),
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts")))
        .alias("lag_us"),
        "purchase_value",
    )


def run_stream_to_memory(
    spark: SparkSession, agg: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming aggregate to completion against the file
    source (test/local harness): memory sink + processAllAvailable."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")
