"""Structured Streaming equivalence tests: the same operator bodies run
over readStream (file source → memory sink) must produce the batch
answer, and session_window must agree with the lag-gap batch
sessionization on session structure."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.sources.readers import (
    read_events,
    read_events_stream,
)
from distributed_mobility_data_pipeline_spark.streaming import events as se


def _events_path(sf_dir):
    return os.path.join(sf_dir, "events.parquet")


def test_tumbling_stream_equals_batch(spark, sf_dir):
    batch = se.tumbling_hourly_counts(read_events(spark, _events_path(sf_dir)))
    stream_src = read_events_stream(spark, _events_path(sf_dir))
    assert stream_src.isStreaming
    streamed = se.run_stream_to_memory(
        spark,
        se.tumbling_hourly_counts(stream_src),
        "tumbling_test",
        output_mode="complete",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_streaming_dedup_bounded(spark, sf_dir):
    stream_src = read_events_stream(spark, _events_path(sf_dir))
    deduped = se.streaming_dedup(stream_src)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n = spark.sql("SELECT count(*) c FROM dedup_test").collect()[0]["c"]
    n_batch = read_events(spark, _events_path(sf_dir)).count()
    assert n == n_batch  # event_id is unique → dedup is identity


def test_session_window_agrees_with_batch_sessionization(spark, sf_dir):
    ev = read_events(spark, _events_path(sf_dir))
    sw = se.session_windows(ev, gap="30 minutes")
    lag_based = se.sessionize_batch(ev, 30)
    # session structure must match: same number of sessions per user and
    # same total events captured
    a = (
        sw.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev"))
        .collect()
    )
    b = (
        lag_based.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev"))
        .collect()
    )
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
