"""Stream-static and stream-stream join equivalence: the same operator
bodies over readStream (file source → memory sink) must produce the
batch answer."""

from __future__ import annotations

import os

from distributed_mobility_data_pipeline_spark.sources.readers import (
    read_events,
    read_events_stream,
)
from distributed_mobility_data_pipeline_spark.streaming import events as se


def _events_path(sf_dir):
    return os.path.join(sf_dir, "events.parquet")


def test_stream_static_enrich_equals_batch(spark, sf_dir):
    customers = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    batch = se.enriched_segment_counts(
        read_events(spark, _events_path(sf_dir)), customers
    )
    stream_src = read_events_stream(spark, _events_path(sf_dir))
    assert stream_src.isStreaming
    streamed = se.run_stream_to_memory(
        spark,
        se.enriched_segment_counts(stream_src, customers),
        "static_enrich_test",
        output_mode="complete",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_stream_stream_conversions_equals_batch(spark, sf_dir):
    batch = se.view_purchase_conversions(
        read_events(spark, _events_path(sf_dir))
    )
    stream_src = read_events_stream(spark, _events_path(sf_dir))
    streamed = se.run_stream_to_memory(
        spark,
        se.view_purchase_conversions(stream_src),
        "ss_conversions_test",
        output_mode="append",  # inner stream-stream joins emit on match
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_conversions_within_horizon(spark, sf_dir):
    out = se.view_purchase_conversions(
        read_events(spark, _events_path(sf_dir)), horizon_minutes=60
    ).collect()
    for r in out:
        assert 0 <= r.lag_us < 60 * 60 * 1_000_000


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """A file-source stream restarted from its checkpoint must not
    reprocess already-committed input (exactly-once file sink)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(ids):
        spark.createDataFrame([(i,) for i in ids], "id long").write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema("id long").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write_batch(range(0, 5))
    run_once()
    first = sorted(r.id for r in spark.read.parquet(out).collect())
    assert first == list(range(5))

    write_batch(range(5, 8))
    run_once()  # restart from the same checkpoint
    second = sorted(r.id for r in spark.read.parquet(out).collect())
    assert second == list(range(8))  # old rows exactly once, new rows added
