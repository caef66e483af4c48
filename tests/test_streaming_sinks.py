"""foreachBatch merge sink: streaming the events files into a keyed
table must converge to the batch keep-latest result, and re-running the
stream over the same data must not change the table (idempotent MERGE)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from distributed_mobility_data_pipeline_spark.operators import dedup
from distributed_mobility_data_pipeline_spark.sources.readers import (
    read_events,
    read_events_stream,
)
from distributed_mobility_data_pipeline_spark.streaming import events as se
from distributed_mobility_data_pipeline_spark.streaming.sinks import stream_merge_upsert


def test_stream_merge_converges_to_batch_keep_latest(spark, sf_dir, tmp_path):
    path = os.path.join(sf_dir, "events.parquet")
    table = str(tmp_path / "user_latest")

    def run(ckpt: str):
        src = read_events_stream(spark, path).select(
            "user_id", "ts", "event_type", "value"
        )
        q = stream_merge_upsert(
            src, table, keys=["user_id"],
            checkpoint_dir=ckpt, dedup_order_col="ts",
        )
        q.processAllAvailable()
        q.stop()

    run(str(tmp_path / "ckpt1"))
    got = spark.read.parquet(table)
    truth = dedup.keep_latest(
        read_events(spark, path).select("user_id", "ts", "event_type", "value"),
        ["user_id"],
        "ts",
        ["event_type"],  # deterministic tiebreak on equal ts
    )
    assert got.count() == truth.count()
    g = {r.user_id: r.ts for r in got.collect()}
    t = {r.user_id: r.ts for r in truth.collect()}
    assert g == t  # latest timestamp per user matches the batch answer

    # replay from a fresh checkpoint (at-least-once redelivery): the
    # merge is idempotent, so the table must be unchanged
    run(str(tmp_path / "ckpt2"))
    again = {r.user_id: r.ts for r in spark.read.parquet(table).collect()}
    assert again == g


def test_stream_quality_gate_routes_bad_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from distributed_mobility_data_pipeline_spark.streaming import events as se
    from distributed_mobility_data_pipeline_spark.streaming.sinks import (
        quality_gate_split,
        stream_quality_gate,
    )

    rows = [
        (1, 100, "click", 5.0),
        (2, 101, "error", 5.0),     # unknown type
        (3, 102, "view", 500.0),    # over cap
        (4, None, "view", 1.0),     # null passes these checks
    ]
    src = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    src.write.parquet(str(tmp_path / "in" / "b1.parquet"))
    checks = {
        "known_event_type": F.col("event_type").isin("click", "view"),
        "value_below_cap": F.col("value") <= 100.0,
    }
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in") + "/*")
    )
    q = stream_quality_gate(
        stream,
        str(tmp_path / "good"),
        str(tmp_path / "quarantine"),
        checks,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    good = {r.event_id for r in spark.read.parquet(str(tmp_path / "good")).collect()}
    bad = {
        r.event_id: r.violations
        for r in spark.read.parquet(str(tmp_path / "quarantine")).collect()
    }
    assert good == {1, 4}
    assert bad == {2: "known_event_type", 3: "value_below_cap"}
    # batch twin agrees
    g2, b2 = quality_gate_split(src, checks)
    assert {r.event_id for r in g2.collect()} == good
    assert {r.event_id for r in b2.collect()} == set(bad)


def test_stream_drift_monitor_matches_batch_psi(spark, sf_dir, tmp_path):
    from distributed_mobility_data_pipeline_spark.operators import drift
    from distributed_mobility_data_pipeline_spark.streaming.sinks import (
        stream_drift_monitor,
    )

    path = os.path.join(sf_dir, "events.parquet")
    edges = [10.0, 25.0, 50.0, 75.0]
    batch_events = read_events(spark, path).select("value")
    baseline = batch_events.filter(F.col("value") <= 60.0)

    out = str(tmp_path / "psi_feed")
    src = read_events_stream(spark, path).select("value")
    q = stream_drift_monitor(
        src, baseline, "value", edges, out, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    feed = spark.read.parquet(out).collect()
    assert len(feed) >= 1
    # one micro-batch covering all files -> its PSI equals the batch PSI
    # of the full current table vs the same baseline
    total_rows = sum(r.n_rows for r in feed)
    assert total_rows == batch_events.count()
    if len(feed) == 1:
        truth = drift.psi_fixed_bins(baseline, batch_events, "value", edges).collect()[0]
        assert abs(feed[0].psi - truth.psi) < 1e-9
        assert feed[0].n_buckets == truth.n_buckets
    # drift feed rows are well-formed either way
    for r in feed:
        assert r.psi >= 0.0 and r.n_buckets >= 1


def test_stream_histogram_sink_matches_batch_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    from distributed_mobility_data_pipeline_spark.operators import sketches
    from distributed_mobility_data_pipeline_spark.streaming import sinks as sk

    path = os.path.join(sf_dir, "events.parquet")
    out = str(tmp_path / "hist")

    # two micro-batches applied directly (the unit under test is the
    # idempotent partial-write), then merge-on-read vs batch recompute
    ev = read_events(spark, path)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    sk.histogram_apply_batch(b0, 0, out, 0.0, 500.0, 20)
    sk.histogram_apply_batch(b1, 1, out, 0.0, 500.0, 20)

    merged = {
        (r.day, r.bin): r.n
        for r in sk.read_daily_histograms(spark, out).collect()
    }
    want = {
        (r.day, r.bin): r.n
        for r in sketches.binned_value_histograms(
            ev.withColumn(
                "day",
                F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
            ),
            ["day"],
            "value",
            0.0,
            500.0,
            20,
        ).collect()
    }
    assert merged == want

    # replaying a batch (at-least-once) must not double-count
    sk.histogram_apply_batch(b1, 1, out, 0.0, 500.0, 20)
    again = {
        (r.day, r.bin): r.n
        for r in sk.read_daily_histograms(spark, out).collect()
    }
    assert again == want

    # the streaming wrapper end-to-end: fresh table from the real stream
    out2 = str(tmp_path / "hist2")
    src = read_events_stream(spark, path).select("ts", "value")
    q = sk.stream_histogram_sink(src, out2, str(tmp_path / "ckpt2"))
    q.processAllAvailable()
    q.stop()
    streamed = {
        (r.day, r.bin): r.n
        for r in sk.read_daily_histograms(spark, out2).collect()
    }
    assert streamed == want


def _two_batch_stream(spark, tmp_path, rows_per_batch, schema):
    """Write one single-file input per batch; returns a function that
    starts a file-source stream whose micro-batch i reads input i."""
    for i, rows in enumerate(rows_per_batch):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / "in" / f"b{i}.parquet")
        )
    return lambda: (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in") + "/*")
    )


def _table(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_stream_quality_gate_replay_rewrites_own_partitions(spark, tmp_path):
    from distributed_mobility_data_pipeline_spark.streaming.sinks import (
        stream_quality_gate,
    )

    batches = [
        [(1, "click", 5.0), (2, "error", 5.0)],
        [(3, "view", 500.0), (4, "view", 1.0)],
    ]
    schema = "event_id long, event_type string, value double"
    checks = {
        "known_event_type": F.col("event_type").isin("click", "view"),
        "value_below_cap": F.col("value") <= 100.0,
    }
    good, quarantine = str(tmp_path / "good"), str(tmp_path / "quarantine")
    stream = _two_batch_stream(spark, tmp_path, batches, schema)

    def run(ckpt: str):
        q = stream_quality_gate(
            stream(), good, quarantine, checks, str(tmp_path / ckpt)
        )
        q.processAllAvailable()
        q.stop()

    run("ckpt1")
    first = (_table(spark, good), _table(spark, quarantine))
    # redelivery from a fresh checkpoint replays batch ids 0 and 1: each
    # rewrites its own batch_id partition instead of appending again
    run("ckpt2")
    assert (_table(spark, good), _table(spark, quarantine)) == first
    good_rows, bad_rows = first
    assert [(r[0], r[-1]) for r in good_rows] == [(1, 0), (4, 1)]
    assert [(r[0], r[-1]) for r in bad_rows] == [(2, 0), (3, 1)]


def test_stream_drift_monitor_replay_rewrites_own_partitions(spark, tmp_path):
    from distributed_mobility_data_pipeline_spark.streaming.sinks import (
        stream_drift_monitor,
    )

    batches = [[(v,) for v in (1.0, 12.0, 30.0)], [(v,) for v in (60.0, 80.0)]]
    baseline = spark.createDataFrame(
        [(v,) for v in (5.0, 15.0, 20.0, 40.0)], "value double"
    )
    out = str(tmp_path / "psi_feed")
    stream = _two_batch_stream(spark, tmp_path, batches, "value double")

    def run(ckpt: str):
        q = stream_drift_monitor(
            stream(), baseline, "value", [10.0, 25.0, 50.0], out,
            str(tmp_path / ckpt),
        )
        q.processAllAvailable()
        q.stop()

    run("ckpt1")
    first = _table(spark, out)
    run("ckpt2")
    assert _table(spark, out) == first
    # one (psi, n_buckets, n_rows, batch_id) record per micro-batch
    feed = spark.read.parquet(out).collect()
    assert sorted((r.batch_id, r.n_rows) for r in feed) == [(0, 3), (1, 2)]
