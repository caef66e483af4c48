"""applyInPandasWithState: running totals across micro-batches must end
at the batch ground truth."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from distributed_mobility_data_pipeline_spark.sources.readers import (
    read_events,
    read_events_stream,
)
from distributed_mobility_data_pipeline_spark.streaming import events as se
from distributed_mobility_data_pipeline_spark.streaming.stateful import running_totals_stream


def test_stateful_running_totals(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    stream_src = read_events_stream(spark, path)
    q = (
        running_totals_stream(stream_src)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_totals")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # last update per key = final running total
    final = spark.sql(
        """
        SELECT event_type, total_events, total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY total_events DESC) rn
          FROM stateful_totals
        ) WHERE rn = 1
        """
    )
    truth = (
        read_events(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 6).alias("total_value"),
        )
    )
    got = {r.event_type: r for r in final.collect()}
    want = {r.event_type: r for r in truth.collect()}
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        assert got[k].total_events == want[k].total_events, k
        # value accumulation order differs (incremental state vs one
        # batch sum), so compare at the op's own 1e-6 rounding grain
        assert abs(got[k].total_value - want[k].total_value) <= 1e-6, (
            k, got[k].total_value, want[k].total_value
        )
