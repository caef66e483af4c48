"""Timestamp-encoding robustness (VERDICT r03 #1/#4).

The driver's events.parquet changed encoding between rounds
(TIMESTAMP(NANOS) → TIMESTAMP(MICROS, isAdjustedToUTC=false)) and broke
the streaming readers. This test writes the same tiny events table in
all three encodings the data has shipped with — ns-long, µs-NTZ, µs-UTC —
and asserts ``read_events`` / ``read_events_stream`` / ``sessionize_batch``
produce identical values for each. Mutating any reader branch fails it.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_mobility_data_pipeline_spark.sources.readers import (
    read_events,
    read_events_stream,
)
from distributed_mobility_data_pipeline_spark.streaming import events as se

# fixed µs-precision instants (UTC), two users, with a >30 min session gap
_US = [
    1_700_000_000_000_000,
    1_700_000_120_000_000,   # +2 min   → same session
    1_700_002_000_000_000,   # +~33 min → new session for user 1
    1_700_000_060_000_000,
    1_700_000_090_000_000,
]
_ROWS = {
    "event_id": [1, 2, 3, 4, 5],
    "user_id": [1, 1, 1, 2, 2],
    "event_type": ["a", "b", "a", "c", "c"],
    "value": [1.0, 2.0, 3.0, 4.0, 5.0],
    "props": ['{"k":1}'] * 5,
}


def _write(path: str, ts_type: pa.DataType, scale: int) -> str:
    cols = dict(_ROWS)
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array([v * scale for v in _US], pa.int64()).cast(ts_type),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    pq.write_table(table, path)
    return path


@pytest.fixture(scope="module")
def encoded_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("ts_encodings")
    return {
        "ns_long": _write(str(d / "ns" ) + ".parquet", pa.timestamp("ns"), 1000),
        "us_ntz": _write(str(d / "us_ntz") + ".parquet", pa.timestamp("us"), 1),
        "us_utc": _write(str(d / "us_utc") + ".parquet", pa.timestamp("us", tz="UTC"), 1),
    }


def test_batch_read_agrees_across_encodings(spark, encoded_paths):
    results = {}
    for name, path in encoded_paths.items():
        df = read_events(spark, path)
        assert dict(df.dtypes)["ts"] == "timestamp", f"{name}: ts not normalized"
        results[name] = sorted(
            (r.event_id, r.ts.isoformat()) for r in df.select("event_id", "ts").collect()
        )
    assert results["ns_long"] == results["us_ntz"] == results["us_utc"]


def test_stream_read_agrees_with_batch(spark, encoded_paths):
    for name, path in encoded_paths.items():
        src = read_events_stream(spark, path)
        assert dict(src.dtypes)["ts"] == "timestamp", f"{name}: stream ts not normalized"
        out = se.run_stream_to_memory(
            spark, se.tumbling_hourly_counts(src), f"enc_{name}", "complete"
        )
        batch = se.tumbling_hourly_counts(read_events(spark, path))
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect())), name


def test_sessionize_batch_agrees_across_encodings(spark, encoded_paths):
    results = {}
    for name, path in encoded_paths.items():
        rows = se.sessionize_batch(read_events(spark, path)).collect()
        results[name] = sorted(map(tuple, rows))
    assert results["ns_long"] == results["us_ntz"] == results["us_utc"]
    # ground truth: user 1 has 2 sessions (33 min gap), user 2 has 1
    sess = {(r[0], r[1]) for r in results["us_ntz"]}
    assert sess == {(1, 1), (1, 2), (2, 1)}


def test_sessionize_accepts_raw_ntz(spark, encoded_paths):
    # the defensive branch: feed sessionize the NTZ frame directly
    # (bypassing read_events normalization) — must not raise
    raw = spark.read.parquet(encoded_paths["us_ntz"])
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    assert se.sessionize_batch(raw).count() == 3
