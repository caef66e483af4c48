"""Driver-contract invariants: bench.py's final JSON line and the entry
query the driver's smoke check runs, and the queries()/oracle_sql() names
the driver's correctness gate pairs up."""

from __future__ import annotations

import json

import __spark_entry__ as entrymod


def test_rotation_names_and_oracle_subset():
    # The driver checks each query against its oracle by name: an oracle
    # key with no query, or a duplicate name, would silently shrink the
    # correctness gate.
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q), f"oracle-only keys: {set(o) - set(q)}"
    assert all(callable(q[name]) for name in o)
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


def test_bench_line_isolates_errors_and_fits_tail(spark, capsys):
    # A query that raises must cost only its own figure, never the line;
    # the driver parses the last line of a ~2 KB stdout tail, so the line
    # must stay within 1,600 bytes with every headline name in it.
    import bench

    def broken(s, d):
        raise ValueError("boom")

    fake = {n: (lambda s, d: s.range(1, numPartitions=1)) for n in bench.HEADLINE}
    fake["broken"] = broken
    line = bench.measure(spark, fake, bench.HEADLINE + ["broken"], "/x/sf0.1")
    parsed = json.loads(line)
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "sf", "cold_total",
        "n_queries", "n_timed", "n_errors",
    }
    assert "broken" not in parsed["queries"]
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert (parsed["n_queries"], parsed["n_timed"], parsed["n_errors"]) == (19, 18, 1)
    assert parsed["value"] == round(sum(parsed["queries"].values()), 3)
    assert parsed["sf"] == 0.1 and parsed["unit"] == "sec"
    assert "broken: ValueError: boom" in capsys.readouterr().err
    assert len(line) <= 1600, f"bench line is {len(line)} bytes"
    # slow-host figures widen every number; the budget must still hold
    wide = dict(parsed, value=99999.999, cold_total=99999.999)
    wide["queries"] = {n: 9999.999 for n in parsed["queries"]}
    assert len(json.dumps(wide, separators=(",", ":"))) <= 1600


def test_bench_median_even_run_lists():
    # ts[len//2] on an even-length list picks the upper of the two middle
    # values (biased high when a query fails one of three warm passes).
    # Pin the true-median behavior.
    import bench

    assert bench._median([1.0, 2.0, 3.0]) == 2.0
    assert bench._median([1.0, 2.0]) == 1.5
    assert bench._median([4.0]) == 4.0
    assert bench._median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_entry_query_is_registered(spark):
    # entry() must correspond to a queries() member so the smoke check
    # and the correctness gate exercise the same code path
    df = entrymod.queries()["agg_hourly_demand"](spark, "/root/testdata/sf0.001")
    assert df.columns == ["hour_ts", "event_type", "event_count", "avg_value"]
