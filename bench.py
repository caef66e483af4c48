"""Benchmark harness (driver contract).

Runs the engine's 18 headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]: one cold pass, which
is also the warm-up, then three warm passes. Prints ONE JSON line:
{"metric": "headline_queries_total", "value": total_sec, "unit": "sec",
"queries": {name: warm median sec}, "sf": ..., "cold_total": ...,
"n_queries": ..., "n_timed": ..., "n_errors": ...}. Error texts go to
stderr.

The driver keeps only the tail of stdout (~2 KB) and parses the final
JSON line, so the line carries nothing more. At sf0.1 the panel is
bound by fixed per-query overhead; performance evidence comes from
perfbench/ and BENCHMARK.json, not from this total.

Each query is timed end-to-end (plan + execute); results are consumed
with a noop write so nothing is collected to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from distributed_mobility_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline subset: one per operator family, weighted toward shuffles/joins.
HEADLINE = [
    "agg_pricing_summary",
    "agg_hourly_demand",
    "agg_supply_demand_hourly",
    "agg_driver_daily_summary",
    "agg_top_k_per_group",
    "agg_cube_revenue",
    "star_trips_fact",
    "agg_shipping_priority",
    "agg_local_supplier_volume",
    "join_asof_orders_events",
    "join_ri_check",
    "dedup_keep_latest",
    "win_rolling_rows",
    "ml_demand_features",
    "stream_sessionize",
    "text_doc_stats",
    "dedup_docs_minhash_lsh",
    "sim_cosine_topk",
]

WARM_REPEATS = 3


def _run_pass(
    spark, qs, names: list[str], sf_dir: str, errors: dict[str, str]
) -> dict[str, float]:
    # One broken query must not zero the whole artifact: record its error
    # and keep timing the rest.
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — bench must always emit JSON
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        timings[name] = round(time.time() - t0, 3)
    return timings


def _median(ts: list[float]) -> float:
    """True median of a sorted list: averages the two middle values for
    even-length run lists (a query that failed one of three passes), and
    rounds to 3 decimals on both branches."""
    n = len(ts)
    if n % 2:
        return round(ts[n // 2], 3)
    return round((ts[n // 2 - 1] + ts[n // 2]) / 2.0, 3)


def measure(spark, qs, names: list[str], sf_dir: str) -> str:
    """Time ``names`` (one cold pass, then WARM_REPEATS warm passes) and
    return the final JSON line. A query's figure is the median of its
    successful warm runs; one that fails every warm pass is left out of
    ``queries`` and counted in ``n_errors``. Every error text seen is
    written to stderr."""
    errors: dict[str, str] = {}
    cold = _run_pass(spark, qs, names, sf_dir, errors)
    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(WARM_REPEATS):
        for name, t in _run_pass(spark, qs, names, sf_dir, errors).items():
            runs[name].append(t)
    timings = {n: _median(sorted(ts)) for n, ts in runs.items() if ts}
    for name, text in errors.items():
        print(f"bench: {name}: {text}", file=sys.stderr)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cold_total": round(sum(cold.values()), 3),
        "n_queries": len(names),
        "n_timed": len(timings),
        "n_errors": len(names) - len(timings),
    }
    return json.dumps(payload, separators=(",", ":"))


def main() -> None:
    spark = get_spark("bench")
    print(measure(spark, entrymod.queries(), HEADLINE, SF_DIR))
    spark.stop()


if __name__ == "__main__":
    main()
