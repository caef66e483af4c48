"""Physical-plan regression net: no driver query may compile to the
two unconditional scale-killers — a non-broadcast CartesianProduct or
row-at-a-time Python evaluation (BatchEvalPython). Arrow-batched pandas
UDFs (ArrowEvalPython) and broadcast nested-loop joins (the
broadcast-scalar / broadcast-probe crossJoin pattern) stay allowed.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

# queries whose CONSTRUCTION already executes jobs (iterative training,
# driver-looped learning, streaming harnesses) — heavyweight to build,
# covered by their own tests
BUILD_EXECUTES = {
    "text_bpe_learn",
    "graph_pagerank",
    "ml_train_demand_models",
    "ml_train_classifier",
    "stream_stateful_counts",
    "sim_ivf_ann",
    # sim_pq_encode / sim_pq_ann left this set in round 7: their fixed
    # formula codebooks build without executing anything, so both are
    # plan-guarded again
    "serve_demand_batch",
}

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def test_rolling_distinct_exact_broadcasts_day_list(spark, sf_dir):
    """The exact twin's range join is a deliberate BNLJ; pin that the
    BOUNDED side (the day list) is the broadcast build side, so the
    streamed side stays the distinct-activity table and nobody's later
    edit flips the join into an unbounded broadcast."""
    qs = entrymod.queries()
    plan = (
        qs["agg_rolling_distinct_exact"](spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "BroadcastNestedLoopJoin Inner BuildLeft" in plan, plan[:2000]


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_minhash_signatures_are_map_only(spark, sf_dir):
    """r19: signatures moved into the per-document array domain —
    array_min over affine-permuted hash arrays replaced the
    explode → groupBy(doc_id) shuffle. Pin the zero-exchange shape so a
    later edit can't silently reintroduce the shingle-table shuffle."""
    import re

    qs = entrymod.queries()
    plan = _formatted_plan(spark, qs["dedup_docs_minhash_sig"](spark, sf_dir))
    assert not re.search(r"\(\d+\) Exchange", plan), plan[:2000]


def test_prototype_confusion_has_no_corpus_window(spark, sf_dir):
    """r19: the per-vector argmax runs as an array argmin over a
    one-row broadcast prototype table — the corpus is never exploded
    |labels|-fold nor shuffled+sorted by vec_id. Pin the no-Window
    shape (the remaining exchanges are the tiny centroid aggregation
    and the final confusion count)."""
    import re

    qs = entrymod.queries()
    plan = _formatted_plan(spark, qs["sim_prototype_confusion"](spark, sf_dir))
    assert not re.search(r"\(\d+\) Window", plan), plan[:2000]


def test_embedding_drift_single_aggregation(spark, sf_dir):
    """r19: the drift report is ONE aggregation over the full-outer id
    join (plus a summary-sized zero-fill) — the four per-status
    branches each recomputed the join before (12 scans). The driver
    query's INPUT shape contributes three scans (the old snapshot + the
    union-built new snapshot); pin that the join lineage itself is not
    duplicated beyond that."""
    import re

    qs = entrymod.queries()
    plan = _formatted_plan(spark, qs["sim_embedding_drift"](spark, sf_dir))
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans <= 3, f"{scans} parquet scans:\n{plan[:2000]}"


def test_doc_stats_tokenizes_once(spark, sf_dir):
    """r20: doc_stats stages the token array (then the per-array
    stats) in their own projections, so ``split(trim(text))`` — and
    ``array_distinct`` — evaluate exactly once per row. The inlined
    form re-evaluated the split up to 6× per row (lambda subtrees are
    invisible to codegen subexpression elimination). Pin the
    one-tokenization shape for this headline query."""
    qs = entrymod.queries()
    plan = _formatted_plan(spark, qs["text_doc_stats"](spark, sf_dir))
    assert plan.count("split(trim") == 1, plan[:2000]
    assert plan.count("array_distinct") == 1, plan[:2000]


def test_no_cartesian_or_rowwise_python(spark, sf_dir):
    qs = entrymod.queries()
    offenders: dict[str, str] = {}
    for name, fn in qs.items():
        if name in BUILD_EXECUTES:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
        except Exception as exc:  # construction failure is its own bug
            offenders[name] = f"construction failed: {exc}"
            continue
        for marker in FORBIDDEN:
            if marker in plan:
                offenders[name] = marker
    assert not offenders, f"scale-killer plans: {offenders}"


def test_partitioned_layout_enables_dynamic_partition_pruning(
    spark, sf_dir, tmp_path
):
    """The partitioned-sink layout must let Catalyst inject dynamic
    partition pruning: joining the partitioned fact to a selective dim
    on the partition column should show a dynamicpruning expression in
    the fact scan's partition filters — at 100 TB this is the
    difference between scanning 3 partitions and scanning the table."""
    import os

    from pyspark.sql import functions as F

    from distributed_mobility_data_pipeline_spark.sources.readers import read_events
    from distributed_mobility_data_pipeline_spark.sources.writers import (
        write_overwrite,
    )

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet")).withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    fact_path = str(tmp_path / "events_by_day")
    write_overwrite(ev, fact_path, partition_by=["day"])

    fact = spark.read.parquet(fact_path)
    # DPP insertion requires a SELECTIVE PREDICATE on the dim side (a
    # bare limit doesn't qualify), so filter to the first observed day
    first_day = ev.agg(F.min("day")).collect()[0][0]
    dim = (
        ev.select("day")
        .distinct()
        .filter(F.col("day") <= first_day)
        .withColumn("flag", F.lit(1))
    )
    joined = fact.join(dim, "day").groupBy("day").count()
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]
