"""Streaming sinks (SURVEY.md §2.10 + §2.1 S5 composition).

The production pattern the reference's batch MERGE implies but never
streams: ``foreachBatch`` turns each micro-batch into a batch DataFrame
and runs the idempotent upsert from sources.writers — exactly how a
Structured Streaming job maintains a keyed table (the parquet MERGE
emulation of Delta's). Because merge_upsert is idempotent
on keys, a replayed micro-batch (at-least-once delivery) converges to
the same table — the end-to-end-exactly-once recipe.

The other sinks write per-batch partials through writers.write_batch
(layout and replay rule there) and read them back merge-on-read through
readers.read_batches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from distributed_mobility_data_pipeline_spark.sources import readers, writers


def start_sink(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "append",
):
    """Start ``stream_df`` with ``sink(batch_df, batch_id)`` run on every
    micro-batch, checkpointed at ``checkpoint_dir``; returns the started
    StreamingQuery (caller awaits/stops)."""
    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .start()
    )


def stream_merge_upsert(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
    dedup_order_col: str | None = None,
):
    """writeStream.foreachBatch → merge_upsert per micro-batch; the
    table keeps the layout it has (a missing one is created
    unpartitioned).

    ``dedup_order_col``: within one micro-batch the same key can appear
    many times; keep the row with the max of this column (e.g. event
    time) before merging, so the merge sees one row per key.

    Cross-batch semantics are MERGE's update-all (last writer wins),
    matching Delta's whenMatchedUpdateAll: if the source can deliver a
    key's OLDER row in a LATER micro-batch, add a recency condition to
    the merge (Delta ``whenMatchedUpdate(condition=...)``) — file and
    Kafka sources in arrival order don't need it.
    Returns the started StreamingQuery (caller awaits/stops)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        one = batch_df
        if dedup_order_col is not None:
            from distributed_mobility_data_pipeline_spark.operators import dedup

            # the canonical keep-latest (don't re-inline it), tiebroken
            # on every NON-key payload column: the keys are constant
            # inside each window partition, so tiebreaking on them (the
            # old inline form) left equal-order_col rows to arbitrary
            # shuffle order — a replayed micro-batch could then pick a
            # DIFFERENT survivor and break the module's replay-converges
            # claim. Content-based tiebreak is deterministic for any
            # row multiset.
            tiebreak = sorted(
                c for c in batch_df.columns
                if c not in keys and c != dedup_order_col
            )
            one = dedup.keep_latest(
                batch_df, keys, dedup_order_col, tiebreak
            )
        writers.merge_upsert(batch_df.sparkSession, one, path, keys)

    return start_sink(stream_df, _sink, checkpoint_dir, "update")


def quality_gate_split(
    df: DataFrame, checks: dict[str, "Column"]
) -> tuple[DataFrame, DataFrame]:
    """Split rows by validation outcome: (passing rows unchanged,
    failing rows + a ``violations`` array naming every failed check).
    NULL check results count as violations (a rule you can't evaluate
    did not pass). Pure column algebra — usable identically in batch
    and inside a streaming micro-batch.

    The reference's inline DQ gates raise and kill the pipeline on bad
    rows (data_quality.py:36-95; bronze_to_silver.py:66-68); routing to
    a quarantine table keeps the stream alive and the bad rows
    auditable — the production-streaming counterpart."""
    from pyspark.sql import functions as F

    viol = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
                for name, cond in sorted(checks.items())
            ]
        )
    )
    flagged = df.withColumn("violations", viol)
    good = flagged.filter(F.size("violations") == 0).drop("violations")
    bad = flagged.filter(F.size("violations") > 0)
    return good, bad


def stream_quality_gate(
    stream_df: DataFrame,
    good_path: str,
    quarantine_path: str,
    checks: dict[str, "Column"],
    checkpoint_dir: str,
):
    """foreachBatch quality gate: per micro-batch, passing rows land in
    the main table and failing rows (with their violation list) in the
    quarantine path, both as replay-safe ``writers.write_batch``
    partials. Returns the started StreamingQuery."""
    from pyspark.sql import functions as F

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        good, bad = quality_gate_split(batch_df, checks)
        writers.write_batch(good, good_path, batch_id)
        writers.write_batch(
            bad.withColumn("violations", F.concat_ws(",", "violations")),
            quarantine_path,
            batch_id,
        )

    return start_sink(stream_df, _sink, checkpoint_dir)


def stream_drift_monitor(
    stream_df: DataFrame,
    baseline: DataFrame,
    col: str,
    edges: list[float],
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming drift monitor: per micro-batch, compute the fixed-bin
    PSI of ``col`` against a STATIC baseline distribution and write a
    one-row (psi, n_buckets, n_rows) ``writers.write_batch`` partial to
    ``out_path`` — the continuously-updated drift dashboard feed
    (streaming counterpart of the batch PSI at operators/drift.py;
    reference model_monitoring.py's score-drift check run per arrival
    instead of per job).

    The baseline's bucket distribution is precomputed ONCE here (it is
    static), so each micro-batch only buckets its own rows: per batch
    the work is one narrow aggregation to len(edges)+1 bucket counts.
    Returns the started StreamingQuery."""
    from pyspark.sql import functions as F

    from distributed_mobility_data_pipeline_spark.operators import drift

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        psi = drift.psi_fixed_bins(baseline, batch_df, col, edges)
        writers.write_batch(
            psi.select("psi", "n_buckets", F.lit(n).alias("n_rows")),
            out_path,
            batch_id,
        )

    return start_sink(stream_df, _sink, checkpoint_dir)


def histogram_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    lo: float,
    hi: float,
    n_bins: int,
    value_col: str = "value",
    ts_col: str = "ts",
) -> None:
    """One idempotent micro-batch of incremental histogram maintenance:
    write THIS batch's daily bin counts as a replay-safe
    ``writers.write_batch`` partial.

    The summary is mergeable, so partials never need read-modify-write:
    the current histogram is merge-on-read (read_daily_histograms), and
    every batch is a blind, conflict-free write."""
    from pyspark.sql import functions as F

    from distributed_mobility_data_pipeline_spark.operators import sketches

    if batch_df.isEmpty():
        return
    partial = sketches.binned_value_histograms(
        batch_df.withColumn(
            "day",
            F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd"),
        ),
        ["day"],
        value_col,
        lo,
        hi,
        n_bins,
    )
    writers.write_batch(partial, out_path, batch_id)


def read_daily_histograms(spark, path: str) -> DataFrame:
    """Merge-on-read of the streaming histogram partials: sum bin
    counts across batches → the same (day, bin, n) table the batch
    binned_value_histograms produces. Feed it to
    sketches.quantiles_from_histograms / rolling_quantile_hist math."""
    from pyspark.sql import functions as F

    return (
        readers.read_batches(spark, path)
        .groupBy("day", "bin")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def stream_histogram_sink(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    lo: float = 0.0,
    hi: float = 500.0,
    n_bins: int = 20,
    value_col: str = "value",
    ts_col: str = "ts",
):
    """Continuously maintain the mergeable daily value histogram from a
    stream — the streaming producer for the quantile-rollup family
    (operators/sketches.py): dashboards read merged quantiles at any
    moment without ever rescanning the raw stream's history.

    Returns the started StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        histogram_apply_batch(
            batch_df, batch_id, out_path, lo, hi, n_bins, value_col, ts_col
        )

    return start_sink(stream_df, _sink, checkpoint_dir)
