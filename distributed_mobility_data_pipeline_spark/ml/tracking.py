"""Experiment-run tracking, Spark-first (reference demand_forecasting.py:
120-175 wraps every fit in ``mlflow.start_run`` + log_params/log_metrics
and registers the best model; model_monitoring.py appends run records).

MLflow is a service; the Spark-native counterpart is a run STORE — an
append-only parquet table of (run_name, params map, metrics map,
logged_at) rows. Logging a run is a distributed append; "the registry"
is a query: best_run = orderBy(metric).limit(1). This is deliberately
the same shape as ml/training.train_demand_models' metrics table, so
the training surface and the tracking surface compose.

The reference's mlflow.spark.log_model (artifact storage) maps to
``model.write().save(path)`` — MLlib's native persistence — which needs
no tracking-server dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.sources import readers, writers

RUN_SCHEMA = (
    "run_name string, params map<string,string>, "
    "metrics map<string,double>, logged_at string"
)


def log_run(
    spark: SparkSession,
    store: str,
    run_name: str,
    params: dict[str, str],
    metrics: dict[str, float],
    logged_at: str,
) -> None:
    """Append one run record (mlflow.start_run + log_params/log_metrics,
    demand_forecasting.py:123-167). ``logged_at`` is caller-supplied so
    runs are replayable/deterministic in tests."""
    row = [(run_name, {k: str(v) for k, v in params.items()},
            {k: float(v) for k, v in metrics.items()}, logged_at)]
    writers.write_append(spark.createDataFrame(row, RUN_SCHEMA), store)


def runs(spark: SparkSession, store: str) -> DataFrame:
    """All runs, one metric per row (exploded for SQL-friendly reads)."""
    return (
        readers.read_parquet(spark, store)
        .select("run_name", "logged_at", F.explode("metrics").alias("metric", "value"))
    )


def best_run(
    spark: SparkSession, store: str, metric: str = "rmse", minimize: bool = True
) -> DataFrame:
    """Best-model selection as a query (the reference's register-best
    step, demand_forecasting.py:214-232): order runs by one metric."""
    r = runs(spark, store).filter(F.col("metric") == metric)
    order = F.col("value").asc() if minimize else F.col("value").desc()
    return r.orderBy(order, "run_name").limit(1)
