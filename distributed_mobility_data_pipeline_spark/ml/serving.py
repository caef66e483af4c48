"""Request-path model serving, on the driver (reference src/api/app.py:243-378).

The reference serves predictions from one FastAPI process: one joblib
model in memory, a Python loop over request rows (app.py:305-345), a
fallback formula when no artifact is loaded, and a prediction-event log
appended as JSONL (app.py:219-239). Here:

- a request batch (one row or thousands) becomes a local relation built
  from an Arrow table and is scored as ONE vectorized plan — MLlib
  ``model.transform`` when a fitted model is supplied, the fallback
  formula otherwise, mirroring the reference's local_artifact/fallback
  split. The fallback is one projection over the local relation, the
  SQL text batch scoring uses (ml/scoring.py ``DEMAND_SQL``/``SURGE_SQL``)
  rounded to the response's digits; the optimizer folds it into the
  relation, so collecting a response runs no Spark job. The Arrow
  table, not pandas, carries the rows: a pandas
  frame only takes the Arrow route when the session enables it, and on
  the other route a null lag arrives as NaN;
- the prediction-event log is a driver-side JSONL append, one file per
  process, in the shape ml/monitoring.latency_stats reads back (the
  reference's request_id, task, model_used, latency_ms, plus endpoint
  and status). It re-collects the response DataFrame itself, so it
  reuses the plan the caller's collect built: only execution runs again
  (for a fallback response, a read of the local relation), where a new
  select would analyse, optimise and plan a second Dataset;
- /health is a one-row local relation built from an Arrow table, so
  collecting it runs no Spark job either.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.ml import scoring

DEMAND_REQUEST_SCHEMA = pa.schema(
    [("hour", pa.int32()), ("day_of_week", pa.int32()), ("is_weekend", pa.int32()),
     ("n_lag_1", pa.float64()), ("n_lag_7", pa.float64()), ("avg_7r", pa.float64())]
)
SURGE_REQUEST_SCHEMA = pa.schema(
    [("hour", pa.int32()), ("is_weekend", pa.int32()), ("n", pa.int64()),
     ("avg_7r", pa.float64())]
)


def _requests(spark: SparkSession, rows: list[tuple], schema: pa.Schema) -> DataFrame:
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    return spark.createDataFrame(table)


def demand_requests(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Local request rows → DataFrame (S7), the API's request body."""
    return _requests(spark, rows, DEMAND_REQUEST_SCHEMA)


def surge_requests(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return _requests(spark, rows, SURGE_REQUEST_SCHEMA)


def _serve(requests, model, request_id, sql, pred_col, out_col, digits) -> DataFrame:
    if model is None:
        # one projection: the optimizer folds it into the local relation
        return requests.select(
            F.lit(request_id).alias("request_id"),
            "*",
            F.expr(f"round({sql}, {digits}) AS {out_col}"),
            F.expr("'fallback' AS model_used"),
        )
    scored = model.transform(requests).withColumnRenamed("prediction", pred_col)
    return scored.select(
        F.lit(request_id).alias("request_id"),
        "*",
        F.round(F.col(pred_col), digits).alias(out_col),
        F.lit("local_artifact").alias("model_used"),
    ).drop(pred_col)


def serve_demand(
    requests: DataFrame, model=None, request_id: str = "batch-0"
) -> DataFrame:
    """Score a demand request batch (app.py:268-345 semantics): model
    artifact if loaded, expression fallback otherwise; predictions
    rounded to 2 decimals like the reference's response."""
    return _serve(requests, model, request_id, scoring.DEMAND_SQL,
                  "predicted_demand", "predicted", 2)


def serve_surge(
    requests: DataFrame, model=None, request_id: str = "batch-0"
) -> DataFrame:
    """Surge twin (app.py:347-378): clamped multiplier, 3 decimals."""
    return _serve(requests, model, request_id, scoring.SURGE_SQL,
                  "predicted_surge", "predicted_surge_multiplier", 3)


def log_prediction_events(
    responses: DataFrame, path: str, task: str, latency_ms: int,
    status: int = 200,
) -> None:
    """Append one JSON line per response row to ``<path>/part-<pid>.jsonl``
    (app.py:219-239's log shape, extended with the endpoint/status fields
    ml/monitoring.latency_stats groups and error-counts on). One write
    per call; a line torn by a crash is dropped on read by
    sources.readers.read_json_log.

    The rows come from ``responses.collect()``: the caller's collect has
    already planned that DataFrame, so this re-collect runs execution
    only and builds no second Dataset."""
    lines = "".join(
        json.dumps({"request_id": r.request_id, "task": task, "endpoint": f"/predict/{task}",
                    "model_used": r.model_used, "latency_ms": latency_ms, "status": status},
                   separators=(",", ":"))
        + "\n"
        for r in responses.collect()
    )
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"part-{os.getpid()}.jsonl"), "a", encoding="utf-8") as f:
        f.write(lines)


def health(spark: SparkSession, models: dict | None = None) -> DataFrame:
    """One-row health record (app.py:247-253), a local relation like a
    request frame."""
    models = models or {}
    return spark.createDataFrame(pa.table({
        "status": ["ok"],
        "demand_model_loaded": [models.get("demand") is not None],
        "surge_model_loaded": [models.get("surge") is not None],
    }))
