"""Serving + tracking surface (reference app.py /predict routes and
mlflow run logging): batch request scoring, fallback/model split,
prediction-event log roundtrip, run store + best-run selection."""

from __future__ import annotations

import json
import os
import random
from decimal import ROUND_HALF_UP, Decimal

import pyspark.sql.functions as F
import pytest
from pyspark.ml import Pipeline
from pyspark.ml.regression import LinearRegression

from distributed_mobility_data_pipeline_spark.ml import (
    monitoring, scoring, serving, tracking, training,
)


def test_serve_demand_fallback_batch(spark):
    # a null lag must stay null, not NaN, whether or not the session
    # enables Arrow for pandas conversion (the driver's session does not)
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            reqs = serving.demand_requests(
                spark,
                [(10, 2, 0, 4.0, 6.0, 5.0), (22, 6, 1, None, 2.0, 1.5)],
            )
            out = serving.serve_demand(reqs, request_id="r1")
            rows = {r.hour: r for r in out.collect()}
            # 0.5*4 + 0.3*6 + 0.2*5 + 1 = 5.8 ; null lag → coalesce 0
            assert rows[10].predicted == 5.8
            assert rows[22].predicted == round(0.3 * 2.0 + 0.2 * 1.5 + 1.0, 2)
            assert rows[10].model_used == "fallback"
            assert rows[10].request_id == "r1"
    finally:
        spark.conf.set(conf, before)


def test_serve_surge_clamped(spark):
    reqs = serving.surge_requests(
        spark, [(8, 0, 100, 1.0), (3, 1, 0, 10.0)]
    )
    out = {r.hour: r for r in serving.serve_surge(reqs).collect()}
    assert out[8].predicted_surge_multiplier == 3.0  # clamped at max
    assert 1.0 <= out[3].predicted_surge_multiplier <= 3.0


def test_prediction_log_roundtrip(spark, tmp_path):
    p = str(tmp_path / "pred_log")
    reqs = serving.demand_requests(spark, [(1, 1, 0, 1.0, 1.0, 1.0)])
    out = serving.serve_demand(reqs, request_id="log-1")
    serving.log_prediction_events(out, p, task="demand", latency_ms=12)
    serving.log_prediction_events(out, p, task="demand", latency_ms=20)
    back = spark.read.json(p)
    assert back.count() == 2
    assert {r.latency_ms for r in back.collect()} == {12, 20}
    assert back.columns and set(back.columns) >= {
        "request_id", "task", "model_used", "latency_ms",
        "endpoint", "status",
    }
    # the DOCUMENTED round-trip: the log this module writes must feed
    # ml/monitoring.latency_stats directly (it groups on endpoint and
    # error-counts on status — a log without them fails to resolve)
    stats = monitoring.latency_stats(back).collect()
    assert len(stats) == 1 and stats[0].endpoint == "/predict/demand"
    assert stats[0].n_requests == 2 and stats[0].n_errors == 0


@pytest.mark.parametrize(
    "task, make, serve, row",
    [
        ("demand", serving.demand_requests, serving.serve_demand, (10, 2, 0, 4.0, None, 5.0)),
        ("surge", serving.surge_requests, serving.serve_surge, (8, 0, 100, 1.0)),
    ],
)
def test_fallback_request_runs_no_spark_job(spark, tmp_path, task, make, serve, row):
    """Request frame → fallback scoring → collect → event log, as the
    /predict path runs it, stays on the driver: the frame is a local
    relation the scoring projection folds into, and the log is a
    driver-side append to one file per process."""
    sc, log, group = spark.sparkContext, str(tmp_path / "log"), f"no-job-{task}"
    sc.setJobGroup(group, "fallback request")
    try:
        for n in (1, 1_000):
            resp = serve(make(spark, [row] * n), request_id=f"{task}-{n}")
            assert len(resp.collect()) == n
            serving.log_prediction_events(resp, log, task, latency_ms=n)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len([f for f in os.listdir(log) if not f.startswith((".", "_"))]) == 1
    (stats,) = monitoring.latency_stats(spark.read.json(log)).collect()
    assert stats.endpoint == f"/predict/{task}" and stats.n_requests == 1_001


def test_serve_demand_with_fitted_model(spark, tmp_path):
    """The MLlib-model branch: a fitted pipeline scores the request and
    its prediction, rounded to 2 decimals, is the response; its event
    log has one line per response row."""
    numeric = ["n_lag_1", "n_lag_7", "avg_7r"]
    rows = [(h, 1, 0, 1.0 * h, 2.0 * h, 0.5 * h + 1) for h in range(1, 9)]
    train = serving.demand_requests(spark, rows).withColumn(
        "label", F.col("n_lag_1") * 0.7 + F.col("avg_7r") + F.lit(0.333)
    )
    stages = training.preprocessing_pipeline([], numeric).getStages()
    fitted = Pipeline(stages=[*stages, LinearRegression()]).fit(train)
    req = serving.demand_requests(spark, rows[:3] + [(4, 2, 1, 0.25, 3.5, 7.125)])
    out = serving.serve_demand(req, model=fitted, request_id="m-1").collect()
    want = {r.hour: round(r.prediction, 2) for r in fitted.transform(req).collect()}
    assert {r.model_used for r in out} == {"local_artifact"}
    assert {r.hour: r.predicted for r in out} == want
    assert len(out) == 4 and "predicted_demand" not in out[0].asDict()
    log = str(tmp_path / "log")
    serving.log_prediction_events(
        serving.serve_demand(req, model=fitted, request_id="m-1"), log, "demand", 7
    )
    (part,) = os.listdir(log)
    with open(os.path.join(log, part), encoding="utf-8") as f:
        lines = [json.loads(line) for line in f]
    assert [(e["request_id"], e["model_used"], e["latency_ms"]) for e in lines] == [
        ("m-1", "local_artifact", 7)
    ] * 4


def test_log_reuses_the_response_plan(spark, tmp_path, monkeypatch):
    """The event log re-collects the response the caller collected, so
    it reuses that plan; it builds no Dataset of its own."""
    resp = serving.serve_surge(
        serving.surge_requests(spark, [(8, 0, 100, 1.0)] * 3), request_id="plan-1"
    )
    resp.collect()

    def new_dataset(*args, **kwargs):
        raise AssertionError("log_prediction_events built a new Dataset")

    with monkeypatch.context() as m:
        for name in ("select", "selectExpr", "withColumn", "drop", "toDF"):
            m.setattr(type(resp), name, new_dataset)
        serving.log_prediction_events(resp, str(tmp_path), "surge", 3)
    (stats,) = monitoring.latency_stats(spark.read.json(str(tmp_path))).collect()
    assert stats.endpoint == "/predict/surge" and stats.n_requests == 3


def _spark_round(x: float, digits: int) -> float:
    """Spark's ``round`` of a double: its shortest decimal string,
    rounded half up (Python's ``round`` rounds the binary value half to
    even)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def _demand_oracle(row) -> float:
    _, _, _, *lags = row
    raw = sum(
        w * (0.0 if v is None else v)
        for w, v in zip(scoring.DEMAND_WEIGHTS.values(), lags)
    ) + scoring.DEMAND_BIAS
    return _spark_round(_spark_round(raw, 3), 2)


def _surge_oracle(row) -> float:
    _, is_weekend, n, avg_7r = row
    ratio = n / avg_7r if avg_7r else 1.0
    raw = 1.0 + ratio * scoring.SURGE_RATIO_WEIGHT + is_weekend * scoring.SURGE_WEEKEND_BONUS
    lo, hi = scoring.SURGE_CLAMP
    return _spark_round(min(max(raw, lo), hi), 3)


def test_fallback_scorers_match_independent_oracles(spark):
    """The SQL-text scorers, batch and served, are bit-equal to the F1
    pandas_udf and to a Python evaluation that rounds as Spark does (3
    decimals, then 2 for a demand response). Random rows carry NULL lags
    and surge baselines of 0 and NULL; rows on a 0.005 grid put many
    predictions on rounding ties, where rounding once to 2 decimals, or
    half to even, gives another value. The hour field holds the row
    index."""
    rng = random.Random(12)

    def lag():
        return None if rng.random() < 0.1 else rng.uniform(0, 300)

    def grid():
        return rng.randrange(20_000) / 200

    demand = [(i, i % 7, i % 2, lag(), lag(), lag()) for i in range(8_000)]
    demand += [(i, 0, 0, grid(), grid(), grid()) for i in range(8_000, 10_000)]
    reqs = serving.demand_requests(spark, demand)
    udf = dict(scoring.score_demand_pandas_udf(reqs).select("hour", "predicted_demand").collect())
    sql = dict(scoring.score_demand_expression(reqs).select("hour", "predicted_demand").collect())
    assert sql == udf
    served = dict(serving.serve_demand(reqs).select("hour", "predicted").collect())
    assert [i for i, r in enumerate(demand) if served[i] != _demand_oracle(r)] == []

    baselines = [None, 0.0] + [rng.uniform(0.1, 50) for _ in range(18)]
    surge = [(i, i % 2, rng.randrange(200), rng.choice(baselines)) for i in range(8_000)]
    surge += [(i, i % 2, rng.randrange(20), rng.randrange(1, 400) / 200) for i in range(8_000, 10_000)]
    reqs = serving.surge_requests(spark, surge)
    want = {i: _surge_oracle(r) for i, r in enumerate(surge)}
    assert dict(scoring.score_surge_expression(reqs).select("hour", "predicted_surge").collect()) == want
    served = dict(serving.serve_surge(reqs).select("hour", "predicted_surge_multiplier").collect())
    assert served == want


def _shape(plan):
    kids = plan.children()
    return plan.nodeName(), [_shape(kids.apply(i)) for i in range(kids.size())]


@pytest.mark.parametrize(
    "make, serve, row",
    [
        (serving.demand_requests, serving.serve_demand, (10, 2, 0, 4.0, None, 5.0)),
        (serving.surge_requests, serving.serve_surge, (8, 0, 100, 1.0)),
    ],
)
def test_fallback_response_is_one_projection(spark, make, serve, row):
    """A fallback response is one Project over the request's local
    relation, which the optimizer folds into a new local relation."""
    qe = serve(make(spark, [row] * 3), request_id="plan")._jdf.queryExecution()
    assert _shape(qe.analyzed()) == ("Project", [("LocalRelation", [])])
    assert _shape(qe.optimizedPlan()) == ("LocalRelation", [])


def test_health_row(spark):
    """/health, like a fallback request, is a local relation read on the
    driver: no Spark job."""
    sc, group = spark.sparkContext, "no-job-health"
    sc.setJobGroup(group, "health")
    try:
        (h,) = serving.health(spark, {"demand": object()}).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert h.status == "ok" and h.demand_model_loaded and not h.surge_model_loaded


def test_tracking_best_run(spark, tmp_path):
    store = str(tmp_path / "runs")
    tracking.log_run(
        spark, store, "demand_rf",
        {"model_type": "RandomForest", "num_trees": "100"},
        {"rmse": 3.2, "mae": 2.1}, "2026-01-01 00:00:00",
    )
    tracking.log_run(
        spark, store, "demand_gbt",
        {"model_type": "GBT"}, {"rmse": 2.8, "mae": 2.3}, "2026-01-01 00:10:00",
    )
    tracking.log_run(
        spark, store, "demand_lr",
        {"model_type": "LR"}, {"rmse": 4.0, "mae": 3.0}, "2026-01-01 00:20:00",
    )
    assert tracking.runs(spark, store).count() == 6  # 3 runs x 2 metrics
    best = tracking.best_run(spark, store, "rmse").collect()[0]
    assert best.run_name == "demand_gbt" and best.value == 2.8
    worst = tracking.best_run(spark, store, "mae", minimize=False).collect()[0]
    assert worst.run_name == "demand_lr"
