"""Pinned MLlib training outputs at sf0.001.

The oracle compare checks the two training queries by rows only, so a
change that shifts a computed metric (a persist that moves seeded
sampling under AQE, say) would pass it. The values are exact: recorded on `local[2]` and
`local[4]` with the test session's 4 shuffle partitions, they agree on
both, although the demand split depends on the physical layout
(ml/training.py).
"""

from __future__ import annotations

import __spark_entry__ as entrymod

DEMAND = {
    # model: (rmse, mae, r2, is_best)
    "gbt": (4.40453478513436, 3.5349180842178303, -0.9346335715797087, 0),
    "linear_regression": (
        3.8748257985893493, 3.297955494172967, -0.49727990717080206, 0,
    ),
    "random_forest": (
        3.8063947093494486, 3.10671072932915, -0.4448616814072408, 1,
    ),
}

CLASSIFIER = {
    "accuracy": 0.2962962962962963,
    "f1": 0.18653159488985346,
    "weightedPrecision": 0.1727099384263127,
    "weightedRecall": 0.2962962962962963,
}


def _run(spark, sf_dir, name):
    return entrymod.queries()[name](spark, sf_dir).collect()


def test_train_demand_models_values(spark, sf_dir):
    got = {
        r.model: (r.rmse, r.mae, r.r2, r.is_best)
        for r in _run(spark, sf_dir, "ml_train_demand_models")
    }
    assert got == DEMAND


def test_train_classifier_values(spark, sf_dir):
    got = {r.metric: r.value for r in _run(spark, sf_dir, "ml_train_classifier")}
    assert got == CLASSIFIER
