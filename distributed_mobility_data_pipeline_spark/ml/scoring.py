"""Batch scoring (SURVEY.md §2.11 F1-F3, batch_scoring.py).

Three scorer tiers, mirroring the reference:
- F1/F2 ``pandas_udf`` model inference: an Arrow-vectorized UDF whose
  closure ships pickled model weights to the Python workers
  (batch_scoring.py:97-104 ships a joblib model the same way). Here the
  model is a plain linear form (weights dict) so scoring is
  deterministic and the oracle can replicate it in SQL — proving the
  UDF plumbing without a heavyweight model artifact.
- F3 expression fallback: each formula is one SQL text, ``DEMAND_SQL``
  and ``SURGE_SQL``, formatted once at import from the named constants
  below, with greatest/least clamping (batch_scoring.py:71-82, 120-125).
  It stays in the JVM; each use parses the text once, so batch scoring
  and a /predict request (ml/serving.py) share the one formula at the
  cost of one parse instead of one py4j call per Column node.
- MLlib transform scoring: any fitted Pipeline/model `.transform`.

Run metadata (scoring_run_id, scored_at) follows batch_scoring.py:145-149;
the idempotent write path is sources.writers.merge_upsert (S5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# Fixed "trained" weights for the linear demand scorer (stand-in for a
# joblib artifact; deterministic so oracle-checkable).
DEMAND_WEIGHTS = {"n_lag_1": 0.5, "n_lag_7": 0.3, "avg_7r": 0.2}
DEMAND_BIAS = 1.0

SURGE_RATIO_WEIGHT = 0.25
SURGE_WEEKEND_BONUS = 0.1
SURGE_CLAMP = (1.0, 3.0)


def _d(x: float) -> str:
    """A double literal: SQL reads a bare ``0.5`` as a decimal."""
    return f"{float(x)!r}D"


# Predictions rounded to 3 decimals; a NULL input counts as 0 (demand) or
# as a ratio of 1 (surge).
DEMAND_SQL = (
    f"round({_d(DEMAND_WEIGHTS['n_lag_1'])} * CAST(coalesce(n_lag_1, 0) AS DOUBLE)"
    f" + {_d(DEMAND_WEIGHTS['n_lag_7'])} * CAST(coalesce(n_lag_7, 0) AS DOUBLE)"
    f" + {_d(DEMAND_WEIGHTS['avg_7r'])} * coalesce(avg_7r, 0.0D)"
    f" + {_d(DEMAND_BIAS)}, 3)"
)
SURGE_SQL = (
    f"round(least(greatest(1.0D"
    f" + coalesce(CAST(n AS DOUBLE) / nullif(avg_7r, 0.0D), 1.0D) * {_d(SURGE_RATIO_WEIGHT)}"
    f" + CAST(is_weekend AS DOUBLE) * {_d(SURGE_WEEKEND_BONUS)},"
    f" {_d(SURGE_CLAMP[0])}), {_d(SURGE_CLAMP[1])}), 3)"
)


def score_demand_pandas_udf(features: DataFrame) -> DataFrame:
    """F1: Arrow-batched inference. The weights travel in the UDF
    closure exactly like the reference's pickled model."""
    w = dict(DEMAND_WEIGHTS)
    b = DEMAND_BIAS

    @F.pandas_udf(DoubleType())
    def predict(n_lag_1: pd.Series, n_lag_7: pd.Series, avg_7r: pd.Series) -> pd.Series:
        return (
            w["n_lag_1"] * n_lag_1.fillna(0.0)
            + w["n_lag_7"] * n_lag_7.fillna(0.0)
            + w["avg_7r"] * avg_7r.fillna(0.0)
            + b
        )

    return features.withColumn(
        "predicted_demand",
        F.round(predict("n_lag_1", "n_lag_7", "avg_7r"), 3),
    )


def score_demand_expression(features: DataFrame) -> DataFrame:
    """F3: the same linear form as ``DEMAND_SQL`` — bitwise-equal to the
    pandas_udf path (proven by test + oracle)."""
    return features.withColumn("predicted_demand", F.expr(DEMAND_SQL))


def score_surge_expression(features: DataFrame) -> DataFrame:
    """F2/F3 surge semantics (``SURGE_SQL``): 1 + ``SURGE_RATIO_WEIGHT`` *
    n/avg_7r (a ratio of 1 when there is no baseline), + ``SURGE_WEEKEND_BONUS``
    on weekends, clamped into ``SURGE_CLAMP`` with greatest/least
    (batch_scoring.py:120-125)."""
    return features.withColumn("predicted_surge", F.expr(SURGE_SQL))
