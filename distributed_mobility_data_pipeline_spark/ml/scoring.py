"""Batch scoring (SURVEY.md §2.11 F1-F3, batch_scoring.py).

Three scorer tiers, mirroring the reference:
- F1/F2 ``pandas_udf`` model inference: an Arrow-vectorized UDF whose
  closure ships pickled model weights to the Python workers
  (batch_scoring.py:97-104 ships a joblib model the same way). Here the
  model is a plain linear form (weights dict) so scoring is
  deterministic and the oracle can replicate it in SQL — proving the
  UDF plumbing without a heavyweight model artifact.
- F3 expression fallback: pure Column algebra with greatest/least
  clamping (batch_scoring.py:71-82, 120-125) — the fast path that stays
  in the JVM; preferred when no model artifact exists.
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
    """F3: the same linear form as pure column algebra — bitwise-equal
    to the pandas_udf path (proven by test + oracle), zero Python cost."""
    pred = (
        F.lit(DEMAND_WEIGHTS["n_lag_1"]) * F.coalesce(F.col("n_lag_1"), F.lit(0)).cast("double")
        + F.lit(DEMAND_WEIGHTS["n_lag_7"]) * F.coalesce(F.col("n_lag_7"), F.lit(0)).cast("double")
        + F.lit(DEMAND_WEIGHTS["avg_7r"]) * F.coalesce(F.col("avg_7r"), F.lit(0.0))
        + F.lit(DEMAND_BIAS)
    )
    return features.withColumn("predicted_demand", F.round(pred, 3))


def score_surge_expression(features: DataFrame) -> DataFrame:
    """F2/F3 surge semantics: demand/supply-style factors clamped into
    [1.0, 3.0] with greatest/least (batch_scoring.py:120-125)."""
    raw = (
        F.lit(1.0)
        + F.coalesce(F.col("n").cast("double") / F.nullif(F.col("avg_7r"), F.lit(0.0)), F.lit(1.0)) * 0.25
        + F.col("is_weekend").cast("double") * 0.1
    )
    return features.withColumn(
        "predicted_surge",
        F.round(F.least(F.greatest(raw, F.lit(1.0)), F.lit(3.0)), 3),
    )

