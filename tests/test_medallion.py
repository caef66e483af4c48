"""End-to-end medallion pipeline on the trips fixture — mirrors the
reference's test invariants (SURVEY.md §5: required columns, dedup,
no-null keys, non-negative fares, min table sizes)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_mobility_data_pipeline_spark.plans import medallion
from tests.fixtures import trips_pdf


@pytest.fixture(scope="module")
def layers(spark):
    raw = spark.createDataFrame(trips_pdf())
    b = medallion.bronze(raw, "fixture")
    s = medallion.silver(b)
    return {"raw": raw, "bronze": b, "silver": s, **medallion.gold(s)}


def test_bronze_audit_columns(layers):
    for c in ("ingested_at", "source_file", "requested_date"):
        assert c in layers["bronze"].columns
    assert layers["bronze"].count() == 2050  # fixture injects 50 dups


def test_silver_dedup_and_invariants(layers):
    s = layers["silver"]
    assert s.count() == 2000  # dups collapsed
    assert s.filter(F.col("trip_id").isNull()).count() == 0
    assert s.filter(F.col("fare_amount") < 0).count() == 0
    # normalization: payment_method lowercased + trimmed
    vals = {r[0] for r in s.select("payment_method").distinct().collect()}
    assert vals == {"card", "wallet", "cash"}
    # cancelled trips have completed_at nulled
    assert (
        s.filter(
            F.col("status").startswith("cancelled")
            & F.col("completed_at").isNotNull()
        ).count()
        == 0
    )


def test_gold_star_schema(layers):
    tf = layers["trips_fact"]
    assert tf.count() == 2000
    # surrogate keys resolve for every fact row (RI holds)
    assert tf.filter(F.col("user_key").isNull()).count() == 0
    assert tf.filter(F.col("pickup_location_id").isNull()).count() == 0
    assert layers["dim_users"].count() <= 500
    assert layers["payments_fact"].count() == 2000


def test_location_metrics(layers):
    lm = layers["location_metrics"]
    assert set(lm.columns) == {
        "pickup_zone_id",
        "is_weekend",
        "total_trips",
        "total_revenue",
        "avg_distance_km",
        "avg_duration_min",
        "active_drivers",
    }
    total = lm.agg(F.sum("total_trips")).collect()[0][0]
    assert total == layers["silver"].count()


def test_gold_aggregates_consistency(layers):
    rev = layers["revenue_daily_by_pickup_zone"]
    total = rev.agg(F.sum("completed_trips")).collect()[0][0]
    completed = layers["silver"].filter(F.col("status") == "completed").count()
    assert total == completed
    assert rev.filter(F.col("total_revenue") < 0).count() == 0


def test_medallion_persist_roundtrip(spark, tmp_path):
    raw = spark.createDataFrame(trips_pdf(300))
    out = medallion.run_medallion(raw, str(tmp_path / "lake"))
    back = spark.read.parquet(str(tmp_path / "lake" / "silver"))
    assert back.count() == out["silver"].count()
    # partition pruning works on the persisted layout
    one_day = back.select("requested_date").distinct().limit(1).collect()[0][0]
    pruned = spark.read.parquet(str(tmp_path / "lake" / "silver")).filter(
        F.col("requested_date") == F.lit(one_day)
    )
    assert 0 < pruned.count() < back.count()


def test_bronze_and_silver_share_one_load_time(spark, tmp_path):
    # bronze and silver are written by separate queries; both must hold
    # the one load time bronze() stamped, not a per-query clock reading
    lake = tmp_path / "lake"
    medallion.run_medallion(spark.createDataFrame(trips_pdf(100)), str(lake))
    stamps = {
        name: {
            r[0]
            for r in spark.read.parquet(str(lake / name))
            .select("ingested_at").distinct().collect()
        }
        for name in ("bronze", "silver")
    }
    assert len(stamps["bronze"]) == 1
    assert stamps["silver"] == stamps["bronze"]


def test_silver_dedup_is_deterministic_on_same_load_duplicates(spark):
    """bronze() stamps one ingested_at and one source_file per load, so
    duplicate trip_ids tie on the dedup order columns — the survivor
    must be a deterministic function of row CONTENT (payload
    tiebreak), not of shuffle order."""
    import pandas as pd

    pdf = trips_pdf(n=40, n_dups=0)
    dup = pdf.iloc[[0]].copy()
    dup["fare_amount"] = dup["fare_amount"] + 1.0  # same trip_id, new payload
    raw_pdf = pd.concat([pdf, dup], ignore_index=True)
    picks = set()
    for n_parts in (1, 7, 32):
        raw = spark.createDataFrame(raw_pdf).repartition(n_parts)
        sil = medallion.silver(medallion.bronze(raw))
        r = [x for x in sil.collect() if x.trip_id == 1]
        assert len(r) == 1
        picks.add(r[0].fare_amount)
    assert len(picks) == 1, picks  # content-deterministic survivor
