"""Scale-path tools: salted join equivalence and salted aggregation."""

from __future__ import annotations

from distributed_mobility_data_pipeline_spark.operators import skew


def test_salted_join_equals_plain_join(spark):
    large = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(300)], "id long, k long, v double"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, name string")
    plain = large.join(small, "k").select("id", "k", "v", "name")
    salted = skew.salted_join(large, small, "k", "id", n_salts=4).select(
        "id", "k", "v", "name"
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_count_equals_plain_count(spark):
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(500)], "id long, k long"
    )
    plain = {(r.k, r["count"]) for r in df.groupBy("k").count().collect()}
    salted = {(r.k, r.n) for r in skew.salted_count(df, "k", "id").collect()}
    assert plain == salted
