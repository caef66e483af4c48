"""Set operations (SURVEY.md §2.8 U1 + free built-ins).

The reference uses a single `union` (silver_to_gold.py:49-55, role-playing
zone dim); the engine exposes the full set-op surface. All compile to
Spark's Union/Intersect/Except logical operators — distinct variants cost
one shuffle on the full row, so keep projections narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.union(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)
