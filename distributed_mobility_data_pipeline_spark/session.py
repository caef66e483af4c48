"""SparkSession factory.

Mirrors the capability of the reference's session builder
(/root/reference/src/utils/spark_session.py:6-24: Delta extensions, fixed
shuffle.partitions=200, UTC) but Spark-first:

- AQE on (runtime coalesce + skew-join) instead of a fixed 200 shuffle
  partitions — strictly better at every scale (SURVEY.md §4).
- Arrow enabled for the pandas-UDF inference path.
- IN-lists of more than 10 literals (``isin``; Spark turns them into a
  set) are compiled against a set reference, not inlined as ``switch``
  case labels (``inSetSwitchThreshold=0``), so a query re-run with a
  new list reuses its compiled classes instead of compiling again.
- UTC session timezone pinned so timestamp semantics match the DuckDB
  oracle and the reference (config.yaml:22).
- No Delta Lake extensions: parquet is the package's one table format,
  and sources/writers.py gives it the reference's Delta write semantics
  (overwrite, MERGE, CDC, delete, Z-order) through one crash-safe commit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "distributed_mobility_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At 100 TB the same code runs with ``master`` pointing at a cluster
    manager; AQE re-plans shuffle partition counts at runtime so the
    ``shuffle_partitions`` setting is only the pre-AQE upper bound.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.inSetSwitchThreshold", "0")
        # split size cap: at 100 TB this bounds per-task input so scan
        # partitions fit executor memory; AQE coalesces the small tail
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

