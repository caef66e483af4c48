"""Readers (SURVEY.md §2.1 S1/S2/S7/S9).

Re-expresses the reference's scan surface:
- S1 CSV scan (bronze_loader.py:15-20) — but with an explicit schema; a
  schema-inference pass over 100 TB of CSV is a full extra read.
- S2 table scan (delta_utils.py:21-22) — ``read_parquet``: parquet is the
  package's one table format (sources/writers.py writes it).
- S9 JSONL API-log scan (model_monitoring.py:136-152 reads the log in
  plain Python; here it is a schema'd distributed ``spark.read.json``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_mobility_data_pipeline_spark import schemas


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan. Explicit schema by default; inference only as an opt-in
    convenience (pass ``schema=None`` consciously on small data)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text scan: one row per line, column ``value`` — the entry
    point for log/corpus files that feed the text/dedup operators."""
    return spark.read.text(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema merge across files (mergeSchema): the
    read-side half of schema evolution — newer files may carry added
    columns; older rows surface them as NULL. Costs a footer merge at
    planning, so reserve it for tables that actually evolve."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_json_log(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Schema'd JSONL scan (no inference). Malformed lines, such as a
    torn last line after a crash mid-append, are dropped: PERMISSIVE mode
    without a corrupt-record column would turn them into all-null rows."""
    return (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the driver's `events` table, normalizing `ts` to TimestampType
    whatever the on-disk parquet encoding:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
      (PARQUET_TYPE_ILLEGAL) — read nanos as long, floor to µs (same value
      DuckDB produces casting TIMESTAMP_NS → TIMESTAMP).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 surfaces it as
      TIMESTAMP_NTZ — cast to TimestampType (value-preserving: the session
      timezone is pinned UTC, matching the DuckDB oracle).
    - TIMESTAMP(MICROS, UTC): already TimestampType, pass through.

    Downstream operators (unix_micros, watermarks, asof) can therefore
    assume `ts` is always TimestampType."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from ``sf_dir`` and register each
    as a temp view (so both DataFrame and ``spark.sql`` paths work);
    tables missing from ``sf_dir`` are skipped. ``events`` goes through
    :func:`read_events`, so its ts column is normalized to TimestampType
    regardless of the file's timestamp encoding (a plain parquet read
    leaves µs data as timestamp_ntz and fails outright on the nanos
    encoding FIXTURES.md documents)."""
    out: dict[str, DataFrame] = {}
    for name in tables or schemas.TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            df = read_events(spark, p) if name == "events" else (
                spark.read.parquet(p)
            )
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
