"""Readers (SURVEY.md §2.1 S1/S2/S7/S9): the one module that reads
tables.

Re-expresses the reference's scan surface:
- S1 CSV scan (bronze_loader.py:15-20) — but with an explicit schema; a
  schema-inference pass over 100 TB of CSV is a full extra read.
- S2 table scan (delta_utils.py:21-22) — ``read_parquet``: parquet is the
  package's one table format (sources/writers.py writes it).
  ``read_batches`` reads the streaming sinks' micro-batch partials
  (layout in ``writers.write_batch``).
- S9 JSONL API-log scan (model_monitoring.py:136-152 reads the log in
  plain Python; here it is a schema'd distributed ``spark.read.json``).

The driver's testdata tables are read with their ``schemas`` StructType
(``read_testdata``), so they plan without an inference job; the one
inference left is ``_events_schema``'s probe of the events file's
timestamp encoding, shared by the batch and the stream reader. A table
the package commits (every ``writers`` mutation) carries its read schema
in ``SCHEMA_FILE``, so ``read_parquet`` plans it without a job too;
appended tables, foreign files and ``read_parquet_evolving`` infer.
``tests/test_writers.py`` fails when another package module, or
``__spark_entry__.py``, reads a table itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_mobility_data_pipeline_spark import schemas

# A committed table's read schema (StructType JSON), beside its data
# files; Spark and pyarrow skip ``_``-prefixed files when they read one.
SCHEMA_FILE = "_schema.json"


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
    """Parquet table scan. A table ``writers`` committed plans from its
    committed schema, so the read runs no Spark job; any other parquet
    file or directory is read by inference (one footer-reading job)."""
    schema = committed_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def committed_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The read schema ``writers`` committed with the table at ``path``
    (its ``SCHEMA_FILE``), or None when the table has none."""
    jvm = spark._jvm
    f = jvm.org.apache.hadoop.fs.Path(path, SCHEMA_FILE)
    fs = f.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(f):
        return None
    stream = fs.open(f)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return T.StructType.fromJson(json.loads(text))


def read_batches(
    spark: SparkSession, path: str, before: int | None = None
) -> DataFrame:
    """The micro-batch partials ``writers.write_batch`` wrote at ``path``,
    with their ``batch_id`` column; with ``before``, only the batches
    whose id is below it (what a replayed batch saw the first time)."""
    df = read_parquet(spark, path)
    if before is None:
        return df
    return df.filter(F.col("batch_id") < F.lit(before))


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


def _events_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema to read the events table at ``path`` with. Its ``ts`` has
    shipped in three parquet encodings:

    - TIMESTAMP(MICROS), with or without UTC adjustment: ``schemas.EVENTS``
      reads both as TimestampType (the same instants under the pinned-UTC
      session, matching the DuckDB oracle).
    - TIMESTAMP(NANOS): Spark rejects it as a timestamp
      (PARQUET_TYPE_ILLEGAL) but reads it as ``ts long``; ``_ts_micros``
      then floors ns to µs, the value DuckDB produces casting
      TIMESTAMP_NS → TIMESTAMP.

    Only inferring the ns file's schema needs ``nanosAsLong``, so the
    probe sets it around one inferred read (one Spark job; a read with
    an explicit schema runs none)."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        ts = spark.read.parquet(path).schema["ts"].dataType
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    if not isinstance(ts, T.LongType):
        return schemas.EVENTS
    return T.StructType(
        [T.StructField("ts", ts) if f.name == "ts" else f for f in schemas.EVENTS]
    )


def _ts_micros(df: DataFrame) -> DataFrame:
    """Floor an ns ``ts long`` to a µs timestamp; other frames pass."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the driver's `events` table with ``ts`` as TimestampType,
    whatever its on-disk encoding (``_events_schema``), so downstream
    operators (unix_micros, watermarks, asof) can rely on it."""
    return _ts_micros(spark.read.schema(_events_schema(spark, path)).parquet(path))


def _read_stream(
    spark: SparkSession, path: str, schema: T.StructType, max_files_per_trigger: int
) -> DataFrame:
    if path.endswith(".parquet"):
        # the file stream source needs a directory or glob, not one file
        path = path[: -len("t")] + "*"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of events (parquet file, dir or glob), with
    ``ts`` normalized as :func:`read_events` does."""
    schema = _events_schema(spark, path)
    return _ts_micros(_read_stream(spark, path, schema, max_files_per_trigger))


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of the documents table (parquet file, dir or glob)."""
    return _read_stream(spark, path, schemas.DOCUMENTS, max_files_per_trigger)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` with its ``schemas`` StructType
    (events through :func:`read_events`)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, path)
    return spark.read.schema(schemas.TESTDATA_TABLES[name]).parquet(path)


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Read the driver's tables (all of them when ``tables`` is None) from
    ``sf_dir`` with :func:`read_testdata` and register each as a temp view
    (so both DataFrame and ``spark.sql`` paths work); tables missing from
    ``sf_dir`` are skipped."""
    out: dict[str, DataFrame] = {}
    for name in schemas.TESTDATA_TABLES if tables is None else tables:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            out[name] = read_testdata(spark, sf_dir, name)
            out[name].createOrReplaceTempView(name)
    return out
