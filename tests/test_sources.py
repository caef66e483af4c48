"""Reader/maintenance coverage (SURVEY.md §2.1 S1/S9/S11): CSV with
explicit schema, schema'd JSONL scan, layout optimize, testdata views."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import types as T

from distributed_mobility_data_pipeline_spark import schemas
from distributed_mobility_data_pipeline_spark.ml import monitoring
from distributed_mobility_data_pipeline_spark.sources import readers, writers


def test_csv_reader_explicit_schema(spark, tmp_path):
    p = tmp_path / "trips.csv"
    p.write_text("trip_id,fare\n1,10.5\n2,20.0\n")
    schema = T.StructType(
        [
            T.StructField("trip_id", T.LongType()),
            T.StructField("fare", T.DoubleType()),
        ]
    )
    df = readers.read_csv(spark, str(p), schema)
    assert df.schema == schema
    assert df.agg(F.sum("fare")).collect()[0][0] == 30.5


def test_jsonl_log_reader(spark, tmp_path):
    p = tmp_path / "api_log.jsonl"
    rows = [
        {"endpoint": "/predict/demand", "latency_ms": 12.5, "status": 200},
        {"endpoint": "/predict/surge", "latency_ms": 40.0, "status": 200},
        {"endpoint": "/predict/demand", "latency_ms": 9.1, "status": 500},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("endpoint", T.StringType()),
            T.StructField("latency_ms", T.DoubleType()),
            T.StructField("status", T.IntegerType()),
        ]
    )
    df = readers.read_json_log(spark, str(p), schema)
    assert df.count() == 3
    ok = df.filter(F.col("status") == 200).agg(F.avg("latency_ms")).collect()[0][0]
    assert abs(ok - 26.25) < 1e-9
    # a torn last line (crash mid-append) is dropped, not read as a NULL row
    torn = tmp_path / "torn_log.jsonl"
    torn.write_text(
        "\n".join(json.dumps(r) for r in rows) + '\n{"endpoint": "/predict/de'
    )
    df = readers.read_json_log(spark, str(torn), schema)
    assert df.count() == 3
    groups = sorted(
        (r.endpoint, r.n_requests) for r in monitoring.latency_stats(df).collect()
    )
    assert groups == [("/predict/demand", 2), ("/predict/surge", 1)]


def test_optimize_layout_parquet(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    df.repartition(8).write.parquet(p)
    writers.optimize_layout(spark, p, ["k", "id"], target_partitions=2)
    back = spark.read.parquet(p)
    assert back.count() == 1000
    assert back.select(F.sum("id")).collect()[0][0] == 499500


def test_text_lines_reader(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text("alpha beta\ngamma\n\ndelta epsilon zeta")
    df = readers.read_text_lines(spark, str(p))
    assert df.count() == 4  # blank line preserved as a row
    assert df.columns == ["value"]


def test_parquet_schema_evolution_read(spark, tmp_path):
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(p)
    df = readers.read_parquet_evolving(spark, p)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[2] == 9.5 and rows[1] is None  # old rows surface NULL


def test_register_views_and_sql(spark, sf_dir):
    names = readers.load_testdata(spark, sf_dir)
    assert "orders" in names and "events" in names
    n = spark.sql("SELECT count(*) AS c FROM orders").collect()[0]["c"]
    assert n == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    # events view went through the ns-normalizing reader
    assert dict(spark.sql("SELECT * FROM events").dtypes)["ts"] in (
        "timestamp",
    )
    # an empty table list registers nothing
    spark.catalog.dropTempView("region")
    assert readers.load_testdata(spark, sf_dir, []) == {}
    assert not spark.catalog.tableExists("region")


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema]


def test_declared_schemas_match_the_files(spark, sf_dir):
    """Each declared testdata schema is what Spark infers from the file,
    field by field: name, type and nullability (a file read makes every
    field nullable, whatever the declaration says). A read with a wrong
    declared type fails, but one with a missing or misnamed column reads
    it as NULL without an error."""
    names = sorted(
        f.removesuffix(".parquet")
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    assert names == sorted(schemas.TESTDATA_TABLES)
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events":
            got = readers.read_events(spark, path).schema
        else:
            got = spark.read.parquet(path).schema
        assert _fields(got) == _fields(schemas.TESTDATA_TABLES[name]), name


def test_testdata_reads_run_no_job_but_the_events_probe(spark, sf_dir):
    """A testdata read plans with its declared schema, so it runs no Spark
    job; ``read_events`` runs one, the inference of ts's encoding."""
    sc = spark.sparkContext

    def n_jobs(group, read, *args):
        sc.setJobGroup(group, "testdata reads")
        try:
            read(*args)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    tables = [n for n in schemas.TESTDATA_TABLES if n != "events"]
    assert len(tables) == 9
    for name in tables:
        assert n_jobs(f"read-{name}", readers.read_testdata, spark, sf_dir, name) == 0
    events = os.path.join(sf_dir, "events.parquet")
    assert n_jobs("read-events", readers.read_events, spark, events) == 1
