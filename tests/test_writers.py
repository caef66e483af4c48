"""Write-path semantics (SURVEY.md §2.1 S3-S5): overwrite, append,
MERGE idempotency — re-running the same upsert must not duplicate rows
(the property batch_scoring.py:151-186 relies on) — and a parquet commit
that leaves the old or the new table whichever step fails. Every write
is zstd parquet with v2 data pages, and tables of older files read the
same through Spark, pyarrow and DuckDB. No other package module writes
a DataFrame itself."""

from __future__ import annotations

import ast
import datetime
import inspect
import os
import re

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from distributed_mobility_data_pipeline_spark.sources import readers, writers
from distributed_mobility_data_pipeline_spark.streaming import sinks


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, ds string, v double")


def test_overwrite_and_append(spark, tmp_path):
    p = str(tmp_path / "t1")
    writers.write_overwrite(_df(spark, [(1, "a", 1.0)]), p)
    writers.write_append(_df(spark, [(2, "a", 2.0)]), p)
    assert spark.read.parquet(p).count() == 2
    writers.write_overwrite(_df(spark, [(9, "b", 9.0)]), p)
    assert spark.read.parquet(p).count() == 1


def test_partitioned_write(spark, tmp_path):
    p = str(tmp_path / "t2")
    writers.write_overwrite(
        _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)]),
        p,
        partition_by=["ds"],
    )
    df = spark.read.parquet(p)
    assert df.filter(F.col("ds") == "2024-01-01").count() == 1


def test_merge_upsert_idempotent(spark, tmp_path):
    p = str(tmp_path / "t3")
    writers.merge_upsert(
        spark, _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), p, keys=["k"]
    )
    # update k=2, insert k=3
    src = _df(spark, [(2, "a", 20.0), (3, "b", 3.0)])
    writers.merge_upsert(spark, src, p, keys=["k"])
    out = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert out == {(1, 1.0), (2, 20.0), (3, 3.0)}
    # idempotency: same merge again → same table
    writers.merge_upsert(spark, src, p, keys=["k"])
    out2 = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert out2 == out


def test_merge_creates_when_missing(spark, tmp_path):
    p = str(tmp_path / "t4")
    assert not writers.table_exists(spark, p)
    writers.merge_upsert(spark, _df(spark, [(1, "a", 1.0)]), p, keys=["k"])
    assert writers.table_exists(spark, p)
    assert spark.read.parquet(p).count() == 1


def test_merge_null_key_idempotent(spark, tmp_path):
    # NULL merge keys must match null-safely (<=>, like the Delta MERGE
    # condition) — a re-run may not duplicate the NULL-keyed row.
    p = str(tmp_path / "t5")
    src = _df(spark, [(None, "a", 1.0), (2, "a", 2.0)])
    writers.merge_upsert(spark, src, p, keys=["k"])
    writers.merge_upsert(spark, src, p, keys=["k"])
    rows = spark.read.parquet(p).collect()
    assert len(rows) == 2
    writers.merge_upsert(spark, _df(spark, [(None, "b", 9.0)]), p, keys=["k"])
    out = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert out == {(None, 9.0), (2, 2.0)}


def test_optimize_layout_crash_safe(spark, tmp_path, monkeypatch):
    # A failure before the atomic swap must leave the original table
    # fully readable (the old code rewrote the path in place).
    p = str(tmp_path / "t6")
    writers.write_overwrite(_df(spark, [(i, "a", float(i)) for i in range(10)]), p)

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(writers, "_atomic_replace", boom)
    try:
        writers.optimize_layout(spark, p, zorder_by=["k"])
    except RuntimeError:
        pass
    assert spark.read.parquet(p).count() == 10


def test_merge_upsert_partitioned(spark, tmp_path):
    # the merge reads the layout from the table and keeps it through the
    # temp-dir write + atomic swap
    p = str(tmp_path / "t8")
    writers.write_overwrite(
        _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)]),
        p, partition_by=["ds"],
    )
    src = _df(spark, [(2, "2024-01-02", 20.0), (3, "2024-01-03", 3.0)])
    writers.merge_upsert(spark, src, p, keys=["k"])
    writers.merge_upsert(spark, src, p, keys=["k"])
    assert _layout(p) == ["ds"]
    df = spark.read.parquet(p)
    assert {(r.k, r.v) for r in df.collect()} == {(1, 1.0), (2, 20.0), (3, 3.0)}
    assert df.filter(F.col("ds") == "2024-01-02").count() == 1


def test_optimize_layout_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t7")
    df = _df(spark, [(i % 3, f"d{i % 2}", float(i)) for i in range(30)])
    writers.write_overwrite(df, p)
    writers.optimize_layout(spark, p, zorder_by=["k"], target_partitions=2)
    out = spark.read.parquet(p)
    assert out.count() == 30
    assert {r.k for r in out.select("k").distinct().collect()} == {0, 1, 2}


def test_morton_key_matches_reference_interleave(spark):
    import pyspark.sql.functions as F

    def py_morton(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(a, b) for a in (0, 1, 2, 3, 255, 65535) for b in (0, 1, 7, 65535)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a",
            "b",
            writers.morton_key_nd([F.col("a"), F.col("b")], bits_per=16).alias("z"),
        ).collect()
    }
    for (a, b), z in got.items():
        assert z == py_morton(a, b), (a, b)


def test_optimize_layout_morton_clusters_and_preserves(spark, tmp_path):
    import pyspark.sql.functions as F

    from distributed_mobility_data_pipeline_spark.sources import writers

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 50, (i * 7) % 50, float(i)) for i in range(5000)],
        "id long, x long, y long, v double",
    )
    df.repartition(8).write.parquet(path)
    writers.optimize_layout(spark, path, ["x", "y"], target_partitions=4, morton=True)
    after = spark.read.parquet(path)
    assert after.count() == 5000
    assert sorted(r.id for r in after.select("id").collect()) == list(range(5000))
    # locality: a point query on BOTH dims touches few files
    files = (
        after.filter((F.col("x") == 3) & (F.col("y") == 21))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert files <= 2


def test_apply_cdc_batch_insert_update_delete(spark, tmp_path):
    p = str(tmp_path / "cdc_tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    writers.write_overwrite(base, p)
    changes = spark.createDataFrame(
        [
            (2, "b2", 10, "U"),   # update
            (3, None, 10, "D"),   # delete
            (4, "d", 10, "I"),    # insert
            (4, "d2", 11, "U"),   # later change to same key wins
            (4, "dX", 9, "U"),    # out-of-order older change loses
        ],
        "k long, v string, ts long, op string",
    )
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    got = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert got == {1: "a", 2: "b2", 4: "d2"}
    # idempotent replay
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    again = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert again == got


def test_apply_cdc_batch_creates_table(spark, tmp_path):
    p = str(tmp_path / "cdc_new")
    changes = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "D")],
        "k long, v string, ts long, op string",
    )
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    got = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert got == {1: "a"}  # the delete for an absent key is a no-op


def test_delete_where(spark, tmp_path):
    p = str(tmp_path / "del_tbl")
    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(10)], "k long, tag string"
    )
    writers.write_overwrite(df, p)
    from pyspark.sql import functions as F

    n = writers.delete_where(spark, p, F.col("tag") == "drop")
    assert n == 5
    left = spark.read.parquet(p)
    assert left.count() == 5
    assert left.filter("tag = 'drop'").count() == 0
    # no-op delete leaves the table untouched
    assert writers.delete_where(spark, p, F.col("tag") == "absent") == 0
    assert spark.read.parquet(p).count() == 5


def test_delete_where_null_predicate_rows_kept(spark, tmp_path):
    p = str(tmp_path / "del_null")
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "k long, tag string"
    )
    writers.write_overwrite(df, p)
    from pyspark.sql import functions as F

    n = writers.delete_where(spark, p, F.col("tag") == "x")
    assert n == 1
    assert {r.k for r in spark.read.parquet(p).collect()} == {2, 3}


def test_write_batch_replaces_only_its_batch(spark, tmp_path):
    from distributed_mobility_data_pipeline_spark.sources import readers

    p = str(tmp_path / "partials")

    def rows(*ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    writers.write_batch(rows(1, 2), p, 0)
    writers.write_batch(rows(3), p, 1)
    # a replayed batch 1 (at-least-once delivery) replaces batch 1 only
    writers.write_batch(rows(30, 31), p, 1)
    got = {(r.batch_id, r.k) for r in readers.read_batches(spark, p).collect()}
    assert got == {(0, 1), (0, 2), (1, 30), (1, 31)}
    before = readers.read_batches(spark, p, before=1).collect()
    assert {(r.batch_id, r.k) for r in before} == {(0, 1), (0, 2)}


def test_partition_pruning_in_plan(spark, tmp_path):
    p = str(tmp_path / "pruned")
    df = spark.createDataFrame(
        [(i, f"day{1 + i % 3}") for i in range(30)], "k long, d string"
    )
    writers.write_overwrite(df, p, partition_by=["d"])
    q = spark.read.parquet(p).filter("d = 'day2'")
    assert q.count() == 10
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the partition predicate must reach the scan's PartitionFilters
    # (directory-level pruning), not a post-scan Filter
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "day2" in m.group(1)


def test_morton_nd_matches_python_reference(spark):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [
        (rng.randrange(1 << 21), rng.randrange(1 << 21), rng.randrange(1 << 21))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, ["x", "y", "z"])
    got = [
        r.key
        for r in df.select(
            writers.morton_key_nd([F.col("x"), F.col("y"), F.col("z")]).alias("key")
        ).collect()
    ]

    def ref(vals, bits=21):
        key = 0
        for j, v in enumerate(vals):
            v &= (1 << bits) - 1
            for b in range(bits):
                key |= ((v >> b) & 1) << (b * len(vals) + j)
        return key

    assert got == [ref(r) for r in rows]


def test_morton_nd_validates(spark):
    import pytest
    from pyspark.sql import functions as F

    with pytest.raises(ValueError):
        writers.morton_key_nd([F.col("a")])
    with pytest.raises(ValueError):
        writers.morton_key_nd([F.col("a"), F.col("b")], bits_per=40)


def test_optimize_layout_morton_3col_roundtrip(spark, tmp_path):
    p = str(tmp_path / "z3")
    df = spark.createDataFrame(
        [(i, i * 7 % 100, i * 13 % 100, i * 31 % 100) for i in range(500)],
        "k long, x long, y long, z long",
    )
    df.write.parquet(p)
    writers.optimize_layout(spark, p, ["x", "y", "z"], morton=True)
    back = spark.read.parquet(p)
    assert back.count() == 500
    assert {r.k for r in back.collect()} == set(range(500))


# --- the committed schema ---------------------------------------------------
# Every _commit writes the table's read schema beside its data files, so
# readers.read_parquet plans a committed table without an inference job.


def _typed(spark, ks):
    """A frame with a NOT NULL key, a date, an array and a column with
    metadata: what a parquet read changes (nullability) or keeps."""
    df = spark.createDataFrame(
        [
            (k, datetime.date(2024, 1, 1 + k % 3), k % 5, float(k), [f"t{k}"])
            for k in ks
        ],
        "k long not null, d date, x int, v double, tags array<string>",
    )
    return df.withColumn("v", F.col("v").alias("v", metadata={"unit": "EUR"}))


def _flat_and_partitioned(names, col):
    """(name, layout) cases: each name on a flat table (id ``name``) and
    on a table partitioned by ``col`` (id ``name-by_col``)."""
    return [pytest.param(n, [], id=n) for n in names] + [
        pytest.param(n, [col], id=f"{n}-by_{col}") for n in names
    ]


def _fields(schema):
    return [(f.name, f.dataType, f.nullable, f.metadata) for f in schema]


def _jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


_MUTATIONS = {
    "write_overwrite": lambda s, p: writers.write_overwrite(_typed(s, range(20)), p),
    "write_overwrite_by_date": lambda s, p: writers.write_overwrite(
        _typed(s, range(20)), p, ["d"]
    ),
    "merge_upsert": lambda s, p: writers.merge_upsert(
        s, _typed(s, [3, 30]), p, ["k"]
    ),
    "apply_cdc_batch": lambda s, p: writers.apply_cdc_batch(
        s,
        _typed(s, [3, 4, 30]).withColumn("ts", F.lit(1)).withColumn(
            "op", F.when(F.col("k") == 4, "D").otherwise("U")
        ),
        p, ["k"], "ts",
    ),
    "delete_where": lambda s, p: writers.delete_where(s, p, F.col("k") < 5),
    "optimize_layout": lambda s, p: writers.optimize_layout(s, p, ["x"]),
    "optimize_layout_morton": lambda s, p: writers.optimize_layout(
        s, p, ["k", "x"], morton=True
    ),
}


@pytest.mark.parametrize(
    "name, layout", _flat_and_partitioned(sorted(_MUTATIONS), "d")
)
def test_committed_schema_is_the_inferred_one(spark, tmp_path, name, layout):
    p = str(tmp_path / "t")
    # a table with no schema file, flat or partitioned by the date
    _typed(spark, range(20)).write.partitionBy(*layout).parquet(p)
    _MUTATIONS[name](spark, p)
    got, n_jobs = _jobs(spark, f"plan-{name}", lambda: readers.read_parquet(spark, p))
    assert n_jobs == 0
    want = spark.read.parquet(p)
    assert _fields(readers.committed_schema(spark, p)) == _fields(want.schema)
    assert _fields(got.schema) == _fields(want.schema)
    assert want.schema["v"].metadata == {"unit": "EUR"}
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# --- the table file format --------------------------------------------------
# Every write is writers.TABLE_FORMAT: zstd column chunks and v2 data pages,
# under which a distinct-valued bigint overflows its dictionary into
# DELTA_BINARY_PACKED (v1 pages fall back to PLAIN).

# Spark's default file format
_SPARK_DEFAULT = {"compression": "snappy", "parquet.writer.version": "v1"}

_PUBLISHING = {
    **_MUTATIONS,
    "write_append": lambda s, p: writers.write_append(_typed(s, range(20, 30)), p),
    "write_batch": lambda s, p: writers.write_batch(_typed(s, range(20, 30)), p, 7),
}


def _data_files(p):
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(p)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }


@pytest.mark.parametrize("name", sorted(_PUBLISHING))
def test_every_write_is_zstd_with_v2_pages(spark, tmp_path, name):
    p = str(tmp_path / "t")
    _typed(spark, range(20)).write.options(**_SPARK_DEFAULT).parquet(p)
    before = _data_files(p)
    _PUBLISHING[name](spark, p)
    published = sorted(_data_files(p) - before)
    assert published
    for f in published:
        md = pq.ParquetFile(f).metadata
        chunks = [
            md.row_group(g).column(c)
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        ]
        assert chunks, f
        assert {c.compression for c in chunks} == {"ZSTD"}, f
        k = [c.encodings for c in chunks if c.path_in_schema == "k"]
        assert k and all("DELTA_BINARY_PACKED" in e for e in k), (f, k)


_TRIP_COLS = [
    "trip_id", "requested_at", "requested_date", "completed_at", "fare",
    "status", "updated_at",
]
_TRIPS = (
    "trip_id long, requested_at timestamp_ntz, requested_date date, "
    "completed_at timestamp_ntz, fare double, status string, "
    "updated_at timestamp_ntz"
)
_ARROW_TRIPS = pa.schema(
    [
        ("trip_id", pa.int64()), ("requested_at", pa.timestamp("us")),
        ("requested_date", pa.date32()), ("completed_at", pa.timestamp("us")),
        ("fare", pa.float64()), ("status", pa.string()),
        ("updated_at", pa.timestamp("us")),
    ]
)
# the types each reader must return, in _TRIP_COLS order
_SPARK_TYPES = [
    "bigint", "timestamp_ntz", "date", "timestamp_ntz", "double", "string",
    "timestamp_ntz",
]
_DUCKDB_TYPES = [
    "BIGINT", "TIMESTAMP", "DATE", "TIMESTAMP", "DOUBLE", "VARCHAR", "TIMESTAMP",
]


def _trip(k, fare, status="completed", version=0):
    """One trip row; the timestamps carry microseconds, so a reader that
    truncates them (ms, or ns read back rounded) changes the row."""
    at = datetime.datetime(2024, 3, 1 + k % 5, 8) + datetime.timedelta(
        minutes=k, microseconds=k * 7919 % 1_000_000
    )
    done = at + datetime.timedelta(minutes=20) if status == "completed" else None
    upd = at + datetime.timedelta(hours=1 + version, microseconds=1)
    return (k, at, at.date(), done, fare, status, upd)


def _model(rows):
    return pd.DataFrame(rows, columns=_TRIP_COLS, dtype=object).set_index("trip_id")


def _model_upsert(state, rows):
    new = _model(rows)
    return pd.concat([state.drop(index=new.index, errors="ignore"), new])


def _model_cdc(state, changes):
    """The latest change per key wins (ties: op descending); deletes drop
    the key, inserts and updates replace the row."""
    ch = pd.DataFrame(changes, columns=[*_TRIP_COLS, "op"], dtype=object)
    latest = ch.sort_values(["updated_at", "op"], ascending=False)
    latest = latest.drop_duplicates("trip_id")
    state = state.drop(index=latest["trip_id"], errors="ignore")
    ups = latest[latest["op"] != "D"].drop(columns="op")
    return pd.concat([state, ups.set_index("trip_id")])


def _pyarrow_snappy_v1(spark, p, rows):
    """Two pyarrow snappy/v1 files, the shape of a landed table."""
    os.makedirs(p)
    for i, part in enumerate((rows[::2], rows[1::2])):
        t = pa.Table.from_pylist([dict(zip(_TRIP_COLS, r)) for r in part], _ARROW_TRIPS)
        pq.write_table(
            t, os.path.join(p, f"part-{i:05d}.parquet"),
            compression="snappy", data_page_version="1.0",
        )


def _spark_snappy_v1(spark, p, rows):
    """Two Spark files in Spark's default format."""
    df = spark.createDataFrame(rows, _TRIPS).coalesce(2)
    df.write.options(**_SPARK_DEFAULT).parquet(p)


def _three_reads(spark, p):
    """The table at ``p`` as row tuples read by Spark (through
    ``readers.read_parquet``), pyarrow and DuckDB; each read's column
    types are checked first."""
    df = readers.read_parquet(spark, p).select(*_TRIP_COLS)
    assert [f.dataType.simpleString() for f in df.schema] == _SPARK_TYPES
    t = pq.read_table(p, columns=_TRIP_COLS)
    assert list(t.schema.types) == list(_ARROW_TRIPS.types)
    rel = duckdb.sql(
        f"SELECT {', '.join(_TRIP_COLS)} FROM read_parquet('{p}/*.parquet')"
    )
    assert [str(ty) for ty in rel.types] == _DUCKDB_TYPES
    return {
        "spark": sorted(map(tuple, df.collect())),
        "pyarrow": sorted(tuple(r[c] for c in _TRIP_COLS) for r in t.to_pylist()),
        "duckdb": sorted(rel.fetchall()),
    }


@pytest.mark.parametrize("make", [_pyarrow_snappy_v1, _spark_snappy_v1])
def test_old_format_tables_read_alike_after_each_write(spark, tmp_path, make):
    # every write below adds or rewrites files in TABLE_FORMAT: after the
    # append the table mixes both formats, then the MERGE and the CDC
    # batch rewrite it; Spark, pyarrow and DuckDB read the model each time
    p = str(tmp_path / "t")
    base = [_trip(k, 10.0 + k, "completed" if k % 4 else "cancelled") for k in range(1, 41)]
    make(spark, p, base)
    state = _model(base)
    appended = [_trip(k, 1.5 * k) for k in range(41, 46)]
    merged = [_trip(2, 99.0, version=1), _trip(46, 4.6)]
    changes = [
        (*_trip(3, 30.5, version=1), "U"),
        (*_trip(3, 31.5, "cancelled", version=2), "U"),
        (*_trip(4, 4.0, version=1), "D"),
        (*_trip(42, 42.5, version=1), "U"),
        (*_trip(47, 47.0, version=1), "I"),
    ]
    steps = [
        (
            lambda: writers.write_append(spark.createDataFrame(appended, _TRIPS), p),
            lambda s: pd.concat([s, _model(appended)]),
        ),
        (
            lambda: writers.merge_upsert(
                spark, spark.createDataFrame(merged, _TRIPS), p, ["trip_id"]
            ),
            lambda s: _model_upsert(s, merged),
        ),
        (
            lambda: writers.apply_cdc_batch(
                spark,
                spark.createDataFrame(changes, f"{_TRIPS}, op string"),
                p, ["trip_id"], "updated_at",
            ),
            lambda s: _model_cdc(s, changes),
        ),
    ]
    for write, model_step in steps:
        write()
        state = model_step(state)
        want = sorted(state.reset_index().itertuples(index=False, name=None))
        assert _three_reads(spark, p) == {
            "spark": want, "pyarrow": want, "duckdb": want
        }


def test_string_partition_values_read_back_as_written(spark, tmp_path):
    # inference reads partition directories s=01 and s=10 as ints 1 and
    # 10; the committed schema keeps the written strings
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "01"), (2, "10")], "k int, s string")
    writers.write_overwrite(df, p, ["s"])
    assert spark.read.parquet(p).schema["s"].dataType == T.IntegerType()
    back = readers.read_parquet(spark, p)
    assert back.schema["s"].dataType == T.StringType()
    assert sorted((r.k, r.s) for r in back.collect()) == [(1, "01"), (2, "10")]
    assert back.filter(F.col("s") == "01").count() == 1


def test_adding_files_drops_the_committed_schema(spark, tmp_path):
    p = str(tmp_path / "t")
    writers.write_overwrite(_df(spark, [(1, "a", 1.0)]), p)
    wider = spark.createDataFrame(
        [(2, "b", 2.0, "x")], "k int, ds string, v double, extra string"
    )
    writers.write_append(wider, p)
    # an append that adds a column widens the committed schema instead
    widened = T.StructType(
        [T.StructField(f.name, f.dataType) for f in wider.schema]
    )
    assert _fields(readers.committed_schema(spark, p)) == _fields(widened)
    got = readers.read_parquet(spark, p)
    assert _fields(got.schema) == _fields(widened)
    assert sorted(map(tuple, got.collect())) == [(1, "a", 1.0, None), (2, "b", 2.0, "x")]
    # a micro-batch partial written over a committed table drops it too
    q = str(tmp_path / "partials")
    writers.write_overwrite(_df(spark, [(1, "a", 1.0)]), q)
    writers.write_batch(_df(spark, [(2, "b", 2.0)]), q, 0)
    assert readers.committed_schema(spark, q) is None


def test_append_then_merge_keeps_a_string_partition_column(spark, tmp_path):
    # inference would read the appended table's ds=01, ds=02 as ints, and
    # the next commit would write that as bigint directories ds=1, ds=2
    p = str(tmp_path / "t")
    writers.write_overwrite(_df(spark, [(1, "01", 1.0)]), p, partition_by=["ds"])
    writers.write_append(_df(spark, [(2, "02", 2.0)]), p)
    back = readers.read_parquet(spark, p)
    assert back.schema["ds"].dataType == T.StringType()
    assert sorted((r.k, r.ds) for r in back.collect()) == [(1, "01"), (2, "02")]
    writers.merge_upsert(spark, _df(spark, [(3, "03", 3.0)]), p, ["k"])
    assert sorted(n for n in os.listdir(p) if n.startswith("ds=")) == [
        "ds=01", "ds=02", "ds=03"
    ]
    assert readers.committed_schema(spark, p)["ds"].dataType == T.StringType()
    got = readers.read_parquet(spark, p).collect()
    assert sorted((r.k, r.ds, r.v) for r in got) == [
        (1, "01", 1.0), (2, "02", 2.0), (3, "03", 3.0)
    ]


@pytest.mark.parametrize(
    "ddl, row",
    [("k int, ds string, v string", (2, "02", "x")), ("k int, ds int, v double", (2, 2, 2.0))],
    ids=["data_column", "partition_column"],
)
def test_append_that_retypes_a_column_raises(spark, tmp_path, ddl, row):
    p = str(tmp_path / "t")
    writers.write_overwrite(_df(spark, [(1, "01", 1.0)]), p, partition_by=["ds"])
    schema = readers.committed_schema(spark, p)
    with pytest.raises(ValueError, match="retypes"):
        writers.write_append(spark.createDataFrame([row], ddl), p)
    assert readers.committed_schema(spark, p) == schema
    assert [tuple(r) for r in readers.read_parquet(spark, p).collect()] == [(1, 1.0, "01")]


def test_isin_over_a_new_list_reuses_compiled_code(spark, tmp_path):
    # Spark turns an isin of more than 10 literals into a set; compiled
    # against a set reference (not switch case labels), a new list of
    # days reuses the classes the first list compiled
    p = str(tmp_path / "days")
    days = [datetime.date(2024, 1, 1) + datetime.timedelta(d) for d in range(120)]
    rows = [(days[i % 120], i) for i in range(2400)]
    writers.write_overwrite(spark.createDataFrame(rows, "day date, cents long"), p)
    pdf = pd.DataFrame(rows, columns=["day", "cents"])
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def sums(pick):
        got = (
            readers.read_parquet(spark, p)
            .filter(F.col("day").isin(pick))
            .groupBy("day")
            .agg(F.sum("cents").alias("s"))
            .collect()
        )
        want = pdf[pdf["day"].isin(pick)].groupby("day")["cents"].sum()
        assert {r.day: r.s for r in got} == want.to_dict()

    sums(days[:60])
    before = compiles.getCount()
    sums(days[60:])
    assert compiles.getCount() == before


def test_apply_cdc_batch_plans_one_window(spark, tmp_path, monkeypatch):
    # the window picks the latest change per key for the upsert rows; the
    # anti-join's key side takes the raw changes, with no window of its own
    p = str(tmp_path / "t")
    writers.write_overwrite(_df(spark, OLD), p)
    plans = []
    commit = writers._commit

    def spy(spark_, df, path, partition_by):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        commit(spark_, df, path, partition_by)

    monkeypatch.setattr(writers, "_commit", spy)
    changes = spark.createDataFrame(
        CDC, "k int, ds string, v double, ts long, op string"
    )
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    assert len(plans) == 1
    assert len(re.findall(r"\bWindow \[", plans[0])) == 1, plans[0]
    assert _rows(spark, p) == _replay(CDC)


# --- a mutation keeps the table's layout ------------------------------------
# Only write_overwrite chooses partition columns; every other mutation
# reads them from the table's directories and commits with the same ones.


def _layout(p):
    """The partition columns of the table at ``p``, read off its
    directories; fails unless each level holds only data files or only
    ``col=value`` directories of one column, with the same layout below."""
    names = [n for n in os.listdir(p) if not n.startswith(("_", "."))]
    subs = [n for n in names if os.path.isdir(os.path.join(p, n))]
    if not subs:
        return []
    cols = {n.split("=", 1)[0] for n in subs}
    assert subs == names and all("=" in n for n in subs) and len(cols) == 1, names
    inner = {tuple(_layout(os.path.join(p, n))) for n in subs}
    assert len(inner) == 1, inner
    return [cols.pop(), *inner.pop()]


def _kdhx(spark, rows):
    return spark.createDataFrame(rows, "k int, ds string, h int, x int")


KDHX = [(k, f"d{k % 2}", k % 3, k * 7 % 5) for k in range(1, 9)]
UPSERTS = [(2, "d0", 0, 9), (20, "d1", 2, 3)]


def _without(*ks):
    return [r for r in KDHX if r[0] not in ks]


_KEEPING = {
    "merge_upsert": (
        lambda s, p: writers.merge_upsert(s, _kdhx(s, UPSERTS), p, ["k"]),
        _without(2) + UPSERTS,
    ),
    "apply_cdc_batch": (
        lambda s, p: writers.apply_cdc_batch(
            s,
            s.createDataFrame(
                [(*r, 1, "U") for r in UPSERTS] + [(3, None, None, None, 1, "D")],
                "k int, ds string, h int, x int, ts long, op string",
            ),
            p, ["k"], "ts",
        ),
        _without(2, 3) + UPSERTS,
    ),
    "delete_where": (
        lambda s, p: writers.delete_where(s, p, F.col("x") > 2),
        [r for r in KDHX if r[3] <= 2],
    ),
    "optimize_layout": (
        lambda s, p: writers.optimize_layout(s, p, ["x"], target_partitions=3),
        KDHX,
    ),
    "optimize_layout_morton": (
        lambda s, p: writers.optimize_layout(s, p, ["k", "x"], morton=True),
        KDHX,
    ),
    "write_append": (
        lambda s, p: writers.write_append(_kdhx(s, UPSERTS[1:]), p),
        KDHX + UPSERTS[1:],
    ),
}


@pytest.mark.parametrize("layout", [["ds"], ["ds", "h"]], ids=["by_ds", "by_ds_h"])
@pytest.mark.parametrize("name", sorted(_KEEPING))
def test_a_mutation_keeps_the_partition_columns(spark, tmp_path, name, layout):
    p = str(tmp_path / "t")
    writers.write_overwrite(_kdhx(spark, KDHX), p, layout)
    call, want = _KEEPING[name]
    call(spark, p)
    assert _layout(p) == layout
    # every row is readable: an append's files beside the partition
    # directories would hold rows no read returns
    got = spark.read.parquet(p).select("k", "ds", "h", "x").collect()
    assert sorted(map(tuple, got)) == sorted(want)


def test_write_append_without_a_partition_column_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    writers.write_overwrite(_kdhx(spark, KDHX), p, ["ds"])
    with pytest.raises(ValueError, match="partitioned by"):
        writers.write_append(_kdhx(spark, UPSERTS).drop("ds"), p)
    got = spark.read.parquet(p).select("k", "ds", "h", "x").collect()
    assert sorted(map(tuple, got)) == sorted(KDHX) and _layout(p) == ["ds"]


# --- crash consistency of the parquet commit -------------------------------
# writers._fs is the FileSystem handle behind every rename, delete and
# schema-file create of the commit; _FailingFs makes its k-th such step raise.

OLD = [(k, f"d{k % 2}", float(k)) for k in range(1, 7)]
MERGE_SRC = [(2, "d0", 20.0), (7, "d1", 7.0)]
CDC = [
    (2, "d0", 20.0, 10, "U"), (3, None, None, 10, "D"), (7, "d1", 7.0, 10, "I"),
    (7, "d1", 70.0, 11, "U"), (5, "d1", 50.0, 9, "U"), (5, None, None, 12, "D"),
]
NEW_TABLE = [(k, "d9", float(-k)) for k in range(10, 13)]


class _FailingFs:
    def __init__(self, fs, k):
        self._fs, self._k, self.steps = fs, k, 0

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def _step(self, name, *args):
        self.steps += 1
        if self.steps == self._k:
            raise IOError(f"injected failure at {name} #{self._k}")
        return getattr(self._fs, name)(*args)

    def rename(self, *args):
        return self._step("rename", *args)

    def delete(self, *args):
        return self._step("delete", *args)

    def create(self, *args):
        return self._step("create", *args)


def _replay(changes):
    """pandas replay of a change batch on OLD: the latest (ts, op) per key
    wins, deletes drop the key, inserts and updates replace the row."""
    ch = pd.DataFrame(changes, columns=["k", "ds", "v", "ts", "op"])
    latest = ch.sort_values(["ts", "op"], ascending=False).drop_duplicates("k")
    state = pd.DataFrame(OLD, columns=["k", "ds", "v"]).set_index("k")
    state = state.drop(index=latest["k"], errors="ignore")
    ups = latest[latest["op"] != "D"].set_index("k")[["ds", "v"]]
    return sorted(pd.concat([state, ups]).itertuples(name=None))


def _rows(spark, p):
    rows = spark.read.parquet(p).select("k", "ds", "v").collect()
    return sorted(tuple(r) for r in rows)


def _version(spark, p):
    """The rows and the schema ``readers.read_parquet`` reads at ``p``."""
    df = readers.read_parquet(spark, p)
    return sorted(tuple(r) for r in df.select("k", "ds", "v").collect()), df.schema


@pytest.mark.parametrize(
    "name, layout",
    _flat_and_partitioned(
        ["merge_upsert", "apply_cdc_batch", "delete_where", "write_overwrite"], "ds"
    ),
)
def test_crash_at_every_fs_step_leaves_old_or_new(
    spark, tmp_path, monkeypatch, name, layout
):
    call, new = {
        "merge_upsert": (
            lambda p: writers.merge_upsert(spark, _df(spark, MERGE_SRC), p, ["k"]),
            _replay([(*r, 0, "U") for r in MERGE_SRC]),
        ),
        "apply_cdc_batch": (
            lambda p: writers.apply_cdc_batch(
                spark,
                spark.createDataFrame(
                    CDC, "k int, ds string, v double, ts long, op string"
                ),
                p, ["k"], "ts",
            ),
            _replay(CDC),
        ),
        "delete_where": (
            lambda p: writers.delete_where(spark, p, F.col("v") > 3.5),
            [r for r in OLD if r[2] <= 3.5],
        ),
        "write_overwrite": (
            lambda p: writers.write_overwrite(_df(spark, NEW_TABLE), p, ["ds"]),
            NEW_TABLE,
        ),
    }[name]
    real_fs = writers._fs

    def run_failing_at(k):
        p = str(tmp_path / f"t{k}")
        _df(spark, OLD).coalesce(2).write.partitionBy(*layout).parquet(p)
        proxy = _FailingFs(real_fs(spark, p), k)
        monkeypatch.setattr(writers, "_fs", lambda s, path: proxy)
        try:
            call(p)
        finally:
            monkeypatch.setattr(writers, "_fs", real_fs)
        return p, proxy.steps

    # only write_overwrite chooses a layout; the others keep the old one
    new_layout = ["ds"] if name == "write_overwrite" else layout
    p, n_steps = run_failing_at(0)
    assert n_steps >= 4 and _rows(spark, p) == new
    assert _layout(p) == new_layout
    # a reader gets the schema and layout of the version whose rows it
    # reads: the old table's inferred schema or the new table's committed one
    old_schema = _df(spark, OLD).schema
    old_v = (
        sorted(OLD),
        T.StructType(
            [f for f in old_schema if f.name not in layout]
            + [old_schema[c] for c in layout]
        ),
    )
    new_v = (new, spark.read.parquet(p).schema)
    assert readers.committed_schema(spark, p) is not None
    assert _version(spark, p) == new_v
    for k in range(1, n_steps + 1):
        with pytest.raises(IOError, match="injected"):
            run_failing_at(k)
        p = str(tmp_path / f"t{k}")
        assert writers.table_exists(spark, p), k  # recovers
        assert (_rows(spark, p), _layout(p)) in (
            (sorted(OLD), layout), (new, new_layout)
        ), k
        assert _version(spark, p) in (old_v, new_v), k
        call(p)
        assert _rows(spark, p) == new and _layout(p) == new_layout, k
        left = sorted(os.listdir(tmp_path))
        assert left == sorted(f"t{j}" for j in range(k + 1)), k  # no leftovers


def test_merge_after_crash_between_renames_keeps_table(spark, tmp_path):
    # a crash between the swap's two renames leaves no table and the old
    # one at path._bak: the next merge restores it, never recreating the
    # table from its one batch
    p = str(tmp_path / "t")
    writers.write_overwrite(_df(spark, [(k, "a", 1.0) for k in range(1000)]), p)
    os.rename(p, p + "._bak")
    writers.merge_upsert(spark, _df(spark, [(5000, "b", 1.0)]), p, ["k"])
    assert spark.read.parquet(p).count() == 1001
    assert os.listdir(tmp_path) == ["t"]


def test_merge_into_unreadable_table_raises_and_keeps_files(spark, tmp_path):
    p = tmp_path / "t"
    assert not writers.table_exists(spark, str(p))
    p.mkdir()
    (p / "part-00000.parquet").write_bytes(b"not a parquet file")
    assert writers.table_exists(spark, str(p))  # there, though unreadable
    with pytest.raises(Exception):
        writers.merge_upsert(spark, _df(spark, [(1, "a", 1.0)]), str(p), ["k"])
    assert [(f.name, f.read_bytes()) for f in p.iterdir()] == [
        ("part-00000.parquet", b"not a parquet file")
    ]


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "distributed_mobility_data_pipeline_spark",
)
# The one module allowed to write tables.
_WRITE_SEAM = os.path.join("sources", "writers.py")


def _direct_writes(tree):
    """(line, attr) of every ``X.write`` read that is not itself called
    (``DataFrame.write`` is a property; ``f.write(...)`` and MLlib's
    ``model.write()`` are calls) and of every ``.saveAsTable`` or
    ``.insertInto``."""
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    return [
        (n.lineno, n.attr)
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and (
            n.attr in ("saveAsTable", "insertInto")
            or (n.attr == "write" and id(n) not in called)
        )
    ]


def test_only_writers_module_writes_dataframes():
    found = {}
    for root, _, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG)
            if not name.endswith(".py") or rel == _WRITE_SEAM:
                continue
            with open(path, encoding="utf-8") as f:
                hits = _direct_writes(ast.parse(f.read()))
            if hits:
                found[rel] = hits
    assert not found, (
        f"write tables through sources/writers.py, not directly: {found}"
    )


def test_only_the_writer_builder_starts_a_write():
    # inside the write seam, every write starts from _writer, so none
    # falls back to Spark's default file format
    with open(os.path.join(_PKG, _WRITE_SEAM), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    (builder,) = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_writer"
    ]
    hits = _direct_writes(tree)
    outside = [h for h in hits if not builder.lineno <= h[0] <= builder.end_lineno]
    assert hits and not outside, f"start writes from writers._writer: {outside}"


def test_only_write_overwrite_chooses_a_layout():
    # every other mutation reads the partition columns from the table
    takes = [
        f"{m.__name__.rsplit('.', 1)[1]}.{name}"
        for m in (writers, sinks)
        for name, fn in inspect.getmembers(m, inspect.isfunction)
        if not name.startswith("_")
        and fn.__module__ == m.__name__
        and "partition_by" in inspect.signature(fn).parameters
    ]
    assert takes == ["writers.write_overwrite"]


_ENTRY = os.path.join(os.path.dirname(_PKG), "__spark_entry__.py")
# The one module allowed to read tables.
_READ_SEAM = os.path.join("sources", "readers.py")


def _direct_reads(tree):
    """(line, attr) of every ``X.read`` or ``X.readStream`` read that is
    not itself called (both are ``SparkSession`` properties; ``f.read()``
    is a call)."""
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    return [
        (n.lineno, n.attr)
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr in ("read", "readStream")
        and id(n) not in called
    ]


def test_only_readers_module_reads_tables():
    paths = [_ENTRY] + [
        os.path.join(root, name)
        for root, _, files in os.walk(_PKG)
        for name in files
        if name.endswith(".py")
    ]
    found = {}
    for path in paths:
        rel = os.path.relpath(path, _PKG)
        if rel == _READ_SEAM:
            continue
        with open(path, encoding="utf-8") as f:
            hits = _direct_reads(ast.parse(f.read()))
        if hits:
            found[rel] = hits
    assert not found, (
        f"read tables through sources/readers.py, not directly: {found}"
    )
