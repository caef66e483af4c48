"""Writers (SURVEY.md §2.1 S3/S4/S5/S10): the one module that writes
tables.

The reference writes Delta (delta_utils.py:24-33, batch_scoring.py:151-186).
Here every table is parquet, with the same write semantics. MERGE (S5) is
re-expressed as the canonical Spark emulation: target anti-join source on
the merge keys, union the source, rewrite — idempotent for re-runs with
the same keys, which is the property batch_scoring.py:161-186 relies on.
Streaming sinks write their micro-batch partials with ``write_batch``, and
the ML run store writes through these functions too;
``tests/test_writers.py`` fails when another package module writes a
DataFrame itself; there are no exceptions (the serving event log is a
driver-side file append, not a DataFrame write).

Commit protocol. Every table mutation (write_overwrite,
merge_upsert, apply_cdc_batch, delete_where, optimize_layout) ends in
``_commit``: it writes the whole new table to ``<path>._tmp_commit``,
with the table's read schema as ``readers.SCHEMA_FILE`` beside the data
(so the schema swaps in with the data it describes, and
``readers.read_parquet`` plans the table without an inference job),
then ``_atomic_replace`` renames ``<path>`` to ``<path>._bak``, the
staging directory to ``<path>``, and deletes ``._bak``. A crash between
the two renames leaves no ``<path>`` and the old table at ``._bak``.
A mutation keeps the table's layout: only ``write_overwrite`` chooses
partition columns; the others commit with the table's own
(``_partition_columns``). Recovery (``_recover``) runs before every mutation and inside
``table_exists``: with ``<path>`` missing it renames ``._bak`` back; with
both present (the swap had finished) it deletes ``._bak``; it deletes a
leftover staging directory. So a mutation leaves the old table or the
new one. "No table yet" is an existence check after recovery: a table
that is there but unreadable raises and is never rewritten from one
batch. One writer per table at a time. ``write_append`` and
``write_batch`` add files in place, outside this protocol.
``write_append`` keeps the committed schema, widening it first when
the rows add columns; ``write_batch`` deletes it, so a table of
partials is read by inference and never with a stale schema.

File format. Every write starts from ``_writer``, which sets
``TABLE_FORMAT``: zstd parquet with v2 data pages. Under Spark's default
(snappy, v1 pages) a high-cardinality int64 column whose dictionary
overflows falls back to PLAIN 8-byte values; with v2 pages it falls back
to DELTA_BINARY_PACKED, and zstd then compresses every column chunk.
On the CDC benchmark's 450k-row silver trips table, where the three
trip timestamps and ``trip_id`` hold two thirds of the bytes, one
rewrite commits 12.3 MB against 16.8 MB (write amplification 63 against
86) in the same write time (4-core VM, ``local[4]``). Readers need no
setting: Spark, pyarrow and DuckDB read both formats, also mixed in one
table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_mobility_data_pipeline_spark.sources import readers

_STAGING = "._tmp_commit"
_BAK = "._bak"
# The package's table file format (module docstring, "File format").
TABLE_FORMAT = {"compression": "zstd", "parquet.writer.version": "v2"}


def _writer(df: DataFrame):
    """``df.write`` in ``TABLE_FORMAT``: the start of every table write."""
    return df.write.options(**TABLE_FORMAT)


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem holding ``path``; every rename and delete of
    the commit protocol goes through this handle."""
    return _hadoop_path(spark, path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


def _recover(spark: SparkSession, path: str) -> bool:
    """Undo or finish a commit a crash interrupted (rules in the module
    docstring); returns whether a table is at ``path``."""
    fs = _fs(spark, path)
    dst = _hadoop_path(spark, path)
    bak = _hadoop_path(spark, path + _BAK)
    if fs.exists(bak):
        if fs.exists(dst):
            fs.delete(bak, True)
        elif not fs.rename(bak, dst):
            raise IOError(f"recover: could not restore {path}{_BAK}")
    fs.delete(_hadoop_path(spark, path + _STAGING), True)
    return fs.exists(dst)


def _atomic_replace(spark: SparkSession, tmp_path: str, path: str) -> None:
    """Swap the table at ``tmp_path`` in as ``path`` via filesystem
    renames (Hadoop FileSystem API, so it works for any supported
    scheme). A crash between the renames leaves ``path._bak``, which
    ``_recover`` restores."""
    fs = _fs(spark, path)
    dst = _hadoop_path(spark, path)
    bak = _hadoop_path(spark, path + _BAK)
    if fs.exists(dst) and not fs.rename(dst, bak):
        raise IOError(f"atomic replace: could not move {path} aside")
    if not fs.rename(_hadoop_path(spark, tmp_path), dst):
        fs.rename(bak, dst)  # roll back
        raise IOError(f"atomic replace: could not promote {tmp_path}")
    fs.delete(bak, True)


def _commit(
    spark: SparkSession, df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Make ``df`` the whole table at ``path``, laid out by
    ``partition_by``: write it to the staging directory, then swap it
    in. The caller has run ``_recover``."""
    staging = path + _STAGING
    _writer(df).mode("overwrite").partitionBy(*partition_by).parquet(staging)
    _write_schema(spark, df.schema, partition_by, staging)
    _atomic_replace(spark, staging, path)


def _partition_columns(spark: SparkSession, path: str) -> list[str]:
    """The table's partition columns, outermost first: the ``col=value``
    directory names along its first branch, skipping ``_`` and ``.``
    names, as Spark's reader finds them. A missing, flat or empty table
    (an empty write leaves no partition directory) has none."""
    fs = _fs(spark, path)
    d = _hadoop_path(spark, path)
    cols: list[str] = []
    while fs.exists(d):
        subs = [st.getPath() for st in fs.listStatus(d) if st.isDirectory()]
        subs = [p for p in subs if not p.getName().startswith(("_", "."))]
        if not subs or "=" not in subs[0].getName():
            break
        cols.append(subs[0].getName().split("=", 1)[0])
        d = subs[0]
    return cols


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable, as a parquet
    read returns it."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _write_schema(
    spark: SparkSession, schema: T.StructType, partition_by: list[str], table: str
) -> None:
    """Write the schema a Spark read of ``table`` returns to its
    ``readers.SCHEMA_FILE``: the data columns first, then the partition
    columns (whose metadata a read does not keep), all nullable. The
    partition columns keep their written types, where inference would
    read a directory value such as ``01`` as an int."""
    read_schema = T.StructType(
        [f for f in schema if f.name not in partition_by]
        + [T.StructField(c, schema[c].dataType) for c in partition_by]
    )
    out = _fs(spark, table).create(
        _hadoop_path(spark, f"{table}/{readers.SCHEMA_FILE}")
    )
    try:
        out.write(_nullable(read_schema).json().encode("utf-8"))
    finally:
        out.close()


def _drop_schema(spark: SparkSession, path: str) -> None:
    """Delete the committed schema of the table at ``path`` before files
    are added to it outside ``_commit``."""
    schema_file = _hadoop_path(spark, f"{path}/{readers.SCHEMA_FILE}")
    _fs(spark, path).delete(schema_file, False)


def write_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Full-table overwrite, schema evolution allowed
    (delta_utils.write_delta_overwrite, delta_utils.py:24-33); the one
    write that chooses the partition columns (an empty ``df`` has none)."""
    spark = df.sparkSession
    _recover(spark, path)
    _commit(spark, df, path, partition_by or [])


def write_append(df: DataFrame, path: str) -> None:
    """Append sink for metrics/drift/log rows (batch_scoring.py:245),
    into the table's partitions; a ``df`` that lacks a partition column
    raises, since a file beside them holds rows no read returns.

    A committed schema stays: the read keeps the written types, where
    inference would read a partition value such as ``01`` as an int. A
    ``df`` with new columns widens it (nullable, before the partition
    columns) before any file is added, so a crash in between leaves
    only null columns; a column whose type differs from the committed
    one raises."""
    spark = df.sparkSession
    parts = _partition_columns(spark, path)
    if not set(parts) <= set(df.columns):
        raise ValueError(f"write_append: {path} is partitioned by {parts}")
    committed = readers.committed_schema(spark, path)
    if committed is not None:
        have = {f.name: f.dataType for f in committed}
        retyped = [
            f"{f.name}: {have[f.name].simpleString()} -> {f.dataType.simpleString()}"
            for f in df.schema
            if f.name in have and _nullable(f.dataType) != have[f.name]
        ]
        if retyped:
            raise ValueError(f"write_append: {path} retypes {retyped}")
        added = [f for f in df.schema if f.name not in have]
        if added:
            _write_schema(spark, T.StructType(list(committed) + added), parts, path)
    _writer(df).mode("append").partitionBy(*parts).parquet(path)


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (delta_utils.py:14-18). It first recovers an
    interrupted commit, and is False only for an absent path: a table
    that is there but unreadable still exists."""
    return _recover(spark, path)


def write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Write one streaming micro-batch's partial: ``df`` plus a
    ``batch_id`` column, laid out as the ``batch_id=N`` partition of the
    table at ``path``. The write replaces that one partition and leaves
    every other batch's untouched (dynamic partition overwrite; static
    mode would truncate the whole table first). A replayed micro-batch
    (at-least-once ``foreachBatch`` delivery: a crash between the write
    and the checkpoint commit) therefore rewrites its own partial instead
    of appending a duplicate. Readers merge the partials on read through
    ``readers.read_batches``."""
    _drop_schema(df.sparkSession, path)
    (
        _writer(df.withColumn("batch_id", F.lit(batch_id)))
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def optimize_layout(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    target_partitions: int | None = None,
    morton: bool = False,
) -> None:
    """Data-layout maintenance — S11 (gold_dag.py:194-212 calls a
    nonexistent ``delta.optimize_table(zorder_by=...)``; working here).

    Range-repartition + in-partition sort so min/max row-group stats
    prune on the locality columns (what Delta's OPTIMIZE ... ZORDER BY
    does), committed like every table mutation. With ``morton=True``
    and integer columns, the sort key is the interleaved-bit Z-order key
    ``morton_key_nd`` — multi-dimensional locality like Delta's ZORDER,
    not just lexicographic — so predicates on ANY of the columns prune
    row groups. A partitioned table keeps its partitions and is clustered
    within them."""
    _recover(spark, path)
    parts = _partition_columns(spark, path)
    df = readers.read_parquet(spark, path)
    # Partition-count heuristic without touching .rdd (which forces an RDD
    # materialization of the scan): compaction targets ~4 input splits per
    # output file, derived from file sizes in the scan relation's metadata.
    if target_partitions is not None:
        n = target_partitions
    else:
        in_parts = max(
            len(df.inputFiles()), spark.sparkContext.defaultParallelism
        )
        n = max(in_parts // 4, 1)
    order = [*parts, *zorder_by]
    if morton:
        if len(zorder_by) < 2:
            raise ValueError("morton=True needs at least two columns")
        # guard the integer contract: non-numeric columns would
        # cast('long') to NULL and silently degenerate the layout into
        # one giant unclustered partition
        int_types = {"tinyint", "smallint", "int", "bigint"}
        dtypes = dict(df.dtypes)
        bad = [c for c in zorder_by if dtypes.get(c) not in int_types]
        if bad:
            raise ValueError(
                f"morton=True needs integer columns; got "
                f"{[(c, dtypes.get(c)) for c in bad]}"
            )
        df = df.withColumn(
            "_zkey", morton_key_nd([F.col(c) for c in zorder_by])
        )
        order = [*parts, "_zkey"]
    out = df.repartitionByRange(n, *order).sortWithinPartitions(*order)
    _commit(spark, out.drop("_zkey"), path, parts)


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
) -> None:
    """Upsert ``source`` into the table at ``path`` on ``keys``.

    Emulates Delta's ``whenMatchedUpdateAll().whenNotMatchedInsertAll()``
    (batch_scoring.py:161-186): target ⟕anti source on keys, then union
    source and rewrite — the matched rows are replaced wholesale,
    unmatched inserted, giving the same end state as that MERGE. With no
    table at ``path`` yet, ``source`` becomes the table (unpartitioned).

    The emulation rewrites the whole table through the shared commit, so
    its cost grows with the table, not the batch (ROADMAP open item 5).
    """
    _merge(spark, path, source, source, keys)


def _merge(
    spark: SparkSession,
    path: str,
    key_rows: DataFrame,
    new_rows: DataFrame,
    keys: list[str],
) -> None:
    """MERGE body of merge_upsert and apply_cdc_batch: drop every
    target row whose key appears in ``key_rows`` (null-safe <=>, matching
    the Delta MERGE condition: NULL-keyed rows replace their NULL-keyed
    match instead of duplicating on every re-run), union ``new_rows`` and
    commit. The left-anti join needs neither distinct nor latest keys,
    so ``key_rows`` is used as it is. With no table yet, ``new_rows``
    alone is the table, unpartitioned; a table that is there is read
    once (a read error propagates) and keeps its partition columns."""
    if _recover(spark, path):
        target = readers.read_parquet(spark, path)
        src_keys = key_rows.select(*keys).alias("_mrg_s")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"_mrg_t.`{k}`").eqNullSafe(F.col(f"_mrg_s.`{k}`"))
                for k in keys
            ],
        )
        kept = target.alias("_mrg_t").join(src_keys, on=cond, how="left_anti")
        new_rows = kept.unionByName(new_rows, allowMissingColumns=True)
    _commit(spark, new_rows, path, _partition_columns(spark, path))


def apply_cdc_batch(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    op_col: str = "op",
) -> None:
    """Apply a CDC change batch (op ∈ {I, U, D} + change timestamp) to
    the table at ``path`` — the change-data-feed consumer the Delta/
    Debezium world expects.

    Within the batch, only each key's LATEST change applies (row_number
    over the key ordered by ts desc — out-of-order and duplicate change
    events collapse deterministically). Deletes drop the key; inserts/
    updates upsert whole rows. Re-applying the same batch is a no-op
    (idempotent), the property replayed CDC streams rely on.

    Scale: one window over the change batch (keyed shuffle) for the
    upsert rows, one anti-join of the target against the batch's keys,
    one rewrite through the shared commit, which keeps the layout.
    """
    from pyspark.sql import Window

    # op desc breaks same-timestamp ties deterministically
    # ('U' > 'I' > 'D': an upsert at the same instant beats a delete)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col)
    # every key the batch changes leaves the table (the raw changes have
    # the same key set as ``latest``, without a second window); only the
    # upsert rows come back in
    _merge(spark, path, changes, upserts, keys)


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: "F.Column",
) -> int:
    """Compliance-style delete: rewrite the table at ``path`` without
    rows matching ``predicate`` (the parquet stand-in for Delta's
    DELETE WHERE — right-to-erasure and retention-window enforcement).

    Returns the number of rows deleted. Commits like every table
    mutation: a crash mid-rewrite keeps the old table, and the layout
    stays.
    """
    _recover(spark, path)
    df = readers.read_parquet(spark, path)
    kept = df.filter(~predicate | predicate.isNull())
    # one aggregate, not two full-scan count()s: rows are deleted iff
    # the predicate is TRUE (NULL keeps the row, matching the filter)
    n_deleted = df.agg(
        F.sum(F.when(predicate, 1).otherwise(0)).cast("bigint")
    ).collect()[0][0] or 0
    if n_deleted == 0:
        return 0
    _commit(spark, kept, path, _partition_columns(spark, path))
    return n_deleted


def morton_key_nd(cols, bits_per: int | None = None):
    """Interleaved-bit Z-order key over ``k`` integer columns: bit ``b``
    of column ``j`` lands at position ``b*k + j``, so rows close in ALL
    dimensions get close keys. ``bits_per`` defaults to 63 // k (each
    column truncated to its low bits — callers bucket/normalize first, as
    with any Z-order).

    Built from plain shift/and/or terms (63 at k=3) — deterministic,
    engine-portable, whole-stage-codegen'd.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("morton_key_nd needs >= 2 columns")
    bits = bits_per or (63 // k)
    if bits * k > 63:
        raise ValueError(f"bits_per={bits} x {k} columns exceeds 63 bits")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            bit = F.shiftright(cl, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * k + j))
    return key
