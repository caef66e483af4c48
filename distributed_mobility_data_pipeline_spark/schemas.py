"""The driver's testdata tables (TESTDATA.md), one StructType each.

The reference infers schema at the CSV boundary (bronze_loader.py:17-19).
``sources/readers.read_testdata`` reads every testdata table with its
schema here instead, so a read plans without an inference job. Each
schema equals what Spark infers from the files, field by field (checked
by tests/test_sources.py). Every field is nullable, since a file read
makes it so whatever the declaration says. The lineitem and orders
dates are µs timestamps with no UTC adjustment, which Spark reads as
timestamp_ntz.
``EVENTS`` is what ``read_events`` returns: ``ts`` is a timestamp
whichever of its three encodings the file holds.
"""

from __future__ import annotations

from pyspark.sql import types as T

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),  # JSON-as-string
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampNTZType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampNTZType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# name -> schema, in the order the driver lists the tables
TESTDATA_TABLES = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
