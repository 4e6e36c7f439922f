"""Explicit schemas for every table the engine touches.

The reference never declares a schema object anywhere: pandas infers CSV
types (``REF/glue_jobs/validate.py:23``) and the Spark transform reads CSV
with ``header=True`` only, so every column arrives as string and downstream
math leans on implicit coercion (``REF/glue_jobs/transform.py:16,28``). The
only contract it enforces is required-column presence + non-null
(``REF/glue_jobs/validate.py:13-15,34-41``).

This engine makes the contract explicit: one ``StructType`` per table, read
with PERMISSIVE mode and a ``_corrupt_record`` column so malformed rows route
to quarantine instead of poisoning a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Music-domain tables (reference schemas; required columns from
# REF/glue_jobs/validate.py:13-15, types per SURVEY.md §1.2).
# --------------------------------------------------------------------------

USERS = T.StructType([
    T.StructField("user_id", T.StringType(), True),
    T.StructField("user_name", T.StringType(), True),
    T.StructField("user_age", T.IntegerType(), True),
    T.StructField("user_country", T.StringType(), True),
    T.StructField("created_at", T.TimestampType(), True),
])

SONGS = T.StructType([
    T.StructField("track_id", T.StringType(), True),
    T.StructField("track_name", T.StringType(), True),
    T.StructField("track_genre", T.StringType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

STREAMS = T.StructType([
    T.StructField("user_id", T.StringType(), True),
    T.StructField("track_id", T.StringType(), True),
    T.StructField("listen_time", T.TimestampType(), True),
])

# Required (non-null) column contract per table — REF/glue_jobs/validate.py:13-15.
REQUIRED_COLUMNS: dict[str, list[str]] = {
    "users": ["user_id", "user_name", "user_age", "user_country", "created_at"],
    "songs": ["track_id", "track_name", "track_genre", "duration_ms"],
    "streams": ["user_id", "track_id", "listen_time"],
}

# --------------------------------------------------------------------------
# Synthetic testdata tables (/root/testdata/sf*/; see /root/repo/FIXTURES.md §B).
# Parquet carries its own schema, and sources.catalog.load_table reads it from
# each file's footer; these StructTypes are the frames load_table returns
# (tests/test_catalog.py holds them equal) and back the CSV/JSON readers and
# streaming sources in tests. The files' unzoned timestamps read as
# timestamp_ntz (o_orderdate, l_shipdate); events.ts is timestamp because
# load_table converts it, whatever unit the file stores.
# --------------------------------------------------------------------------

REGION = T.StructType([
    T.StructField("r_regionkey", T.IntegerType(), True),
    T.StructField("r_name", T.StringType(), True),
])

NATION = T.StructType([
    T.StructField("n_nationkey", T.IntegerType(), True),
    T.StructField("n_name", T.StringType(), True),
    T.StructField("n_regionkey", T.IntegerType(), True),
])

CUSTOMER = T.StructType([
    T.StructField("c_custkey", T.LongType(), True),
    T.StructField("c_name", T.StringType(), True),
    T.StructField("c_nationkey", T.IntegerType(), True),
    T.StructField("c_acctbal", T.DoubleType(), True),
    T.StructField("c_mktsegment", T.StringType(), True),
])

SUPPLIER = T.StructType([
    T.StructField("s_suppkey", T.LongType(), True),
    T.StructField("s_name", T.StringType(), True),
    T.StructField("s_nationkey", T.IntegerType(), True),
    T.StructField("s_acctbal", T.DoubleType(), True),
])

PART = T.StructType([
    T.StructField("p_partkey", T.LongType(), True),
    T.StructField("p_name", T.StringType(), True),
    T.StructField("p_brand", T.StringType(), True),
    T.StructField("p_type", T.StringType(), True),
    T.StructField("p_size", T.IntegerType(), True),
    T.StructField("p_retailprice", T.DoubleType(), True),
])

ORDERS = T.StructType([
    T.StructField("o_orderkey", T.LongType(), True),
    T.StructField("o_custkey", T.LongType(), True),
    T.StructField("o_orderstatus", T.StringType(), True),
    T.StructField("o_totalprice", T.DoubleType(), True),
    T.StructField("o_orderdate", T.TimestampNTZType(), True),
    T.StructField("o_orderpriority", T.StringType(), True),
])

LINEITEM = T.StructType([
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
])

EVENTS = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType(), True),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("label", T.IntegerType(), True),
])

# Multimodal extension columns (SURVEY.md §7 E4): media payloads are opaque
# binary with typed metadata alongside — the 100 TB-friendly layout (payload
# stays columnar/compressed; metadata prunes without decoding).
MEDIA = T.StructType([
    T.StructField("media_id", T.LongType(), True),
    T.StructField("kind", T.StringType(), True),        # image | audio | video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION, "nation": NATION, "customer": CUSTOMER,
    "supplier": SUPPLIER, "part": PART, "orders": ORDERS,
    "lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
