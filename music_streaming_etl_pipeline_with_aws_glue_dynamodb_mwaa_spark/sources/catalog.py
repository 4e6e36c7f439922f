"""Testdata catalog: load the driver's synthetic tables and expose them under
their music-domain roles (FIXTURES.md §B role mapping).

- streams fact  ← lineitem  (l_suppkey→user_id, l_partkey→track_id,
                             l_shipdate→listen_time)
- songs dim     ← part      (p_partkey→track_id, p_name→track_name,
                             p_type→track_genre, p_retailprice→duration_ms
                             stand-in)
- users dim     ← customer
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Footer key under which Spark stores the schema of a frame it wrote;
#: Spark's own inference reads it in preference to the parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every level nullable, as Spark marks a file source."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType),
                                           True, f.metadata) for f in t])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _column_type(at: pa.DataType) -> T.DataType:
    # TIMESTAMP(NANOS): Spark 4.1 rejects it (PARQUET_TYPE_ILLEGAL) unless
    # spark.sql.legacy.parquet.nanosAsLong is set, and then reads the raw
    # nanoseconds as bigint. MICROS/MILLIS read as timestamp_ntz when the
    # file marks them unzoned.
    if pa.types.is_timestamp(at) and at.unit == "ns":
        return T.LongType()
    return from_arrow_type(at, prefer_timestamp_ntz=True)


def footer_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    parquet footer on the driver instead of by a Spark job. ``path`` is a
    local parquet file, or a directory of part files whose first part
    file stands for all of them, as in Spark's inference without
    ``mergeSchema``."""
    if os.path.isdir(path):
        path = min(os.path.join(path, f) for f in os.listdir(path)
                   if not f.startswith(("_", ".")))
    schema = pq.read_schema(path)
    spark_json = (schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        st = T.StructType.fromJson(json.loads(spark_json))
    else:
        st = T.StructType([T.StructField(f.name, _column_type(f.type))
                           for f in schema])
    return _nullable(st)


def pin_events_conf(spark: SparkSession) -> None:
    """Session conf every events read needs: ``nanosAsLong`` so a
    TIMESTAMP(NANOS) ``ts`` reads at all, and UTC. Epoch math downstream
    (sessionize, rolling windows) and the DuckDB oracle (naive timestamps
    ≡ UTC wall clock) both assume UTC; pin it even when the session
    wasn't built by our factory. DELIBERATE session-wide mutation: every
    engine query assumes UTC (session.py sets it at build), so a non-UTC
    caller loading events gets UTC semantics from here on — documented
    trade for oracle parity."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Give events ``ts`` the TimestampType (UTC instants) every
    downstream epoch cast, window and oracle comparison was verified
    against, whatever unit the file stores (FIXTURES.md §B):

    - NANOS reads as bigint nanoseconds (``footer_schema``): truncate to
      µs with integer ``div`` (double division loses precision at
      ~1.7e18 ns);
    - MICROS/MILLIS read as timestamp_ntz: reinterpret as UTC instants,
      value-preserving under the pinned UTC session zone (timestamp_ntz
      cannot cast to bigint).

    Works on batch and streaming frames alike."""
    ts_dtype = dict(df.dtypes).get("ts")
    if ts_dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open ``<sf_dir>/<name>.parquet`` with its footer schema: no Spark
    job runs until the frame is executed. ``events`` gets its session
    conf and ``ts`` normalization."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        pin_events_conf(spark)
    df = spark.read.schema(footer_schema(path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def streams_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Project lineitem into the reference's streams shape (user_id,
    track_id, listen_time) — the fact side of the flagship join."""
    return lineitem.select(
        F.col("l_suppkey").alias("user_id"),
        F.col("l_partkey").alias("track_id"),
        F.col("l_shipdate").alias("listen_time"),
    )


def songs_from_part(part: DataFrame) -> DataFrame:
    """Project part into the reference's songs shape — the small dim side
    (REF/glue_jobs/transform.py:20 keeps exactly these four columns).

    ``duration_ms`` is a LONG in the music domain (SURVEY.md §1.2); the
    p_retailprice stand-in is converted to exact integer cents so aggregate
    sums are associative-exact (parallel partial aggregation order can't
    perturb them) and derived ratios are a single IEEE division —
    reproducible bit-for-bit against any engine.
    """
    return part.select(
        F.col("p_partkey").alias("track_id"),
        F.col("p_name").alias("track_name"),
        F.col("p_type").alias("track_genre"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("duration_ms"),
    )


def create_temp_views(spark: SparkSession, sf_dir: str,
                      *, prefix: str = "") -> list[str]:
    """Register every testdata table as a session temp view (through
    ``load_table``, so the events ``ts`` normalization applies to the SQL
    surface too). Returns the view names. With this, the whole engine is
    reachable from ``spark.sql`` — the API surface a SQL-first consumer
    of the reference expects alongside the DataFrame operators."""
    names = []
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(
                f"{prefix}{t}")
            names.append(f"{prefix}{t}")
    return names
