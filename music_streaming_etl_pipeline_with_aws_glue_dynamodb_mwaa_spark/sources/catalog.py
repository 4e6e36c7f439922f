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

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Spark's handling differs by
        # version:
        #   - PySpark 4.x reads it natively as timestamp_ntz (µs-truncated) —
        #     use it as-is.
        #   - PySpark 3.x has no nanos type; `spark.sql.legacy.parquet
        #     .nanosAsLong=true` reads raw long ns, which we truncate to µs
        #     timestamps with integer `div` (double division loses precision
        #     at ~1.7e18 ns).
        # Branch on the READ dtype, not the version string, so either session
        # shape works.
        try:  # conf removed in 4.x; setting it there is a no-op or raises
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        # Epoch math downstream (sessionize, rolling windows) and the DuckDB
        # oracle (naive timestamps ≡ UTC wall clock) both assume UTC; pin it
        # even when the session wasn't built by our factory. DELIBERATE
        # session-wide mutation: every engine query assumes UTC (session.py
        # sets it at build), so a non-UTC caller loading events gets UTC
        # semantics from here on — documented trade for oracle parity.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # Reinterpret as UTC instants (session tz is UTC, so this is
            # value-preserving) — restores the TimestampType every downstream
            # epoch cast / window / oracle comparison was verified against;
            # timestamp_ntz cannot cast to bigint on 4.x.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


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
    ``load_table``, so version-dependent type normalization — the events
    TIMESTAMP(NANOS) handling — applies to the SQL surface too). Returns
    the view names. With this, the whole engine is reachable from
    ``spark.sql`` — the API surface a SQL-first consumer of the reference
    expects alongside the DataFrame operators."""
    names = []
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(
                f"{prefix}{t}")
            names.append(f"{prefix}{t}")
    return names
