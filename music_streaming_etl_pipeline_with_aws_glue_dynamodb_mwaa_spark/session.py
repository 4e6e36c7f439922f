"""SparkSession factory.

The reference delegates all execution tuning to AWS Glue defaults (see
``REF/glue_jobs/transform.py:8-10`` — bare GlueContext init, no conf). This
engine owns its session config instead: AQE for runtime re-planning and skew
handling, UTC session timezone (so results compare bit-for-bit against the
DuckDB oracle), dynamic partition overwrite (so a late file for one
``listen_date`` rewrites one partition, not the whole output dir — fixing the
whole-dir overwrite at ``REF/glue_jobs/transform.py:53-55``), Arrow for
any pandas-UDF boundary, and a fixed 2 MB Tungsten page (so small sort and
aggregate tasks running at once do not each hold a 32 MB one).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else half of the host's RAM
    (``/proc/meminfo`` MemTotal). Local mode runs the executors inside the
    driver JVM; a max heap past physical memory lets the OS kill the
    process before Spark's memory manager would spill."""
    if env := os.environ.get("SPARK_DRIVER_MEMORY"):
        return env
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "4g"
    return f"{total_kb // 2048}m"


def get_spark(app_name: str = "music-streaming-engine", *, cpus: int | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Local mode here; on a real cluster the same conf applies except master.
    Shuffle partitions default to the core count — at 100 TB on a 1000-executor
    cluster this knob is instead sized so post-shuffle partitions land in the
    100-200 MB range (AQE coalescing makes the initial value forgiving).
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Tungsten's default page is heap / cores / 16 rounded up to a power
        # of two (32 MB at 2 GB and 4 cores), which every sort and hash
        # aggregate task allocates however few rows it holds, so the heap
        # grows when several such tasks run at once. 2 MB pages still let
        # one task address 16 GB (8192 pages).
        .config("spark.buffer.pageSize", "2m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    # TIMESTAMP(NANOS) parquet columns fail to read (PARQUET_TYPE_ILLEGAL)
    # unless spark.sql.legacy.parquet.nanosAsLong is set, and then read as
    # bigint ns; MICROS/MILLIS read as timestamp_ntz. The catalog sets the
    # conf on every events open and converts either to timestamp
    # (sources/catalog.py::pin_events_conf, normalize_events_ts).
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def conf_override(spark, conf: dict):
    """Set each runtime conf key in ``conf`` for the ``with`` body, then
    restore the value it had before — also when the body raises.

    Session conf is shared by every thread of the session, so two
    threads overriding the same key at once would restore each other's
    values. No code in this package changes conf from more than one
    thread: the driver threads of ``materialize.overlapped`` only run
    actions."""
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def enable_runtime_bloom_filters(spark, *,
                                 application_side_min_scan: str = "10GB",
                                 creation_side_max: str = "10MB") -> None:
    """Turn on Spark's runtime bloom-filter join pruning: for a shuffle
    join with a selective filter on one side, the optimizer injects
    ``bloom_filter_agg`` over that side's join keys and pushes
    ``might_contain`` into the OTHER side's scan — rows that cannot match
    are dropped before the shuffle (semi-join reduction without writing
    one).

    Thresholds gate when it pays: the application side must be big enough
    to be worth pre-filtering (``application_side_min_scan``) and the
    creation side small enough that building the filter is cheap
    (``creation_side_max``). Defaults here are production-shaped; tests
    lower the scan threshold to force injection at toy scale
    (tests/test_tpch_suite.py pins the mechanism works on this Spark).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
                   "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_max)
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold", application_side_min_scan)
