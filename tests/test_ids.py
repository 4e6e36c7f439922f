"""Global contiguous row numbering: parity with the single-task window,
density, and order preservation across partitions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import ids
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override


def test_matches_global_window(spark, monkeypatch):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    df = spark.range(0, 5_000).select(
        (F.col("id") * 2_654_435_761 % 1_000_003).alias("k"),
        F.col("id").alias("uid"))
    with conf_override(spark, {"spark.sql.shuffle.partitions": 7}):
        got = {(r["k"], r["uid"]): r["row_num"]
               for r in ids.global_row_numbers(df, ["k", "uid"]).collect()}
    expect = {(r["k"], r["uid"]): r["rn"] for r in df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "uid")) - 1).collect()}
    assert got == expect


def test_total_order_debug_check(spark, monkeypatch):
    """Opt-in SPARK_GRAFT_IDS_CHECK_TOTAL_ORDER (round-7 ADVICE): with a
    non-total order the adaptive routing could flip plan families on
    runtime size stats and silently reorder ties — the debug check turns
    that latent hazard into a loud error; a total order passes."""
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_IDS_CHECK_TOTAL_ORDER", "1")
    dup = spark.range(0, 100).select((F.col("id") % 10).alias("k"),
                                     F.col("id").alias("uid"))
    with pytest.raises(ValueError, match="NOT a total order"):
        ids.global_row_numbers(dup, ["k"])
    out = ids.global_row_numbers(dup, ["k", "uid"])  # unique tie-break: ok
    assert out.count() == 100


def test_dense_start_and_plan(spark, monkeypatch):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    df = spark.range(0, 1_000).select(F.col("id").alias("k"))
    with conf_override(spark, {"spark.sql.shuffle.partitions": 5}):
        out = ids.global_row_numbers(df, ["k"], start=100)
    nums = sorted(r["row_num"] for r in out.collect())
    assert nums == list(range(100, 1_100))
    # the labeling pass reads the checkpointed range-partitioned RDD and
    # must add NO shuffle of its own
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Exchange" not in plan
