"""catalog.load_table opens tables with the schema from the parquet footer:
the same frame schema and rows as Spark's own inference (plus the events
``ts`` normalization), and no Spark job per open."""

from __future__ import annotations

import os
from uuid import uuid4

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import (
    queries_extensions as qe, schemas)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog

from .conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE)
SFS = sorted(d for d in os.listdir(TESTDATA) if d.startswith("sf"))


def _inferred(spark, sf_dir, name):
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return catalog.normalize_events_ts(df) if name == "events" else df


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("sf", SFS)
def test_footer_schema_matches_inference_and_declared(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    for name in catalog.TABLES:
        got = catalog.load_table(spark, sf_dir, name).schema
        assert got == _inferred(spark, sf_dir, name).schema, name
        assert got == schemas.TESTDATA_SCHEMAS[name], name


def test_footer_schema_rows_match_inference(spark):
    for name in catalog.TABLES:
        assert _same_rows(catalog.load_table(spark, SF_SMOKE, name),
                          _inferred(spark, SF_SMOKE, name)), name


def test_table_open_runs_no_spark_job(spark):
    sc = spark.sparkContext
    for name in catalog.TABLES:
        group = f"catalog-open-{uuid4().hex}"
        sc.setJobGroup(group, f"open {name}")
        try:
            catalog.load_table(spark, SF_SMOKE, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_nanos_events_load_as_truncated_timestamps(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, None]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "user_id": pa.array([7, 7, 8], pa.int64()),
        "event_type": ["play", "skip", "play"],
        "value": [1.5, 2.0, 0.5],
        "props": ["{}", "{}", "{}"],
    }), tmp_path / "events.parquet")
    assert catalog.footer_schema(str(tmp_path / "events.parquet"))[
        "ts"].dataType == T.LongType()

    ev = catalog.load_table(spark, str(tmp_path), "events")
    assert ev.schema == schemas.EVENTS
    got = [r[0] for r in ev.orderBy("event_id")
           .select(F.unix_micros("ts")).collect()]
    assert got == [1_700_000_000_123_456, 1_700_000_001_000_000, None]
    assert qe._events_stream(spark, str(tmp_path)).schema == ev.schema


def test_spark_written_table_matches_inference(spark, tmp_path):
    # Spark's footer carries its own schema (here a non-null column and an
    # INT96 timestamp); the catalog reads that one, as inference does.
    src = spark.range(5).select(
        "id", F.timestamp_seconds(F.col("id") * 86_400).alias("at"),
        F.array(F.col("id")).alias("ids"))
    src.coalesce(2).write.parquet(str(tmp_path / "region.parquet"))
    got = catalog.load_table(spark, str(tmp_path), "region")
    inferred = _inferred(spark, str(tmp_path), "region")
    assert got.schema == inferred.schema
    assert _same_rows(got, inferred)


def test_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        catalog.load_table(spark, str(tmp_path), "region")
