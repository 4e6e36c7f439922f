"""Round-7 additions: the map/cast engine-semantics audits and the
adaptive small-N routing in operators/ids."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import queries_extensions as qx
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import ids
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override

from .conftest import SF_SMOKE


def test_map_semantics_audit_pins(spark):
    rows = {r["id"]: r for r in qx.map_semantics_audit(spark, SF_SMOKE).collect()}
    assert rows[1]["n"] == 3 and rows[1]["keys_sorted"] == "a,b,c"
    assert rows[1]["v_a"] == 1 and rows[1]["v_z"] is None  # missing -> NULL
    assert rows[1]["n_big"] == 1 and rows[1]["vals_by_key"] == "1,2,5"
    assert rows[1]["vsum"] == 8
    # empty map: size 0, folds hit the seed, no keys
    assert rows[2]["n"] == 0 and rows[2]["vsum"] == 0
    assert rows[2]["keys_sorted"] == "" and not rows[2]["has_a"]


def test_cast_semantics_audit_pins(spark):
    rows = {r["id"]: r for r in qx.cast_semantics_audit(spark, SF_SMOKE).collect()}
    assert rows[1]["as_int"] == 42          # whitespace-trimmed parse
    assert rows[2]["as_int"] is None        # garbage -> NULL under try_cast
    assert rows[4]["as_int"] is None        # int32 overflow -> NULL
    assert rows[4]["as_big"] == 3000000000
    assert rows[5]["as_bool"] is True and rows[6]["as_bool"] is False
    assert rows[7]["as_date"] == "2024-02-03"   # lenient parse
    assert rows[8]["as_date"] is None           # impossible date
    assert rows[10]["dbl_int"] == -7            # Spark TRUNCATES
    assert rows[11]["as_double"] != rows[11]["as_double"]  # NaN
    assert rows[11]["dbl_int"] is None


def test_ids_small_frames_take_the_window_path(spark):
    """Below the planner-stats threshold the helpers must plan a plain
    window — no range
    exchange, no mapInPandas. Must be a PARQUET-derived frame: local
    relations / checkpointed RDDs report unknown stats (Long.MaxValue)
    and deliberately route to the two-phase path."""
    df = (spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
          .select("doc_id", "n_chars"))
    out = ids.global_ntile(df, ["n_chars", "doc_id"], 5, out_col="b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert "Window" in plan


def test_ids_unknown_stats_route_to_two_phase(spark):
    """Frames with no size estimate (local relations) take the scale
    path — unknown must never mean 'assume small'."""
    df = spark.createDataFrame([(i, i % 7) for i in range(100)],
                               "k long, v long")
    assert ids._est_bytes(df) > ids.SMALL_N_BYTES
    out = ids.global_ntile(df, ["v", "k"], 5, out_col="b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_ids_forced_two_phase_matches_window(spark, monkeypatch):
    """With the size threshold patched below any frame, the helpers take
    the range-partition two-phase machinery at 3 and at the default
    partition count, and match the window form exactly."""
    df = spark.createDataFrame([(i, (i * 13) % 29) for i in range(97)],
                               "k long, v long")

    def buckets():
        return {r["k"]: r["b"] for r in
                ids.global_ntile(df, ["v", "k"], 5, out_col="b").collect()}

    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)
    with conf_override(spark, {"spark.sql.shuffle.partitions": 3}):
        two = buckets()
    two_default = buckets()
    monkeypatch.setattr(ids, "SMALL_N_BYTES", 1 << 63)
    win = buckets()
    assert two == two_default == win


def test_ids_cumsum_window_path_totals(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(50)],
                               "k long, w long")
    out, totals = ids.global_cumsums_with_totals(df, ["k"], ["w"], ["cw"])
    rows = {r["k"]: r["cw"] for r in out.collect()}
    assert totals == [50 * 51 // 2]
    assert rows[0] == 1 and rows[49] == totals[0]
