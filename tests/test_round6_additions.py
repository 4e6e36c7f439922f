"""Round-6 extension operators: equi-depth histogram, Lorenz deciles,
FD/key audits, dup attribution, n-gram novelty. Hand cases + invariants;
the sf0.01 DuckDB oracle hashes certify the full-size runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import (
    dedup,
    ids,
    profile,
    stats,
    text,
)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override


@pytest.mark.parametrize("parts", [1, 4])
def test_equidepth_histogram_counts_and_bounds(spark, monkeypatch, parts):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    rows = [(v, i) for i, v in enumerate([5, 1, 9, 3, 3, 7, 2, 8, 6, 4, 0])]
    df = spark.createDataFrame(rows, "v long, id long").repartition(3)
    with conf_override(spark, {"spark.sql.shuffle.partitions": parts}):
        out = {r["bucket"]: r for r in stats.equidepth_histogram(
            df, "v", "id", n_buckets=4).collect()}
    # 11 rows, 4 buckets → sizes 3,3,3,2; contiguous value ranges
    assert [out[b]["n"] for b in (1, 2, 3, 4)] == [3, 3, 3, 2]
    ordered = sorted(rows)
    cuts = [3, 6, 9, 11]
    lo = 0
    for b, hi in enumerate(cuts, start=1):
        seg = [v for v, _ in ordered[lo:hi]]
        assert out[b]["lo"] == min(seg) and out[b]["hi"] == max(seg)
        lo = hi


def test_lorenz_table_shares(spark):
    rows = [(k, w) for k, w in [(1, 1), (2, 1), (3, 2), (4, 6)]]
    df = spark.createDataFrame(rows, "k long, w long")
    out = {r["bin"]: r for r in stats.lorenz_table(
        df, "k", F.col("w"), n_bins=2).collect()}
    # ascending weight: bin1 = {k1,k2}, bin2 = {k3,k4}
    assert out[1]["bin_weight"] == 2 and out[2]["bin_weight"] == 8
    assert out[1]["cum_weight"] == 2 and out[2]["cum_weight"] == 10
    assert out[1]["cum_share"] == 0.2 and out[2]["cum_share"] == 1.0


def test_fd_audit_flags_violations(spark):
    df = spark.createDataFrame(
        [("s1", "en"), ("s1", "en"), ("s2", "en"), ("s2", "fr"),
         ("s3", None)],
        "source string, lang string")
    out = {r["source"]: r for r in
           profile.fd_audit(df, ["source"], ["lang"]).collect()}
    assert not out["s1"]["violated"] and out["s1"]["n_rows"] == 2
    assert out["s2"]["violated"] and out["s2"]["n_rhs_distinct"] == 2
    assert not out["s3"]["violated"]      # NULL is one rhs value


def test_key_candidates_audit(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (3, "b")], "id long, t string")
    out = {r["candidate"]: r for r in profile.key_candidates_audit(
        df, [["id"], ["id", "t"], ["t"]]).collect()}
    assert not out["id"]["is_key"] and out["id"]["n_dup_rows"] == 1
    assert not out["id,t"]["is_key"]      # (3,b) duplicated
    assert out["t"]["n_distinct"] == 2 and out["t"]["n_dup_rows"] == 2
    assert all(r["n_rows"] == 4 for r in out.values())


def test_dup_attribution_by_group(spark):
    docs = spark.createDataFrame(
        [(1, "s1", "x"), (2, "s1", "x"),      # intra-source dup
         (3, "s1", "y"), (4, "s2", "y"),      # cross-source dup
         (5, "s2", "z")],                     # unique
        "doc_id long, source string, text string")
    out = {r["source"]: r for r in
           dedup.dup_attribution_by_group(docs, "source").collect()}
    assert out["s1"]["n_docs"] == 3
    assert out["s1"]["n_dup_docs"] == 3      # x,x and y all duplicated
    assert out["s1"]["n_cross_group_docs"] == 1   # only y crosses
    assert out["s2"]["n_dup_docs"] == 1 and out["s2"]["n_cross_group_docs"] == 1
    assert out["s2"]["dup_rate"] == 0.5


def test_ngram_novelty_first_occurrence(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"),          # grams: "a b c", "b c d" — both novel
         (2, "a b c"),            # "a b c" seen at doc 1 → 0/1
         (3, "b c d x y z"),      # "b c d" old; 3 new → 3/4
         (4, "q")],               # < 3 tokens → drops out
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           text.ngram_novelty(docs, "doc_id", "text", n=3).collect()}
    assert out[1]["n_grams"] == 2 and out[1]["n_novel"] == 2
    assert out[2]["n_grams"] == 1 and out[2]["n_novel"] == 0
    assert out[3]["n_grams"] == 4 and out[3]["n_novel"] == 3
    assert out[3]["novelty_ratio"] == 0.75
    assert 4 not in out


def test_t_closeness_uniform_group_zero_emd(spark):
    # group 'a' mirrors the global distribution exactly → EMD 0;
    # group 'b' is fully concentrated on the top bucket → max skew
    rows = ([("a", v) for v in (1, 1, 2, 2, 3, 3)]
            + [("b", 3), ("b", 3), ("b", 3)])
    # make global = a ∪ b: buckets 1:2, 2:2, 3:6  (not uniform)
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import privacy
    df = spark.createDataFrame(rows, "g string, vb long")
    out = {r["g"]: r for r in privacy.t_closeness_audit(
        df, ["g"], "vb", t_num=1, t_den=5).collect()}
    # hand EMD: N=9, B=3; global cums: 2,4,9
    # a: n=6, cums 2,4,6 → |2*9-2*6|+|4*9-4*6|+0 = 6+12 = 18
    assert out["a"]["scaled_emd"] == 18
    assert out["a"]["emd"] == 18 / (6 * 9 * 2)
    # b: n=3, cums 0,0,3 → |0-2*3|+|0-4*3|+|3*9-9*3| = 6+12+0 = 18
    assert out["b"]["scaled_emd"] == 18
    assert out["b"]["emd"] == 18 / (3 * 9 * 2)
    assert out["b"]["t_violation"]        # 18*5 > 1*54
    assert not out["a"]["t_violation"]    # 18*5 < 1*108 is False: 90<108 ✓


def test_kcore_peels_tail(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import graph, pyref
    # a 4-clique with a pendant path hanging off it
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["core_degree"]
           for r in graph.kcore(df, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    assert out == dict(pyref.ref_kcore(edges, 3))


def test_kcore_empty_when_k_exceeds_clique(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import graph
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    assert graph.kcore(df, k=3).count() == 0


def test_sentence_stats_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "hello world. second one! third? end"),
         (2, "no punct here"),
         (3, ""),
         (4, "a.. b")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           text.sentence_stats(docs, "doc_id", "text").collect()}
    assert out[1]["n_sentences"] == 4
    assert out[1]["n_sentence_tokens"] == 6
    assert out[1]["max_sentence_tokens"] == 2
    assert out[1]["mean_sentence_tokens"] == 6 / 4
    assert out[2]["n_sentences"] == 1 and out[2]["n_sentence_tokens"] == 3
    assert out[3]["n_sentences"] == 0
    assert out[3]["mean_sentence_tokens"] is None
    assert out[3]["max_sentence_tokens"] is None
    assert out[4]["n_sentences"] == 2


def test_audio_loudness_exact_and_routed(spark):
    import numpy as np
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import multimodal
    s1 = np.array([0, 100, -200, 32767], dtype=np.int16)
    s2 = np.array([-32768], dtype=np.int16)
    rows = [(1, "audio", bytearray(multimodal.wav_encode(s1))),
            (2, "audio", bytearray(multimodal.wav_encode(s2))),
            (3, "audio", bytearray(b"not a wav")),      # routes to NULLs
            (4, "image", bytearray(b"BMxx"))]           # filtered out
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    out = {r["media_id"]: r for r in
           multimodal.audio_loudness_stats(media).collect()}
    assert out[1]["n_samples"] == 4
    assert out[1]["sum_sq"] == 100**2 + 200**2 + 32767**2
    assert out[1]["peak_abs"] == 32767
    assert out[1]["rms"] == (out[1]["sum_sq"] / 4) ** 0.5
    assert out[2]["sum_sq"] == 32768**2 and out[2]["peak_abs"] == 32768
    assert out[3]["n_samples"] is None and out[3]["rms"] is None
    assert 4 not in out


def test_period_drift_table_hand_case(spark):
    rows = [(True, 1), (True, 1), (True, 2),
            (False, 1), (False, 2), (False, 2), (False, 3)]
    df = spark.createDataFrame(rows, "pa boolean, bucket long")
    out = {r["bucket"]: r for r in stats.period_drift_table(
        df, F.col("pa"), "bucket").collect()}
    assert (out[1]["c_a"], out[1]["c_b"]) == (2, 1)
    assert out[1]["n_a"] == 3 and out[1]["n_b"] == 4
    assert out[1]["scaled_diff"] == abs(2 * 4 - 1 * 3)
    assert out[3]["c_a"] == 0 and out[3]["scaled_diff"] == 3
    assert out[2]["share_a"] == 1 / 3 and out[2]["share_b"] == 2 / 4


def test_period_drift_table_empty_period_null_shares(spark):
    df = spark.createDataFrame([(False, 1), (False, 2)],
                               "pa boolean, bucket long")
    out = stats.period_drift_table(df, F.col("pa"), "bucket").collect()
    assert all(r["share_a"] is None for r in out)   # n_a = 0: no raise
    assert all(r["share_b"] is not None for r in out)
