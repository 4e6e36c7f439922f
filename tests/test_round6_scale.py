"""Round-6 scale-path rewrites: the five r5-VERDICT "weak" queries'
single-task global windows were replaced by the two-phase
range-partition machinery (operators/ids.py). These tests pin

1. ``global_ntile`` == ANSI ``ntile() OVER (ORDER BY)`` bit-for-bit,
   including the N < bins edge, at several partition counts (the E155
   sweep pattern: the result must be invariant to physical layout);
2. ``global_cumsums`` (multi-measure) == two window cumsums;
3. the rewritten operators (``ks_two_sample``, ``rfm_scores``,
   ``abc_classes``, ``concentration_coverage``, ``vocab_growth``)
   are partition-invariant and match their window-form definitions.

The sf0.01 oracle hashes already certify the rewrites against the
UNCHANGED DuckDB SQL (tools/oracle_check.py); these are the fast local
hand-case + sweep complements.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import (
    ids,
    segments,
    stats,
    text,
)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override


@pytest.mark.parametrize("n_rows,n_bins", [(500, 5), (501, 7), (3, 10)])
@pytest.mark.parametrize("parts", [1, 3, 8])
def test_global_ntile_matches_window(spark, monkeypatch, n_rows, n_bins,
                                     parts):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    rng = random.Random(42)
    rows = [(i, rng.randint(1, 50)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(13)
    with conf_override(spark, {"spark.sql.shuffle.partitions": parts}):
        got = {r["k"]: r["bucket"] for r in
               ids.global_ntile(df, ["v", "k"], n_bins).collect()}
    want = {r["k"]: r["b"] for r in df.select(
        "k", F.ntile(n_bins).over(Window.orderBy("v", "k")).alias("b"))
        .collect()}
    assert got == want


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_global_cumsums_two_measures(spark, monkeypatch, parts):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    rng = random.Random(9)
    rows = [(i, rng.randint(0, 9), rng.randint(0, 9)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, a long, b long").repartition(11)
    with conf_override(spark, {"spark.sql.shuffle.partitions": parts}):
        out = {r["k"]: (r["ca"], r["cb"]) for r in
               ids.global_cumsums(df, ["k"], ["a", "b"],
                                  ["ca", "cb"]).collect()}
    aa = bb = 0
    for k, a, b in sorted(rows):
        aa += a
        bb += b
        assert out[k] == (aa, bb)


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_ks_two_sample_partition_invariant(spark, monkeypatch, parts):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    rng = random.Random(5)
    rows = [("a" if rng.random() < 0.5 else "b",
             rng.randint(0, 40)) for _ in range(600)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(9)
    with conf_override(spark, {"spark.sql.shuffle.partitions": parts}):
        row = stats.ks_two_sample(df, "g", "v", group_a="a",
                                  group_b="b").collect()[0]
    # brute-force reference
    av = sorted(v for g, v in rows if g == "a")
    bv = sorted(v for g, v in rows if g == "b")
    na, nb = len(av), len(bv)
    best = (-1, None)
    for v in sorted({v for _, v in rows}):
        ca = sum(1 for x in av if x <= v)
        cb = sum(1 for x in bv if x <= v)
        s = abs(ca * nb - cb * na)
        if s > best[0]:
            best = (s, v)
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert row["scaled_max"] == best[0]
    assert row["ks_at_value"] == best[1]
    assert row["ks_d"] == best[0] / (na * nb)


def test_ks_two_sample_tie_takes_smallest_value(spark):
    # v=1 and v=3 both reach |ca·nb − cb·na| = 2: argmax must report v=1
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 2), ("b", 4)], "g string, v long")
    row = stats.ks_two_sample(df, "g", "v", group_a="a",
                              group_b="b").collect()[0]
    assert row["scaled_max"] == 2 and row["ks_at_value"] == 1
    assert row["ks_d"] == 0.5


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_rfm_scores_match_window_ntile(spark, monkeypatch, parts):
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    rng = random.Random(3)
    rows = [(k, f"2024-01-{rng.randint(1, 28):02d}",
             rng.randint(100, 9999)) for k in range(97)]
    od = spark.createDataFrame(rows, "ck long, d string, cents long") \
        .select("ck", F.col("d").cast("date").alias("d"), "cents") \
        .repartition(7)
    # the sweep varies the RANGE partition count inside the three
    # global_ntile calls (each range-sorts eagerly, inside the override)
    with conf_override(spark, {"spark.sql.shuffle.partitions": parts}):
        got = segments.rfm_scores(od, "ck", "d", F.col("cents"))
    # window-ntile reference on the same metric frame
    m = got.select("ck", "recency_days", "frequency", "monetary_cents")
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("ck"))
    f_w = Window.orderBy(F.col("frequency").asc(), F.col("ck"))
    m_w = Window.orderBy(F.col("monetary_cents").asc(), F.col("ck"))
    want = {r["ck"]: (r["r"], r["f"], r["m"]) for r in m.select(
        "ck", F.ntile(5).over(r_w).alias("r"),
        F.ntile(5).over(f_w).alias("f"),
        F.ntile(5).over(m_w).alias("m")).collect()}
    for r in got.collect():
        assert (r["r_score"], r["f_score"], r["m_score"]) == want[r["ck"]]
        assert r["segment"] == (str(r["r_score"]) + str(r["f_score"])
                                + str(r["m_score"]))


@pytest.mark.parametrize("parts", [2, 8])
def test_abc_and_coverage_partition_invariant(spark, parts):
    rng = random.Random(11)
    rows = [(k, rng.randint(1, 10)) for k in range(300)
            for _ in range(rng.randint(1, 3))]
    df = spark.createDataFrame(rows, "k long, w long").repartition(parts)
    abc = {r["k"]: (r["cum_weight"], r["abc_class"]) for r in
           stats.abc_classes(df, "k", F.col("w")).collect()}
    # reference: sort by (-total weight, key), running total, band tests
    per = {}
    for k, w in rows:
        per[k] = per.get(k, 0) + w
    order = sorted(per, key=lambda k: (-per[k], k))
    cum, want = 0, {}
    tot = sum(per.values())
    for k in order:
        prev = cum
        cum += per[k]
        cls = ("A" if prev * 5 < tot * 4
               else "B" if prev * 20 < tot * 19 else "C")
        want[k] = (cum, cls)
    assert abc == want
    cov = stats.concentration_coverage(df, "k", F.col("w")).collect()[0]
    n_cov = sum(1 for k in order
                if (want[k][0] - per[k]) * 5 < tot * 4)
    assert cov["n_keys"] == len(per)
    assert cov["n_covering"] == n_cov
    assert cov["total_weight"] == tot


@pytest.mark.parametrize("parts", [1, 4])
def test_vocab_growth_partition_invariant(spark, parts):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(5)))
         for i in range(40)], "doc_id long, text string") \
        .repartition(parts)
    out = {r["bucket"]: (r["n_docs_cum"], r["vocab_size"])
           for r in text.vocab_growth(docs, n_buckets=4).collect()}
    assert out[4][0] == 40                     # all docs counted
    assert out[4][1] == 23                     # full vocab reached
    assert sorted(out) == [1, 2, 3, 4]
    assert [out[b][0] for b in (1, 2, 3, 4)] == [10, 20, 30, 40]
    # vocab_size monotone non-decreasing
    assert all(out[b][1] <= out[b + 1][1] for b in (1, 2, 3))
