"""Repetition filters, funnel/cohort/gap analytics, OLAP lattice, merge
upsert, and exact-substring overlap — hand-computed parity + edge cases."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import (
    dedup, funnel, merge, olap, repetition)


# ---------------------------------------------------------------- repetition

def test_repetition_stats_hand_computed(spark):
    # "x x x y": unigrams x×3,y×1 → top 3/4, dup 3/4
    #            bigrams "x x"×2, "x y"×1 → top 2/3, dup 2/3
    df = spark.createDataFrame([(1, "x x x y")], "doc_id long, text string")
    r = repetition.repetition_stats(df, ns=(1, 2)).collect()[0]
    assert r["n_tokens"] == 4
    assert (r["total_1g"], r["distinct_1g"], r["top_1g"], r["dup_1g"]) == (4, 2, 3, 3)
    assert r["top_1g_frac"] == pytest.approx(0.75)
    assert (r["total_2g"], r["distinct_2g"], r["top_2g"], r["dup_2g"]) == (3, 2, 2, 2)
    assert r["dup_2g_frac"] == pytest.approx(2 / 3)


def test_repetition_stats_short_doc_survives(spark):
    # 1-token doc has no bigrams: zero counts, NULL fractions, row kept
    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    r = repetition.repetition_stats(df, ns=(2,)).collect()[0]
    assert (r["total_2g"], r["distinct_2g"], r["top_2g"], r["dup_2g"]) == (0, 0, 0, 0)
    assert r["top_2g_frac"] is None and r["dup_2g_frac"] is None


def test_repetition_gate_flags_boilerplate(spark):
    spam = " ".join(["buy now"] * 30)            # one bigram dominates
    prose = "a b c d e f g h i j k l m n o p q r"
    df = spark.createDataFrame([(1, spam), (2, prose)],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition.repetition_gate(df).collect()}
    assert not out[1]["keep"] and out[1]["flag_top_bigram"]
    assert out[2]["keep"] and not out[2]["flag_dup_trigram"]


# -------------------------------------------------------------------- funnel

def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, 1, 0, 0, s), t) for u, s, t in rows],
        "user_id long, ts timestamp, event_type string")


def test_funnel_strict_ordering(spark):
    # u1 completes all 3 in order; u2 clicked BEFORE viewing → stage 2 null
    # (strict ordering); u3 never clicks
    ev = _ev(spark, [(1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),
                     (2, 0, "click"), (2, 10, "view"), (2, 5, "purchase"),
                     (3, 0, "view")])
    out = {r["user_id"]: r for r in funnel.funnel_user_stages(
        ev, ["view", "click", "purchase"]).collect()}
    assert out[1]["t3"] is not None
    assert out[2]["t1"] is not None and out[2]["t2"] is None
    assert out[3]["t2"] is None and out[3]["t3"] is None


def test_funnel_conversion_fractions(spark):
    ev = _ev(spark, [(1, 0, "view"), (1, 1, "click"), (2, 0, "view"),
                     (3, 0, "view"), (3, 1, "click"), (3, 2, "purchase"),
                     (4, 0, "click")])
    rows = {r["step"]: r for r in funnel.funnel_conversion(
        ev, ["view", "click", "purchase"]).collect()}
    assert rows["view"]["n_users"] == 3
    assert rows["click"]["n_users"] == 2
    assert rows["purchase"]["n_users"] == 1
    assert rows["click"]["frac_of_entry"] == pytest.approx(2 / 3)


def test_cohort_retention_offsets(spark):
    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 3)),
         (2, datetime(2024, 1, 1)), (3, datetime(2024, 1, 2))],
        "user_id long, ts timestamp")
    out = {(str(r["cohort_day"]), r["day_offset"]): r["n_users"]
           for r in funnel.cohort_retention(ev).collect()}
    assert out[("2024-01-01", 0)] == 2
    assert out[("2024-01-01", 2)] == 1
    assert out[("2024-01-02", 0)] == 1


def test_interevent_stats_exact_gaps(spark):
    ev = _ev(spark, [(1, 0, "a"), (1, 2, "a"), (1, 5, "a"), (2, 7, "a")])
    out = {r["user_id"]: r for r in funnel.interevent_stats(ev).collect()}
    assert out[1]["n_gaps"] == 2
    assert out[1]["sum_gap_us"] == 5_000_000
    assert (out[1]["min_gap_us"], out[1]["max_gap_us"]) == (2_000_000, 3_000_000)
    assert out[1]["mean_gap_us"] == pytest.approx(2_500_000.0)
    # single-event user: zero gaps, NULLs, still present
    assert out[2]["n_gaps"] == 0 and out[2]["sum_gap_us"] is None


# ---------------------------------------------------------------------- olap

@pytest.fixture(scope="module")
def sales(spark):
    return spark.createDataFrame(
        [("a", "x", 1.00), ("a", "y", 2.00), ("b", "x", 3.00)],
        "k1 string, k2 string, value double")


def test_rollup_lattice(sales):
    out = {(r["k1"], r["k2"]): (r["gid"], r["n"]) for r in olap.rollup_counts(
        sales, ["k1", "k2"], [F.count(F.lit(1)).alias("n")]).collect()}
    assert out[("a", "x")] == (0, 1)
    assert out[("a", "ALL")] == (1, 2)          # per-k1 subtotal
    assert out[("ALL", "ALL")] == (3, 3)        # grand total
    assert len(out) == 3 + 2 + 1


def test_cube_lattice_has_all_subsets(sales):
    out = olap.cube_counts(sales, ["k1", "k2"],
                           [F.count(F.lit(1)).alias("n")]).collect()
    gids = {r["gid"] for r in out}
    assert gids == {0, 1, 2, 3}                 # every key subset present
    col_only = {r["k2"]: r["n"] for r in out if r["gid"] == 2}
    assert col_only == {"x": 2, "y": 1}


def test_pivot_explicit_values_zero_fill(sales):
    out = {r["k1"]: r for r in olap.pivot_counts(
        sales, "k1", "k2", ["x", "y", "z"]).collect()}
    assert (out["a"]["n_x"], out["a"]["n_y"], out["a"]["n_z"]) == (1, 1, 0)
    assert (out["b"]["n_x"], out["b"]["n_y"], out["b"]["n_z"]) == (1, 0, 0)


def test_unpivot_roundtrip_shape(sales):
    wide = sales.groupBy("k1").agg(F.sum("value").alias("m1"),
                                   F.count(F.lit(1)).cast("double").alias("m2"))
    long = olap.unpivot_measures(wide, ["k1"], ["m1", "m2"])
    assert long.count() == 4
    assert set(long.columns) == {"k1", "measure", "value"}


def test_histogram_bins_exact(spark):
    # cents 100..400, span 301: bin = floor((c-100)*4/301)
    df = spark.createDataFrame([("a", 1.00), ("a", 2.00), ("a", 3.00),
                                ("a", 4.00)], "k string, value double")
    out = {r["bin"]: r for r in olap.histogram_fixed(
        df, ["k"], "value", nbins=4).collect()}
    assert {b: r["n_rows"] for b, r in out.items()} == {0: 1, 1: 1, 2: 1, 3: 1}
    assert out[0]["bin_lo_cents"] == 100
    assert out[3]["bin_hi_cents"] == 400
    # edges tile the span with no gaps
    assert out[1]["bin_lo_cents"] == out[0]["bin_hi_cents"] + 1


def test_histogram_single_value_group(spark):
    df = spark.createDataFrame([("a", 5.00), ("a", 5.00)],
                               "k string, value double")
    out = olap.histogram_fixed(df, ["k"], "value", nbins=10).collect()
    assert len(out) == 1 and out[0]["bin"] == 0 and out[0]["n_rows"] == 2


# --------------------------------------------------------------------- merge

def test_merge_upsert_updates_win(spark):
    base = spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string")
    upd = spark.createDataFrame([(2, "new"), (3, "new")], "k long, v string")
    out = {r["k"]: r["v"] for r in merge.merge_upsert(base, upd, ["k"]).collect()}
    assert out == {1: "old", 2: "new", 3: "new"}


def test_merge_upsert_order_col_resolves_dupes(spark):
    base = spark.createDataFrame([(1, "old", 0)], "k long, v string, seq long")
    upd = spark.createDataFrame([(1, "mid", 5), (1, "late", 9)],
                                "k long, v string, seq long")
    out = merge.merge_upsert(base, upd, ["k"], order_col="seq").collect()
    assert len(out) == 1 and out[0]["v"] == "late"


def test_merge_changelog_actions(spark):
    base = spark.createDataFrame([(1,), (2,)], "k long")
    upd = spark.createDataFrame([(2,), (3,)], "k long")
    out = {r["k"]: r["action"]
           for r in merge.merge_changelog(base, upd, ["k"]).collect()}
    assert out == {1: "keep", 2: "update", 3: "insert"}


# ------------------------------------------------------------- shared ngrams

def test_shared_ngram_pairs_exact(spark):
    df = spark.createDataFrame(
        [(1, "p q r s t u"),                    # shares "p q r s"+"q r s t"
         (2, "a p q r s t b"),                  # → 2 shared 4-grams with 1
         (3, "z z z z z z")],                   # no overlap
        "doc_id long, text string")
    out = dedup.shared_ngram_pairs(df, "doc_id", "text",
                                   n=4, min_shared=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"], r["n_shared_grams"]) == (1, 2, 2)


def test_shared_ngram_max_docfreq_drops_boilerplate(spark):
    rows = [(i, "same old boiler plate text here") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    all_pairs = dedup.shared_ngram_pairs(df, "doc_id", "text",
                                         n=4, min_shared=1)
    assert all_pairs.count() == 10              # 5 choose 2
    pruned = dedup.shared_ngram_pairs(df, "doc_id", "text", n=4,
                                      min_shared=1, max_docfreq=3)
    assert pruned.count() == 0                  # ubiquitous grams cut


# --------------------------------------------------------------------- fuzzy

def test_fuzzy_pairs_blocking_and_verify(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import fuzzy
    df = spark.createDataFrame(
        [(1, "red widget"), (2, "red widgot"),   # distance 1, share "red"
         (3, "blue bolt"), (4, "blue balt"),     # distance 1, share "blue"
         (5, "red bolt")],                       # within 2 of nothing else
        "id long, name string")
    out = {(r["id_a"], r["id_b"]): r["distance"]
           for r in fuzzy.fuzzy_name_pairs(df, "id", "name",
                                           max_distance=2).collect()}
    assert out == {(1, 2): 1, (3, 4): 1}


def test_fuzzy_pairs_stop_token_cut(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import fuzzy
    rows = [(i, f"acme part{i}") for i in range(10)]   # "acme" everywhere
    df = spark.createDataFrame(rows, "id long, name string")
    full = fuzzy.fuzzy_name_pairs(df, "id", "name", max_distance=2)
    assert full.count() > 0
    cut = fuzzy.fuzzy_name_pairs(df, "id", "name", max_distance=2,
                                 max_token_freq=5)
    # "acme" (freq 10) no longer blocks; "partN" tokens are unique so the
    # only remaining blocking key is gone
    assert cut.count() == 0


def test_fuzzy_canonicalize_min_id_wins(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import fuzzy
    df = spark.createDataFrame(
        [(7, "red widget"), (3, "red widgot"), (9, "unrelated thing")],
        "id long, name string")
    out = {r["id"]: r["canonical_id"]
           for r in fuzzy.fuzzy_canonicalize(df, "id", "name").collect()}
    assert out == {3: 3, 7: 3, 9: 9}


# ------------------------------------------------- global cumsum / diff / corr

def test_global_cumsum_matches_window(spark, monkeypatch):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import ids
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override
    import random
    monkeypatch.setattr(ids, "SMALL_N_BYTES", -1)   # two-phase path
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(13)
    with conf_override(spark, {"spark.sql.shuffle.partitions": 7}):
        out = {r["k"]: r["cumsum"] for r in
               ids.global_cumsum(df, ["k"], "v").collect()}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert out[k] == acc


def test_table_diff_classification(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import merge
    l = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)],
                              "k long, v string")
    r = spark.createDataFrame([(2, "B"), (3, None), (4, "d")],
                              "k long, v string")
    out = {row["k"]: row["action"]
           for row in merge.table_diff(l, r, ["k"]).collect()}
    assert out == {1: "only_left", 2: "changed", 3: "unchanged",
                   4: "only_right"}


def test_table_diff_null_vs_sentinel_not_conflated(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import merge
    # (NULL,"x") vs ("x",NULL) must be 'changed', not 'unchanged'
    l = spark.createDataFrame([(1, None, "x")], "k long, a string, b string")
    r = spark.createDataFrame([(1, "x", None)], "k long, a string, b string")
    out = merge.table_diff(l, r, ["k"]).collect()
    assert out[0]["action"] == "changed"


def test_group_corr_matches_numpy(spark):
    import numpy as np
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    rows = [("g", float(x), float(3 * x + (-1) ** x)) for x in range(1, 20)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    r = stats.group_corr(df, ["k"], "x", "y").collect()[0]["corr"]
    xs = np.array([int(x * 100 + 0.5) for _, x, _ in rows], dtype=float)
    ys = np.array([int(y * 100 + 0.5) for _, _, y in rows], dtype=float)
    assert r == pytest.approx(np.corrcoef(xs, ys)[0, 1], rel=1e-9)


def test_group_corr_zero_variance_null(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    df = spark.createDataFrame([("g", 1.0, 2.0), ("g", 1.0, 3.0)],
                               "k string, x double, y double")
    assert stats.group_corr(df, ["k"], "x", "y").collect()[0]["corr"] is None


def test_winsorized_mean_clamps_tail(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    # 19 ones + one huge outlier; p95 rank = ceil(.95*20)=19 → bound 1.00
    rows = [("g", 1.00)] * 19 + [("g", 1000.00)]
    df = spark.createDataFrame(rows, "k string, value double")
    r = stats.winsorized_mean(df, ["k"], "value").collect()[0]
    assert r["wsum_cents"] == 20 * 100          # outlier clamped to 100
    assert r["winsorized_mean_cents"] == pytest.approx(100.0)


def test_event_transitions_counts_and_probs(spark):
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [  # user 1: a->b->a ; user 2: a->b ; ties broken by event_id
        (1, t(0), "a", 10), (1, t(1), "b", 11), (1, t(2), "a", 12),
        (2, t(5), "a", 20), (2, t(5), "b", 21),
        (3, t(9), "c", 30),                     # single event: no pair
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long")
    got = {(r["from_event"], r["to_event"]): (r["n"], r["prob"])
           for r in funnel.event_transitions(ev).collect()}
    assert got[("a", "b")] == (2, 1.0)          # both a's go to b
    assert got[("b", "a")] == (1, 1.0)
    assert ("c", None) not in got and len(got) == 2


def test_event_transitions_tie_broken_by_id(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t0, "x", 2), (1, t0, "y", 1)],
        "user_id long, ts timestamp, event_type string, event_id long")
    got = [(r["from_event"], r["to_event"])
           for r in funnel.event_transitions(ev).collect()]
    assert got == [("y", "x")]                  # id 1 first, then id 2


def test_repetition_stats_property_vs_python(spark):
    """Randomized cross-check of the index-based run-length formulation
    against a Counter reference (hypothesis-style, fixed seed)."""
    import random
    from collections import Counter

    rng = random.Random(11)
    vocab = ["a", "b", "c", "dd", "e"]
    rows = []
    for i in range(60):
        length = rng.randrange(0, 15)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           repetition.repetition_stats(df, ns=(1, 2, 3)).collect()}
    for i, text in rows:
        toks = text.split(" ")
        for n in (1, 2, 3):
            grams = [" ".join(toks[j:j + n])
                     for j in range(len(toks) - n + 1)] \
                if len(toks) >= n and text != "" else []
            # NB: "" splits to [""] — one empty token, same as the engine
            if text == "" and n == 1:
                grams = [""]
            c = Counter(grams)
            r = got[i]
            assert r[f"total_{n}g"] == sum(c.values()), (i, n)
            assert r[f"distinct_{n}g"] == len(c), (i, n)
            assert r[f"top_{n}g"] == (max(c.values()) if c else 0), (i, n)
            assert r[f"dup_{n}g"] == sum(v for v in c.values() if v > 1), (i, n)


def test_profile_portable_fused_equals_two_pass(spark):
    """Round-12 fusion guard: the single-melt (col_name, j)-grain profile
    must reproduce the r11 two-pass form (separate exact-count scan +
    melted register pipeline) exactly — including all-NULL columns and
    the n_cols zero rows on EMPTY input."""
    from pyspark.sql import functions as F

    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import (
        profile,
        sketches,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (2, None, None)],
        "id long, s string, z string")
    canon = [("id", F.col("id")), ("s", F.col("s")), ("z", F.col("z"))]

    def two_pass(d):
        cs = sorted(canon, key=lambda nc: nc[0])
        aggs = [F.count(F.lit(1)).alias("_n")]
        for name, c in cs:
            aggs.append(F.count(c).alias(f"_nn_{name}"))
        one = d.agg(*aggs)
        stack = F.array(*[
            F.struct(F.lit(name).alias("col_name"),
                     F.col("_n").alias("n_rows"),
                     F.col(f"_nn_{name}").alias("n_nonnull"))
            for name, _ in cs])
        base = one.select(F.explode(stack).alias("p")).select("p.*")
        melted = d.select(F.explode(F.array(*[
            F.struct(F.lit(name).alias("col_name"),
                     c.cast("string").alias("v"))
            for name, c in cs])).alias("m")).select("m.*")
        est = sketches.hll_distinct_estimates(
            melted, ["col_name"], F.col("v"), out_col="n_distinct_est")
        return (base.join(est, "col_name", "left")
                .select("col_name", "n_rows", "n_nonnull",
                        "n_distinct_est"))

    fused = profile.profile_table_portable_approx(df, canon)
    ref = two_pass(df)
    assert [(f.name, f.dataType) for f in fused.schema.fields] == \
        [(f.name, f.dataType) for f in ref.schema.fields]
    assert sorted(map(tuple, fused.collect())) == \
        sorted(map(tuple, ref.collect()))

    empty = df.limit(0)
    got = sorted(map(tuple, profile.profile_table_portable_approx(
        empty, canon).collect()))
    want = sorted(map(tuple, two_pass(empty).collect()))
    assert got == want and len(got) == 3 and all(
        r[1] == 0 and r[2] == 0 and r[3] is None for r in got)
