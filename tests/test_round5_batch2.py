"""Round-5 batch 2: item-item CF top-k, gap-fill interpolation, RFM
segmentation, 2-D skyline, sweep-line concurrency histogram."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import (
    baskets, segments, skyline, spans, timeseries)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import conf_override


# ------------------------------------------------------ topk_neighbors ---

def test_topk_neighbors_symmetry_and_score(spark):
    # baskets: {1,2,3}, {1,2}, {1,3} → n1=3 n2=2 n3=2,
    # pairs (1,2):2 (1,3):2 (2,3):1(<min_support, dropped)
    df = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3), (11, 1), (11, 2), (12, 1), (12, 3)],
        "bk long, it long")
    pairs = baskets.pair_support(df, "bk", "it", min_support=2,
                                 max_basket_size=None)
    got = {(r["item"], r["neighbor"]): (r["n_pair"], r["cosine"], r["rank"])
           for r in baskets.topk_neighbors(pairs, k=3).collect()}
    # every surviving edge serves both endpoints
    assert set(got) == {(1, 2), (2, 1), (1, 3), (3, 1)}
    c12 = 2 / math.sqrt(3 * 2)
    assert got[(1, 2)] == (2, c12, 1) or got[(1, 2)] == (2, c12, 2)
    assert got[(2, 1)] == (2, c12, 1)   # item 2's only neighbor


def test_topk_neighbors_cut_and_tiebreak(spark):
    # item 1 co-occurs equally with 2,3,4 (identical cosines) → rank by
    # neighbor asc; k=2 keeps neighbors 2 and 3 only.
    df = spark.createDataFrame([(b * 10 + i, it)
                                for b, pr in enumerate([(1, 2), (1, 3),
                                                        (1, 4)] * 2)
                                for i, it in [(0, pr[0]), (0, pr[1])]],
                               "bk long, it long")
    pairs = baskets.pair_support(df, "bk", "it", min_support=2,
                                 max_basket_size=None)
    mine = (baskets.topk_neighbors(pairs, k=2)
            .filter(F.col("item") == 1).orderBy("rank").collect())
    assert [r["neighbor"] for r in mine] == [2, 3]


# ------------------------------------------------------ gapfill_linear ---

def test_gapfill_linear_exact_interpolation(spark):
    d = dt.date
    daily = spark.createDataFrame(
        [("u", d(2024, 1, 1), 100), ("u", d(2024, 1, 4), 400),
         ("u", d(2024, 1, 5), 50),
         ("v", d(2024, 1, 2), 7)],
        "user string, day date, cents long")
    out = {(r["user"], r["day"]): (r["val"], r["filled_value"],
                                   r["is_interpolated"])
           for r in timeseries.gapfill_linear(
               daily, ["user"], "day", "cents").collect()}
    # u: 5-day grid, days 2 and 3 interpolated on the 100→400 segment
    assert len(out) == 6
    assert out[("u", d(2024, 1, 1))] == (100, 100.0, False)
    assert out[("u", d(2024, 1, 2))] == (None, 100.0 + 300.0 * (1 / 3), True)
    assert out[("u", d(2024, 1, 3))] == (None, 100.0 + 300.0 * (2 / 3), True)
    assert out[("u", d(2024, 1, 4))] == (400, 400.0, False)
    assert out[("u", d(2024, 1, 5))] == (50, 50.0, False)
    # single-observation key → just its own day, no fills
    assert out[("v", d(2024, 1, 2))] == (7, 7.0, False)


# ---------------------------------------------------------- rfm_scores ---

def test_rfm_scores_deterministic_quintiles(spark):
    d = dt.date
    # 5 customers, one order each: recency/frequency/monetary all distinct
    rows = [(k, d(2024, 1, k), float(k)) for k in range(1, 6)]
    df = spark.createDataFrame(rows, "cust long, od date, amt double")
    out = {r["cust"]: r for r in segments.rfm_scores(
        df, "cust", "od",
        F.round(F.col("amt") * 100, 0).cast("bigint")).collect()}
    # cust 5 ordered last (most recent) → r_score 5; largest amt → m 5
    assert out[5]["recency_days"] == 0 and out[5]["r_score"] == 5
    assert out[1]["recency_days"] == 4 and out[1]["r_score"] == 1
    assert out[5]["m_score"] == 5 and out[1]["m_score"] == 1
    # equal frequency everywhere → tie-break on custkey, ascending
    assert [out[k]["f_score"] for k in range(1, 6)] == [1, 2, 3, 4, 5]
    assert out[5]["monetary_cents"] == 500
    assert out[5]["segment"] == "555"


# -------------------------------------------------- pareto_frontier_2d ---

def _brute_skyline(pts):
    keep = []
    for x, y in pts:
        dom = any((bx <= x and by >= y and (bx < x or by > y))
                  for bx, by in pts)
        if not dom:
            keep.append((x, y))
    return sorted(keep)


def test_pareto_frontier_matches_brute_force(spark):
    import random
    rng = random.Random(7)
    pts = [(rng.randrange(20), rng.randrange(20)) for _ in range(200)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = sorted((r["x"], r["y"]) for r in
                 skyline.pareto_frontier_2d(df, "x", "y").collect())
    assert got == _brute_skyline(pts)


def test_pareto_frontier_ties_survive_together(spark):
    # identical points are mutually non-dominating → both kept
    df = spark.createDataFrame([(1, 5, "a"), (1, 5, "b"), (2, 5, "c")],
                               "x long, y long, tag string")
    got = sorted(r["tag"] for r in
                 skyline.pareto_frontier_2d(df, "x", "y").collect())
    assert got == ["a", "b"]   # c dominated by (1,5): cheaper, same y


# ------------------------------------------------ concurrency_histogram ---

def test_concurrency_histogram_hand_case(spark):
    # [0,10) [5,15) [20,30): levels 1:[0,5)+[10,15)+[20,30)=20, 2:[5,10)=5,
    # 0 between 15 and 20 = 5
    df = spark.createDataFrame([(0, 10), (5, 15), (20, 30)],
                               "s long, e long")
    got = {r["level"]: (r["total_us"], r["n_segments"])
           for r in spans.concurrency_histogram(
               df, "s", "e", length=lambda s, e: e - s).collect()}
    assert got == {0: (5, 1), 1: (20, 3), 2: (5, 1)}


def test_concurrency_histogram_halfopen_touch(spark):
    # [0,10) then [10,20): never concurrent — end boundary sorts first
    df = spark.createDataFrame([(0, 10), (10, 20)], "s long, e long")
    got = {r["level"]: r["total_us"]
           for r in spans.concurrency_histogram(
               df, "s", "e", length=lambda s, e: e - s).collect()}
    assert got == {1: 20}


def test_concurrency_histogram_integral_invariant(spark):
    # ∫ level dt == Σ interval lengths, whatever the overlap structure
    import random
    rng = random.Random(11)
    ivs = []
    for _ in range(100):
        s = rng.randrange(1000)
        ivs.append((s, s + 1 + rng.randrange(50)))
    df = spark.createDataFrame(ivs, "s long, e long")
    rows = spans.concurrency_histogram(
        df, "s", "e", length=lambda s, e: e - s).collect()
    integral = sum(r["level"] * r["total_us"] for r in rows)
    assert integral == sum(e - s for s, e in ivs)


# ------------------------------------------------------------- welch_t ---

def test_welch_t_matches_scipy_formula(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import experiment
    a = [10, 12, 14, 9, 11, 13]
    b = [20, 22, 19, 25]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = experiment.welch_t(df, "g", F.col("v"),
                           group_a="a", group_b="b").collect()[0]
    import statistics as st
    ma, mb = st.mean(a), st.mean(b)
    va, vb = st.variance(a), st.variance(b)
    qa, qb = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(qa + qb)
    dof = (qa + qb) ** 2 / (qa * qa / (len(a) - 1) + qb * qb / (len(b) - 1))
    assert r["n_a"] == 6 and r["n_b"] == 4
    assert abs(r["mean_a"] - ma) < 1e-12 and abs(r["var_b"] - vb) < 1e-12
    assert abs(r["t_stat"] - t) < 1e-12
    assert abs(r["welch_df"] - dof) < 1e-12


# ---------------------------------------------------- chi_square_cells ---

def test_chi_square_cells_zero_cells_and_totals(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import experiment
    rows = [("x", 1)] * 3 + [("x", 2)] * 1 + [("y", 1)] * 2
    df = spark.createDataFrame(rows, "r string, c long")
    out = {(r["r"], r["c"]): r
           for r in experiment.chi_square_cells(df, "r", "c").collect()}
    # full 2x2 grid, including the unobserved (y, 2) cell
    assert set(out) == {("x", 1), ("x", 2), ("y", 1), ("y", 2)}
    z = out[("y", 2)]
    assert z["observed"] == 0 and z["row_total"] == 2 and z["col_total"] == 1
    assert abs(z["expected"] - 2 * 1 / 6) < 1e-15
    # contribution == (o-e)^2/e for an observed cell
    cell = out[("x", 1)]
    e = 4 * 5 / 6
    assert abs(cell["contribution"] - (3 - e) ** 2 / e) < 1e-12
    # marginal identity: sum of observed == N per construction
    assert sum(r["observed"] for r in out.values()) == 6


# ---------------------------------------------- clustering_coefficient ---

def test_clustering_coefficient_known_graph(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import graph
    # triangle 1-2-3 plus pendant 4 attached to 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long")
    out = {r["node"]: r for r in
           graph.clustering_coefficient(edges).collect()}
    assert out[1]["clustering_coeff"] == 1.0     # deg 2, 1 triangle
    assert out[2]["clustering_coeff"] == 1.0
    assert out[3]["degree"] == 3 and out[3]["n_triangles"] == 1
    assert abs(out[3]["clustering_coeff"] - 2 * 1 / (3 * 2)) < 1e-15
    assert out[4]["degree"] == 1 and out[4]["clustering_coeff"] == 0.0


# ------------------------------------------------ benford_leading_digit ---

def test_benford_leading_digit(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import profile
    df = spark.createDataFrame(
        [(1,), (19,), (123,), (2,), (999,), (0,), (-5,)], "v long")
    out = {r["digit"]: (r["n"], r["share"]) for r in
           profile.benford_leading_digit(df, F.col("v")).collect()}
    # zero and negative rows excluded; digits from 1,19,123 → 1; 2 → 2; 999 → 9
    assert out == {1: (3, 3 / 5), 2: (1, 1 / 5), 9: (1, 1 / 5)}


# ------------------------------------------------- cusum_changepoint ---

def test_cusum_changepoint_finds_mean_shift(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import timeseries
    # 10 points at 0, then 10 points at 100 → split at position 10
    rows = [("k", i, 0 if i < 10 else 100) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    r = timeseries.cusum_changepoint(df, ["k"], "t", "v").collect()[0]
    assert r["n"] == 20 and r["split_idx"] == 10 and r["split_at"] == 9
    # C_10 = 20*0 - 10*1000 = -10000
    assert r["cusum_scaled"] == -10000


def test_cusum_changepoint_matches_brute(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import timeseries
    import random
    rng = random.Random(3)
    vals = [rng.randrange(100) for _ in range(50)]
    df = spark.createDataFrame([("k", i, v) for i, v in enumerate(vals)],
                               "k string, t long, v long")
    r = timeseries.cusum_changepoint(df, ["k"], "t", "v").collect()[0]
    n, tot = len(vals), sum(vals)
    best = max(((abs(n * sum(vals[:i]) - i * tot), -i)
                for i in range(1, n + 1)))
    assert abs(r["cusum_scaled"]) == best[0] and r["split_idx"] == -best[1]


# ------------------------------------------------------- mode_per_group ---

def test_mode_per_group_tiebreak(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import freq
    df = spark.createDataFrame(
        [("u", "b"), ("u", "b"), ("u", "a"), ("u", "a"), ("u", "c"),
         ("v", "z")],
        "k string, v string")
    got = {(r["k"]): (r["v"], r["n"]) for r in
           freq.mode_per_group(df, ["k"], "v").collect()}
    # tie between a and b at 2 → smallest value wins
    assert got == {"u": ("a", 2), "v": ("z", 1)}


# ----------------------------------------------------------- value_runs ---

def test_value_runs_rle(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import spans
    seq = ["a", "a", "b", "b", "b", "a", None, None, "c"]
    df = spark.createDataFrame([("u", i, v) for i, v in enumerate(seq)],
                               "k string, t long, v string")
    got = sorted((r["run_start"], r["v"], r["run_len"], r["run_end"])
                 for r in spans.value_runs(df, ["k"], "t", "v").collect())
    assert got == [(0, "a", 2, 1), (2, "b", 3, 4), (5, "a", 1, 5),
                   (6, None, 2, 7), (8, "c", 1, 8)]


# ------------------------------------------- concentration_coverage ---

def test_concentration_coverage_8020(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    # weights 50, 30, 15, 5 (total 100): 80% needs {50, 30}
    df = spark.createDataFrame(
        [(1, 50), (2, 30), (3, 15), (4, 5)], "k long, w long")
    r = stats.concentration_coverage(df, "k", F.col("w")).collect()[0]
    assert r["n_keys"] == 4 and r["n_covering"] == 2
    assert r["covered_weight"] == 80 and r["total_weight"] == 100
    assert r["covered_share"] == 0.8


def test_concentration_coverage_exact_boundary(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    # first key alone covers exactly 80% → covering set is 1 key
    df = spark.createDataFrame([(1, 8), (2, 2)], "k long, w long")
    r = stats.concentration_coverage(df, "k", F.col("w")).collect()[0]
    assert r["n_covering"] == 1 and r["covered_weight"] == 8


# ------------------------------------------------------ weighted_median ---

def test_weighted_median_exact(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    # values 1..4 with weights 1,1,1,7 → lower weighted median = 4
    # (cum at 4 = 10, 2*10 >= 10; cum at 3 = 3, 2*3 < 10)
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 3, 1), ("g", 4, 7),
         ("h", 5, 1), ("h", 6, 1)],
        "k string, v long, w long")
    got = {r["k"]: (r["median"], r["total_weight"]) for r in
           stats.weighted_median(df, ["k"], "v", F.col("w")).collect()}
    # h: equal weights → lower median = 5 (2*1 >= 2)
    assert got == {"g": (4, 10), "h": (5, 2)}


def test_weighted_median_matches_brute(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    import random
    rng = random.Random(5)
    rows = [("k", rng.randrange(30), 1 + rng.randrange(9))
            for _ in range(200)]
    df = spark.createDataFrame(rows, "k string, v long, w long")
    r = stats.weighted_median(df, ["k"], "v", F.col("w")).collect()[0]
    tot = sum(w for _, _, w in rows)
    acc, med = 0, None
    for v in sorted({v for _, v, _ in rows}):
        acc += sum(w for _, vv, w in rows if vv == v)
        if 2 * acc >= tot:
            med = v
            break
    assert r["median"] == med and r["total_weight"] == tot


# ------------------------------------------------- order_qty_hof_stats ---

def test_hof_stats_hand_case(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import queries_reference as qr
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import queries_extensions  # noqa: F401 — populates REGISTRY
    import tempfile, os
    # tiny lineitem stand-in through the registered query's own lambda set
    df = spark.createDataFrame(
        [(1, 3.0), (1, 1.0), (1, 4.0), (2, 2.0)],
        "l_orderkey long, l_quantity double")
    d = tempfile.mkdtemp()
    df.write.parquet(os.path.join(d, "lineitem.parquet"))
    out = {r["l_orderkey"]: r for r in
           qr.REGISTRY["order_qty_hof_stats"][0](spark, d).collect()}
    r1 = out[1]
    assert (r1["n_items"], r1["qty_sum"], r1["qty_max"]) == (3, 8, 4)
    assert (r1["n_distinct"], r1["n_even"]) == (3, 1)
    assert r1["doubled_sum"] == 16 and r1["minmax_sum"] == 5  # 1+4
    assert out[2]["minmax_sum"] == 4


# ------------------------------------------------------------- bfs_hops ---

def test_bfs_hops_path_and_bound(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import graph
    # path 1-2-3-4-5, seed 1, max 3 hops → 5 unreachable; isolated seed 9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (9,)], "node long")
    got = {r["node"]: r["hops"] for r in
           graph.bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_shortest_path_not_any_path(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import graph
    # diamond 1-2-4, 1-3-4 plus long way 2-5-6-4: hop(4) must be 2
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (2, 5), (5, 6), (6, 4)],
        "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hops"] for r in
           graph.bfs_hops(edges, seeds, max_hops=4).collect()}
    assert got[4] == 2 and got[5] == 2 and got[6] == 3


# --------------------------------------------------- linear_attribution ---

def test_linear_attribution_split_and_window(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import attribution
    import datetime as dtm
    t0 = dtm.datetime(2024, 1, 1, 12, 0, 0)
    m = dtm.timedelta(minutes=1)
    conv = spark.createDataFrame(
        [("u", 100, t0, 900), ("u", 101, t0 + 60 * m, 500),
         ("v", 102, t0, 300)],
        "user string, event_id long, ts timestamp, cents long")
    touch = spark.createDataFrame(
        [("u", 1, t0 - 5 * m), ("u", 2, t0 - 29 * m),   # both in window
         ("u", 3, t0 - 31 * m),                           # outside
         ("u", 4, t0),                                    # not strictly before
         ("w", 5, t0 - m)],                               # other user
        "user string, event_id long, ts timestamp")
    out = attribution.linear_attribution(
        conv, touch, "user", "ts", conv_id="event_id",
        touch_id="event_id", value=F.col("cents"),
        window_expr=F.expr("INTERVAL 30 MINUTES")).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r["conv_id"], []).append(r)
    # conv 100: touches 1 and 2 split 900 → 450 each
    assert sorted(r["touch_id"] for r in by_conv[100]) == [1, 2]
    assert all(r["n_touches"] == 2 and r["credit"] == 450.0
               for r in by_conv[100])
    # conv 101 (13:00): touch at 12:00 is not >= cts-30min → no touches;
    # conv 102 (user v): no touches → dropped
    assert set(by_conv) == {100}


def test_concurrency_histogram_scaled_matches_window_path(spark):
    # same random intervals, window vs two-phase, several partition counts
    import random
    rng = random.Random(23)
    ivs = []
    for _ in range(500):
        s = rng.randrange(5000)
        ivs.append((s, s + 1 + rng.randrange(200)))
    df = spark.createDataFrame(ivs, "s long, e long")
    ref = sorted((r["level"], r["total_us"], r["n_segments"])
                 for r in spans.concurrency_histogram(
                     df, "s", "e", length=lambda s, e: e - s).collect())
    for parts in (1, 3, 8):
        with conf_override(spark, {"spark.sql.shuffle.partitions": parts}):
            got = sorted((r["level"], r["total_us"], r["n_segments"])
                         for r in spans.concurrency_histogram(
                             df, "s", "e", scaled=True).collect())
        assert got == ref, parts


def test_concurrency_histogram_scaled_timestamps(spark):
    import datetime as dtm
    t0 = dtm.datetime(2024, 1, 1, 12, 0, 0)
    s = dtm.timedelta(seconds=1)
    df = spark.createDataFrame(
        [(t0, t0 + 10 * s), (t0 + 5 * s, t0 + 15 * s)],
        "s timestamp, e timestamp")
    with conf_override(spark, {"spark.sql.shuffle.partitions": 2}):
        got = {r["level"]: r["total_us"] for r in
               spans.concurrency_histogram(df, "s", "e",
                                           scaled=True).collect()}
    assert got == {1: 10_000_000, 2: 5_000_000}


# ------------------------------------------------------ series_ssd_topk ---

def test_series_ssd_topk_matches_brute(spark):
    import random
    rng = random.Random(17)
    # sparse series over 10 days for 12 users
    rows = []
    for u in range(12):
        for day in range(10):
            if rng.random() < 0.6:
                rows.append((u, day, rng.randrange(1, 50)))
    df = spark.createDataFrame(rows, "u long, day long, v long")
    got = {(r["query_key"], r["rnk"]): (r["u"], r["ssd"]) for r in
           timeseries.series_ssd_topk(df, "u", "day", "v", [0, 1],
                                      k=3).collect()}
    # brute force with dense zero-filled vectors
    # only users with ≥1 observation exist in the sparse table
    dense = {}
    for u, day, v in rows:
        dense.setdefault(u, [0] * 10)[day] = v
    for q in (0, 1):
        ssds = sorted(
            (sum((a - b) ** 2 for a, b in zip(dense[q], dense[u])), u)
            for u in dense if u != q)
        for rnk, (ssd, u) in enumerate(ssds[:3], 1):
            assert got[(q, rnk)] == (u, ssd), (q, rnk)


def test_concurrency_histogram_scaled_multi_arrow_batch(spark):
    # force tiny Arrow batches so one partition spans MANY pandas frames —
    # exercises the fold's cross-batch pending-boundary handoff, which a
    # default-sized batch never hits
    import random
    rng = random.Random(31)
    ivs = []
    for _ in range(300):
        s = rng.randrange(2000)
        ivs.append((s, s + 1 + rng.randrange(80)))
    df = spark.createDataFrame(ivs, "s long, e long")
    ref = sorted((r["level"], r["total_us"], r["n_segments"])
                 for r in spans.concurrency_histogram(
                     df, "s", "e", length=lambda s, e: e - s).collect())
    with conf_override(spark, {
            "spark.sql.execution.arrow.maxRecordsPerBatch": 7,
            "spark.sql.shuffle.partitions": 4}):
        got = sorted((r["level"], r["total_us"], r["n_segments"])
                     for r in spans.concurrency_histogram(
                         df, "s", "e", scaled=True).collect())
    assert got == ref


# ---------------------------------------------------- association_rules ---

def test_association_rules_direction_and_confidence(spark):
    # baskets: {1,2} x2, {1} x2 → n1=4, n2=2, pair(1,2)=2
    df = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (13, 1)],
        "bk long, it long")
    pairs = baskets.pair_support(df, "bk", "it", min_support=2,
                                 max_basket_size=None)
    got = {(r["antecedent"], r["consequent"]):
           (r["confidence"], r["lift"]) for r in
           baskets.association_rules(pairs).collect()}
    # 1→2: 2/4 = 0.5 ; 2→1: 2/2 = 1.0 ; lift symmetric = 2*4/(4*2) = 1.0
    assert got[(1, 2)] == (0.5, 1.0) and got[(2, 1)] == (1.0, 1.0)
    # min_confidence prunes the weak direction only
    kept = {(r["antecedent"], r["consequent"]) for r in
            baskets.association_rules(pairs,
                                      min_confidence=0.9).collect()}
    assert kept == {(2, 1)}


# ---------------------------------------------------------- abc_classes ---

def test_abc_classes_band_boundaries(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    # weights 50,30,15,4,1 (total 100): A = {50,30} (prev cum 0,50 < 80),
    # B = {15} (prev cum 80 < 95), C = {4,1} (prev cum 95,99 >= 95)
    df = spark.createDataFrame(
        [(1, 50), (2, 30), (3, 15), (4, 4), (5, 1)], "k long, w long")
    got = {r["k"]: (r["abc_class"], r["cum_weight"]) for r in
           stats.abc_classes(df, "k", F.col("w")).collect()}
    assert got == {1: ("A", 50), 2: ("A", 80), 3: ("B", 95),
                   4: ("C", 99), 5: ("C", 100)}


# ------------------------------------------------------ autocorrelation ---

def test_autocorrelation_matches_numpy(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    import numpy as np
    import random
    rng = random.Random(41)
    xs = [rng.randrange(100) for _ in range(40)]
    df = spark.createDataFrame([("k", i, v) for i, v in enumerate(xs)],
                               "k string, t long, v long")
    got = {r["lag"]: r["r"] for r in
           stats.autocorrelation(df, ["k"], "t", "v",
                                 max_lag=3).collect()}
    x = np.array(xs, dtype=float)
    dev = len(x) * x - x.sum()          # the same mean-cleared scaling
    for k in (1, 2, 3):
        expect = float((dev[k:] * dev[:-k]).sum() / (dev * dev).sum())
        assert abs(got[k] - expect) < 1e-12, k


# --------------------------------------------------------- ks_two_sample ---

def test_ks_two_sample_matches_brute(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import stats
    import random
    rng = random.Random(43)
    a = [rng.randrange(50) for _ in range(60)]
    b = [rng.randrange(30, 80) for _ in range(40)]   # shifted cohort
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = stats.ks_two_sample(df, "g", "v",
                            group_a="a", group_b="b").collect()[0]
    vals = sorted(set(a) | set(b))
    best = max((abs(sum(1 for x in a if x <= v) * len(b)
                    - sum(1 for x in b if x <= v) * len(a)), -v)
               for v in vals)
    assert r["scaled_max"] == best[0] and r["ks_at_value"] == -best[1]
    assert abs(r["ks_d"] - best[0] / (len(a) * len(b))) < 1e-15
