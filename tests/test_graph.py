"""PageRank: convergence vs dense NumPy power iteration, mass
conservation, dangling handling."""

from __future__ import annotations

import numpy as np
import pytest

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import graph


def _numpy_pagerank(edges, n, damping=0.85, iterations=50):
    """Dense reference: column-stochastic matrix + uniform dangling fix."""
    M = np.zeros((n, n))
    out = np.zeros(n)
    for s, d in set(edges):
        M[d, s] += 1.0
        out[s] += 1.0
    for s in range(n):
        if out[s]:
            M[:, s] /= out[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = sum(r[s] for s in range(n) if out[s] == 0)
        r = (1 - damping) / n + damping * (M @ r + dangling / n)
    return r


def test_pagerank_matches_numpy(spark):
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]  # node 4: isolated via 3
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(df, iterations=40).collect()}
    want = _numpy_pagerank(edges, 4, iterations=40)
    assert set(got) == {0, 1, 2, 3}
    for node, rank in got.items():
        assert rank == pytest.approx(want[node], rel=1e-6)


def test_pagerank_mass_conserved_with_dangling(spark):
    # node 2 is dangling (no out-edges)
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    ranks = graph.pagerank(df, iterations=15).collect()
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, abs=1e-9)
    assert len(ranks) == 3


def test_pagerank_symmetric_graph_uniform(spark):
    # undirected triangle -> uniform stationary distribution
    fwd = [(0, 1), (1, 2), (2, 0)]
    edges = fwd + [(d, s) for s, d in fwd]
    df = spark.createDataFrame(edges, "src long, dst long")
    for r in graph.pagerank(df, iterations=10).collect():
        assert r["rank"] == pytest.approx(1.0 / 3, rel=1e-9)


def test_pagerank_symmetric_fast_path_matches_general(spark):
    # irregular undirected graph (star + path): symmetric=True must agree
    # with the general path exactly — it only skips provably-idle setup
    fwd = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5)]
    edges = fwd + [(d, s) for s, d in fwd]
    df = spark.createDataFrame(edges, "src long, dst long")
    general = {r["node"]: r["rank"]
               for r in graph.pagerank(df, iterations=12).collect()}
    fast = {r["node"]: r["rank"]
            for r in graph.pagerank(df, iterations=12,
                                    symmetric=True).collect()}
    assert set(fast) == set(general)
    for node in general:
        assert fast[node] == pytest.approx(general[node], rel=1e-12)


# --------------------------------------------------------------------------
# triangle_count
# --------------------------------------------------------------------------

def _brute_triangles(edges):
    """All-pairs reference: per-node triangle membership counts."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    from itertools import combinations
    counts = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for x in (a, b, c):
                counts[x] = counts.get(x, 0) + 1
    return counts


def test_triangle_count_matches_bruteforce(spark):
    # K4 on 0-3 (each node in C(3,2)=3 triangles) + a pendant + an isolated
    # edge + a parallel/reversed/self-loop noise set that must collapse.
    edges = ([(a, b) for a in range(4) for b in range(4) if a != b]
             + [(3, 4), (7, 8), (8, 7), (5, 5)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in graph.triangle_count(df).collect()}
    assert got == _brute_triangles(edges)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_no_triangles(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert graph.triangle_count(df).count() == 0


def test_triangle_count_random_graph_vs_bruteforce(spark):
    import random
    rng = random.Random(7)
    edges = [(rng.randrange(12), rng.randrange(12)) for _ in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"]
           for r in graph.triangle_count(df).collect()}
    assert got == _brute_triangles(edges)
