"""Connected-components clustering: correctness vs a reference union-find,
convergence on chains (pointer jumping), and representative-dedup semantics."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import cluster


def _both_paths(df):
    """Run the driver union-find path AND the distributed
    label-propagation path (routing threshold patched to 0); assert they
    agree; return the result."""
    a = {r["node"]: r["component"]
         for r in cluster.connected_components(df, "doc_a", "doc_b").collect()}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "DRIVER_EDGES_MAX", 0)
        b = {r["node"]: r["component"]
             for r in cluster.connected_components(
                 df, "doc_a", "doc_b").collect()}
    assert a == b
    return a


def _uf_components(edges, nodes):
    """Reference union-find: node -> min id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in nodes}


def test_components_basic(spark):
    # chain 1-2-3, pair 5-6, triangle 7-8-9 (8-9 redundant edge)
    edges = [(2, 1), (2, 3), (5, 6), (7, 8), (7, 9), (8, 9)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = _both_paths(df)
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 7, 9: 7}


def test_components_long_chain_converges(spark):
    # path graph 0-1-2-...-40: diameter 40 >> max_iter bound without
    # pointer jumping; with compression it must converge inside 25 rounds
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = _both_paths(df)
    assert got == {i: 0 for i in range(41)}


def test_components_match_union_find_random(spark):
    rng = random.Random(7)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = _both_paths(df)
    touched = {n for e in edges for n in e}
    assert got == {n: c for n, c in _uf_components(edges, nodes).items()
                   if n in touched}


def test_cluster_assignments_includes_singletons(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(3, 7), (7, 9)], "doc_a bigint, doc_b bigint")
    got = {r["doc_id"]: r["component"]
           for r in cluster.cluster_assignments(docs, pairs, "doc_id").collect()}
    expect = {i: i for i in range(10)}
    expect.update({3: 3, 7: 3, 9: 3})
    assert got == expect


def test_dedup_clusters_keeps_min_representative(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id bigint, text string")
    pairs = spark.createDataFrame([(0, 4), (1, 3)], "doc_a bigint, doc_b bigint")
    out = cluster.dedup_clusters(docs, pairs, "doc_id")
    assert out.columns == ["doc_id", "text"]
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2, 5]


def test_with_cluster_ids_equals_assignment_join(spark):
    # round-12 equivalence pin: with_cluster_ids (ONE left join of df
    # against the component table) must equal the pre-round two-join form
    # df ⋈ cluster_assignments — same rows, same column order
    pairs = spark.createDataFrame([(2, 1), (2, 3), (7, 8)],
                                  "doc_a bigint, doc_b bigint")
    df = spark.createDataFrame([(i, f"p{i}") for i in (1, 2, 3, 5, 7, 8)],
                               "doc_id bigint, payload string")
    got = cluster.with_cluster_ids(df, pairs, "doc_id")
    assert got.columns == ["doc_id", "payload", "component"]
    old = df.join(cluster.cluster_assignments(df, pairs, "doc_id"), "doc_id")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, old.collect()))
    # the representative filter rides the same labels
    reps = cluster.dedup_clusters(df, pairs, "doc_id")
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 5, 7]
