"""SemDeDup: soundness (every dropped row has a kept witness), determinism,
and full recall on well-separated clusters."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import dedup, semdedup


@pytest.fixture(scope="module")
def emb(spark):
    """4 well-separated direction clusters in R^8; ids 100j..100j+24 in
    cluster j; even ids have a +1-id near-duplicate (tiny perturbation),
    odd-id non-dups get distinct large perturbations."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for j in range(4):
        for i in range(0, 24, 2):
            v = base[j] + rng.normal(scale=0.15, size=8)   # anchor
            d = v + rng.normal(scale=0.005, size=8)        # its near-dup
            rows.append((100 * j + i, [float(x) for x in v]))
            rows.append((100 * j + i + 1, [float(x) for x in d]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _cos(a, b):
    a, b = np.asarray(a), np.asarray(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_semdedup_sound_and_deterministic(spark, emb):
    surv1 = sorted(r["vec_id"] for r in
                   semdedup.semantic_dedup(emb, k=4, threshold=0.95)
                   .select("vec_id").collect())
    surv2 = sorted(r["vec_id"] for r in
                   semdedup.semantic_dedup(emb, k=4, threshold=0.95)
                   .select("vec_id").collect())
    assert surv1 == surv2
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    dropped = set(vecs) - set(surv1)
    assert dropped                      # the planted dups are found
    # contract: dropped == exactly the higher ids of within-cell pairs
    # (greedy rule — a dropped doc's witness may itself be dropped on a
    # chain, same documented trade as corpus.build_corpus)
    pairs = semdedup.semantic_dup_pairs(emb, k=4, threshold=0.95).collect()
    assert dropped == {r["doc_b"] for r in pairs}
    for r in pairs:                     # every pair is a true near-dup
        assert _cos(vecs[r["doc_a"]], vecs[r["doc_b"]]) >= 0.95


def test_semdedup_recall_vs_exact(spark, emb):
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in
                   dedup.embedding_near_dup_pairs(
                       emb, "vec_id", "embedding", threshold=0.95,
                       prefilter_blocks=None).collect()}
    sem_pairs = {(r["doc_a"], r["doc_b"]) for r in
                 semdedup.semantic_dup_pairs(emb, k=4, threshold=0.95)
                 .select("doc_a", "doc_b").collect()}
    assert sem_pairs <= exact_pairs     # never a false pair
    # well-separated clusters: the planted (even, even+1) dup pairs all
    # live inside one cell, so recall on them is full
    planted = {p for p in exact_pairs if p[1] == p[0] + 1}
    assert planted <= sem_pairs
    assert len(sem_pairs) >= 0.9 * len(exact_pairs)


def test_semdedup_giant_cell_blocked(spark):
    """A deliberately skewed codebook (k=1 → the whole corpus is ONE cell)
    under a small max_cell_rows: the cell sub-blocks instead of landing in a
    single task, and pairs/survivors are IDENTICAL to the one-block path."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(0, 120, 2):          # 60 anchors, each with a near-dup
        v = rng.normal(size=6)
        d = v + rng.normal(scale=0.004, size=6)
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1, [float(x) for x in d]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = np.ones((1, 6)) / np.sqrt(6.0)   # k=1: everything in cell 0

    def pairs(max_cell_rows):
        return {(r["doc_a"], r["doc_b"]) for r in
                semdedup.semantic_dup_pairs(
                    emb, k=1, threshold=0.95, centroids=cents,
                    max_cell_rows=max_cell_rows)
                .select("doc_a", "doc_b").collect()}

    one_block = pairs(10_000)           # 120 rows ≤ max → single diag task
    blocked = pairs(16)                 # forces ⌈120/16⌉ = 8 blocks, 36 tasks
    assert blocked == one_block and one_block   # identical, non-empty
    surv_a = sorted(r["vec_id"] for r in semdedup.semantic_dedup(
        emb, k=1, threshold=0.95, max_cell_rows=16).select("vec_id").collect())
    surv_b = sorted(r["vec_id"] for r in semdedup.semantic_dedup(
        emb, k=1, threshold=0.95, max_cell_rows=10_000)
        .select("vec_id").collect())
    assert surv_a == surv_b



def test_block_count_is_exact_integer_ceil(spark):
    """The per-cell sub-block count is ceil(n / m) in integers: it agrees
    with math.ceil on small counts and stays exact past 2^53, where the
    double quotient rounds down."""
    import math

    big = 2 ** 53 + 1
    ms = (1, 2, 3, 7, 25)
    rows = (spark.createDataFrame([(n,) for n in [*range(1, 60), big]], "n bigint")
            .select("n", *[semdedup._ceil_div("n", m).alias(f"m{m}") for m in ms])
            .collect())
    for r in rows:
        for m in ms:
            assert r[f"m{m}"] == -(-r["n"] // m)
            if r["n"] < 2 ** 53:
                assert r[f"m{m}"] == math.ceil(r["n"] / m)
    assert math.ceil(big / 1) != big   # the double form is off here
