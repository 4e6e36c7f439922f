"""SemDeDup — semantic deduplication (Abbas et al. 2023, arXiv:2303.09540):
cluster the embedding space, then deduplicate only WITHIN clusters, where
near-identical pairs overwhelmingly live.

Exact cosine near-dup over a corpus is O(n²) flops
(``dedup.embedding_near_dup_pairs_blocked`` — fine when you truly need every
pair). SemDeDup's observation: semantic duplicates are near their shared
cluster centroid, so restricting the pair search to k-means cells turns the
cost into Σ|cell|² ≈ n²/k flops — a k-fold flop cut. The trade (documented,
inherent): a pair straddling a cell boundary is missed; recall vs the exact
operator is measured in tests/test_semdedup.py.

Spark-first shape:

1. codebook: ``kmeans.kmeans_fit`` — bounded-sample init + distributed
   Lloyd, only k·d floats ever reach the driver;
2. assign: one Arrow-batched matmul pass, NO shuffle;
3. within-cell pairs: cells are SUB-BLOCKED to ``max_cell_rows`` — a cell
   of c rows becomes ⌈c/max⌉ blocks and every block PAIR is one task
   (the replicated block-pair pattern of
   ``dedup.embedding_near_dup_pairs_blocked``, keyed by (cluster, bi, bj)),
   so per-task memory is ≤ 2·max_cell_rows vectors NO MATTER how skewed
   the cells are. Flops stay Σ|cell|²; only the task granularity changes.
   Cells at or under ``max_cell_rows`` (the common case with a well-fit
   codebook) stay exactly one diagonal task — same plan as before.
4. prune: keep the LOWEST doc id of each pair's cluster-local dup graph
   (greedy drop-higher-id — same deterministic rule as corpus.build_corpus).

The per-cluster block counts and the block-pair task table derive from one
k-row ``groupBy(cluster)`` aggregate IN-PLAN (bounded by the codebook size,
never the corpus) — nothing cluster-shaped ever reaches the driver.

Float matmul scores → rows-only registration; determinism, soundness
(every dropped row has a kept near-dup witness) and recall vs the exact
pair set are pytest-pinned.

At 100 TB: a mega-cell no longer OOMs a task (it sub-blocks); it still
costs |cell|² flops, so a persistently giant cell means the codebook
under-fits — raise k. ``max_cell_rows`` defaults to 100k rows ≈ 2·100k·d
float64 per task (d=768 → ~1.2 GB for the pair) — size it to executor
memory like any block knob.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from . import kmeans as _kmeans


def _ceil_div(n: str, m: int):
    """Exact integer ceil(n / m) of a BIGINT SQL expression ``n`` — a
    double ``F.ceil(n / m)`` rounds once n passes 2^53."""
    return F.expr(f"({n} + {m - 1}) div {m}")


def semantic_dup_pairs(emb: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", k: int = 8,
                       threshold: float = 0.95,
                       centroids: np.ndarray | None = None,
                       max_cell_rows: int = 100_000) -> DataFrame:
    """Within-cluster cosine pairs ≥ threshold: (doc_a, doc_b, cosine,
    cluster_id), doc_a < doc_b. Cost: one assign pass + one
    (cluster, block-pair)-keyed shuffle + per-task BLAS matmuls, each task
    holding at most 2·``max_cell_rows`` vectors."""
    if max_cell_rows < 2:
        raise ValueError("max_cell_rows must be ≥ 2")
    if centroids is None:
        centroids = _kmeans.kmeans_fit(emb, vec_col, k=k)
    # materialize the (id, cluster) map ONCE — it is read twice (the k-row
    # count below and the replication join), and recomputing it would run
    # the assign matmul pass twice; the frame is 2 scalar columns, never
    # vectors
    assign_map = materialize(
        _kmeans.kmeans_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
        .select(id_col, "cluster_id"))
    assigned = assign_map.join(emb.select(id_col, vec_col), id_col)

    # Per-cell sub-block counts and the (cell, block-pair) task table,
    # derived DISTRIBUTEDLY from the checkpointed assignment (round 13):
    # the k-row counts collect plus two driver ``createDataFrame`` calls
    # were three sequential driver round-trips for codebook-sized
    # metadata — the same tables fall out of one groupBy + two bounded
    # explodes, and the broadcast hints below keep the join strategy
    # identical. Row set is the exact task enumeration the driver loop
    # produced (diagonal task per (cid, bi), two sides per off-diagonal).
    nb_df = (assign_map.groupBy("cluster_id")
             .agg(_ceil_div("count(1)", max_cell_rows).cast("int").alias("_nb")))
    task_df = (nb_df
               .select("cluster_id",
                       F.explode(F.sequence(F.lit(0), F.col("_nb") - 1))
                       .alias("bi"), "_nb")
               .select("cluster_id", "bi",
                       F.explode(F.sequence(F.col("bi"), F.col("_nb") - 1))
                       .alias("bj"))
               .select("cluster_id", "bi", "bj",
                       F.explode(F.when(
                           F.col("bi") == F.col("bj"),
                           F.array(F.struct(
                               F.col("bi").alias("block"),
                               F.lit(True).alias("_is_a"))))
                           .otherwise(F.array(
                               F.struct(F.col("bi").alias("block"),
                                        F.lit(True).alias("_is_a")),
                               F.struct(F.col("bj").alias("block"),
                                        F.lit(False).alias("_is_a")))))
                       .alias("_t"))
               .select("cluster_id", F.col("_t.block").alias("block"),
                       "bi", "bj", F.col("_t._is_a").alias("_is_a")))

    # row → its cell's block by id hash; replicate to every task that
    # references (cluster, block) via a broadcast EQUI-join (the OR-form
    # would plan as BroadcastNestedLoopJoin — see
    # dedup.embedding_near_dup_pairs_blocked).
    tasks = task_df.withColumnRenamed("cluster_id", "_tcid")
    blocked = (assigned
               .join(F.broadcast(nb_df), "cluster_id")
               .withColumn("_blk", F.pmod(F.xxhash64(F.col(id_col)),
                                          F.col("_nb")).cast("int"))
               .join(F.broadcast(tasks),
                     (F.col("cluster_id") == F.col("_tcid"))
                     & (F.col("_blk") == F.col("block")))
               .select("cluster_id", "bi", "bj", "_is_a",
                       F.col(id_col).alias("_id"),
                       F.col(vec_col).alias("_v")))

    def cell_block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_a": [], "doc_b": [],
                              "cosine": [], "cluster_id": []})
        diag = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        a = pdf[pdf["_is_a"]]
        b = a if diag else pdf[~pdf["_is_a"]]
        if not len(a) or not len(b):
            return empty
        ma = np.stack(a["_v"].to_numpy()).astype(np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        if diag:
            mb = ma
        else:
            mb = np.stack(b["_v"].to_numpy()).astype(np.float64)
            mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia, ib = np.nonzero(sims >= threshold)
        ids_a, ids_b = a["_id"].to_numpy()[ia], b["_id"].to_numpy()[ib]
        lo, hi = np.minimum(ids_a, ids_b), np.maximum(ids_a, ids_b)
        keep = lo < hi                  # drop self-pairs + diagonal dupes
        out = pd.DataFrame({
            "doc_a": lo[keep], "doc_b": hi[keep],
            "cosine": sims[ia, ib][keep],
            "cluster_id": np.full(int(keep.sum()), pdf["cluster_id"].iat[0],
                                  dtype=np.int64)})
        return out.drop_duplicates(["doc_a", "doc_b"])

    id_type = dict(emb.dtypes)[id_col]
    return (blocked.groupBy("cluster_id", "bi", "bj")
            .applyInPandas(cell_block_pairs,
                           f"doc_a {id_type}, doc_b {id_type}, "
                           f"cosine double, cluster_id int"))


def semantic_dedup(emb: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8,
                   threshold: float = 0.95,
                   max_cell_rows: int = 100_000) -> DataFrame:
    """Surviving rows after SemDeDup pruning: for every within-cluster pair
    ≥ threshold, the higher id drops (greedy, deterministic, one anti-join).
    Returns the input columns of the survivors."""
    losers = (semantic_dup_pairs(emb, id_col=id_col, vec_col=vec_col, k=k,
                                 threshold=threshold,
                                 max_cell_rows=max_cell_rows)
              .select(F.col("doc_b").alias(id_col)).distinct())
    return emb.join(losers, id_col, "left_anti")
