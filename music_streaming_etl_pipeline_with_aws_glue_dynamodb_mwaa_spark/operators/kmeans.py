"""Distributed spherical k-means over an embedding column — semantic
clustering for corpus curation (topic bucketing, diversity-aware sampling,
cluster-balanced mixes; the SemDeDup/DSIR-style substrate).

Division of labor, sized for 100 TB:

- **init**: the IVF codebook trainer (``similarity.train_ivf_centroids``)
  — numpy k-means on a BOUNDED sample, the only driver-side data
  materialization (KBs of centroids out).
- **refine** (``kmeans_fit``): distributed Lloyd iterations. Each round is
  ONE job: assign every row to its nearest centroid (Arrow-batched matmul
  against the broadcast codebook — k·d flops/row at BLAS speed), then
  per-cluster mean via a JVM groupBy over d per-dimension sums + a count.
  The shuffled aggregate is k rows × (d+1) columns — constant-size, and
  the driver only ever collects that.
- **assign** (``kmeans_assign``): final pass labeling every row.

Spherical (cosine) variant: rows and centroids are unit-normalized, the
objective is total cosine to the assigned centroid — the natural metric
for normalized text embeddings (same convention as the IVF index).

Engine-specific float sums → registered rows-only; invariants (assignment
optimality vs a numpy re-run, monotone objective, determinism) are
asserted in tests/test_kmeans.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, release, scope
from ..session import conf_override
from .similarity import _cell_udf, norm_expr, train_ivf_centroids


def kmeans_fit(emb: DataFrame, vec_col: str = "embedding", *,
               k: int = 8, max_iter: int = 5, sample_rows: int = 20_000,
               seed: int = 42, tol: float = 1e-6) -> np.ndarray:
    """Fit (k, dim) unit centroids: sample-trained init + distributed
    Lloyd refinement until centroid shift < ``tol`` (L∞ over all
    coordinates) or ``max_iter`` rounds."""
    # The fit makes max_iter+2 passes over the data (init count+sample,
    # then one assign+aggregate per Lloyd round) — cache the projected
    # input until the first Lloyd round has filled ubase, so only the
    # FIRST pass reads the source; at lake scale that's the difference
    # between 1 scan and ~7.
    spark = emb.sparkSession
    with scope():
        proj = materialize(emb.select(vec_col), eager=False, columnar=True)
        cents = train_ivf_centroids(proj, vec_col, n_centroids=k,
                                    sample_rows=sample_rows, iters=3,
                                    seed=seed)
        dim = cents.shape[1]
        nrm = norm_expr(vec_col)
        # Materialize the unit components ONCE for the whole refinement:
        # every Lloyd round consumes the same _u columns, so recomputing
        # the d divisions + the norm per row per round is pure waste, and
        # hoisting them keeps each round's plan to cached-scan → assign
        # UDF → one bounded aggregate. The per-round Column/aggregate
        # expressions are likewise built once — only the centroid closure
        # changes between rounds.
        ubase = materialize(
            proj.select(vec_col, *[(F.col(vec_col)[i] / nrm).alias(f"_u{i}")
                                   for i in range(dim)]),
            eager=False, columnar=True)
        aggs = [F.count(F.lit(1)).alias("_n")] + \
               [F.sum(f"_u{i}").alias(f"_s{i}") for i in range(dim)]
        ucols = [F.col(f"_u{i}") for i in range(dim)]
        # Each round's aggregate is bounded at k×(d+1) rows whatever the
        # input size; AQE's per-query-stage jobs only add scheduling
        # round-trips to this fixed-shape loop (measured 6 jobs → 3 for
        # identical results), so it is paused for the loop and restored.
        with conf_override(spark, {"spark.sql.adaptive.enabled": "false"}):
            for it in range(max_iter):
                assigned = ubase.select(
                    _cell_udf(cents, 1)(F.col(vec_col)).getItem(0)
                    .alias("_cid"),
                    *ucols)
                rows = assigned.groupBy("_cid").agg(*aggs).collect()
                if it == 0:     # that pass filled ubase; proj is unread now
                    release(proj)
                new = cents.copy()
                for r in rows:
                    m = np.array([r[f"_s{i}"] for i in range(dim)],
                                 dtype=np.float64)
                    n = np.linalg.norm(m)
                    if n > 0:
                        new[r["_cid"]] = m / n
                shift = float(np.abs(new - cents).max())
                cents = new
                if shift < tol:
                    break
        return cents


def kmeans_assign(emb: DataFrame, centroids: np.ndarray, *,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(id, cluster_id, cosine) for every row — nearest (unit) centroid by
    cosine; one Arrow-batched pass, no shuffle."""
    dim = centroids.shape[1]
    cid = _cell_udf(centroids, 1)(F.col(vec_col)).getItem(0)
    out = emb.select(F.col(id_col), F.col(vec_col).alias("_v"),
                     cid.alias("cluster_id"))
    # cosine to the assigned centroid, JVM-side: centroid components become
    # a literal array indexed by cluster_id (k·d literals — fine for sane k)
    cent_arr = F.array(*[
        F.array(*[F.lit(float(c)) for c in centroids[j]])
        for j in range(centroids.shape[0])])
    chosen = cent_arr[F.col("cluster_id")]
    dot = F.aggregate(
        F.zip_with(F.col("_v").cast("array<double>"),
                   chosen, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    return out.select(
        id_col, "cluster_id",
        (dot / norm_expr("_v")).alias("cosine"))


def kmeans_cluster_sizes(assign: DataFrame) -> DataFrame:
    """Cluster histogram + mean cohesion — the curation dashboard view."""
    return (assign.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg("cosine").alias("mean_cosine"))
            .orderBy("cluster_id"))
