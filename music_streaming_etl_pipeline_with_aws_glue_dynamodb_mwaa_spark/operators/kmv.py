"""Bottom-k (KMV) distinct-value sketches — set overlap the HLL columns
can't express.

The HLL family (E48) unions mergeably but cannot INTERSECT. The classic
answer (Beyer et al., SIGMOD'07; Cohen & Kaplan's bottom-k sketches) is to
keep the k smallest hash values of the distinct universe: one shared sample
S supports, for ANY family of sets, membership counts m_t = |S ∩ T| and
pairwise Jaccard/intersection estimates — without ever joining sketch
against sketch.

Everything here is oracle-exact by construction: the hash is the portable
md5 scheme (60-bit md5 prefix — exact BIGINT on both engines), "k smallest"
is a deterministic total order on distinct hashes, and the only float is
ONE IEEE division per estimate.

Scale shape (the reason this beats per-pair sketch joins):
- the sample is a global top-k over distinct hashes → Spark executes
  sort+limit as TakeOrderedAndProject (per-partition k, merged on the
  driver — k rows, never a global sort);
- memberships come from ONE broadcast semi-join of the k-row sample
  against the distinct (set, member) stream — the 100 TB side is touched
  once, streamed, never re-partitioned by pair;
- pair statistics reduce over ≤ k·|sets| membership rows — driver-scale
  arithmetic AFTER the data-scale work is done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize

_KMV_P60 = "990000000000000"  # 15 hex digits => 60-bit prefix (doc aid only)


def _hash60(col) -> F.Column:
    """Portable 60-bit hash: md5 prefix as exact BIGINT on both engines."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
            .cast("long"))


def bottomk_sample(df: DataFrame, value_col: str, *, k: int = 256) -> DataFrame:
    """The shared KMV sample: k smallest distinct member hashes, ranked.
    Output (r, hv, <value_col>); r is 1-based and cast to long (Spark
    row_number is int32, DuckDB's is int64)."""
    hashed = (df.select(F.col(value_col))
              .where(F.col(value_col).isNotNull()).distinct()
              .select(_hash60(F.col(value_col)).alias("hv"),
                      F.col(value_col)))
    # distinct VALUES can still collide in hash space; keep one row per hv
    # deterministically (min value) so ranks are a total order.
    hashed = hashed.groupBy("hv").agg(F.min(value_col).alias(value_col))
    topk = hashed.orderBy("hv").limit(k)
    w = Window.orderBy("hv")
    return topk.select(
        F.row_number().over(w).cast("long").alias("r"), "hv", value_col)


def sample_memberships(sets_df: DataFrame, set_col: str, member_col: str,
                       sample: DataFrame, *, k: int = 256) -> DataFrame:
    """(set, member) pairs restricted to the shared sample — the ≤ k·|sets|
    frame every overlap statistic reduces from. One broadcast hash join."""
    s = F.broadcast(sample.select(member_col))
    return (sets_df.select(set_col, member_col).distinct()
            .join(s, member_col))


def set_overlap_estimates(sets_df: DataFrame, set_col: str, member_col: str,
                          *, k: int = 256) -> DataFrame:
    """Pairwise overlap for every pair of sets sharing ≥1 sampled member:
    exact within-sample intersection / union counts + the Jaccard estimate
    (ONE IEEE division). Sets pair through the shared member equi-join —
    never a sketch×sketch or set×set product."""
    sample = bottomk_sample(sets_df.select(member_col), member_col, k=k)
    m = sample_memberships(sets_df, set_col, member_col, sample, k=k)
    m = materialize(m)  # tiny (≤ k·|sets|); joined twice
    sizes = m.groupBy(set_col).agg(F.count(F.lit(1)).alias("m"))
    a = m.select(F.col(set_col).alias("set_a"), member_col)
    b = m.select(F.col(set_col).alias("set_b"), member_col)
    inter = (a.join(b, member_col)
             .where(F.col("set_a") < F.col("set_b"))
             .groupBy("set_a", "set_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col(set_col).alias("set_a"), F.col("m").alias("m_a"))
    sb = sizes.select(F.col(set_col).alias("set_b"), F.col("m").alias("m_b"))
    return (inter.join(F.broadcast(sa), "set_a").join(F.broadcast(sb), "set_b")
            .select("set_a", "set_b", "m_a", "m_b", "n_inter",
                    (F.col("m_a") + F.col("m_b") - F.col("n_inter"))
                    .alias("n_union"),
                    (F.col("n_inter") /
                     (F.col("m_a") + F.col("m_b") - F.col("n_inter")))
                    .alias("est_jaccard")))
