"""Corpus curation: DSIR importance weights + deterministic epoch shuffle
(training-data extension; no counterpart in the reference surface).

Two published-recipe operators every pre-training data pipeline runs just
before the trainer reads the corpus:

- ``dsir_weights`` — Data Selection with Importance Resampling (Xie et
  al. 2023, arXiv:2302.03169): score every raw document by how much its
  hashed-n-gram profile looks like a TARGET corpus rather than the raw
  pool, via the log-likelihood ratio of two bucketed categorical
  distributions. High-weight docs get preferentially resampled into the
  training mix (pair with ``sampling.weighted_hash_sample``).

  Spark-first: the two bucket distributions are B-row aggregates (B =
  hash buckets, constant); the per-doc score is one gram explode → bucket
  → broadcast join of the B-row log-ratio table → per-doc sum. The corpus
  shuffles once, keyed by doc — no driver participation beyond the B-row
  plan. ``ln`` is not bit-portable across engines, so the registered
  query is rows-only; correctness is pinned in tests against a numpy
  recomputation.

- ``epoch_shuffle`` — the deterministic global shuffle trainers need for
  each epoch: order = md5(epoch || doc_id). Reproducible across runs,
  engines, partitionings, and resumable mid-epoch (a doc's position
  depends only on epoch + id). Output is (input row, epoch_pos) with
  dense 0..N-1 positions via the range-partitioned counting pattern
  (operators/ids.py::global_row_numbers — k partition counts to the
  driver, never data).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .ids import global_row_numbers
from .ranking import _ngrams
from .sampling import hash_bucket


def _gram_buckets(docs: DataFrame, id_col: str, text_col: str, *,
                  n: int, buckets: int) -> DataFrame:
    """(id, bucket) per n-gram occurrence — the hashed feature stream
    (same occurrence-preserving gram construction as the LM count tables,
    ranking._ngrams, so tokenization fixes can't diverge)."""
    return (docs.select(F.col(id_col).alias("_id"),
                        F.explode(_ngrams(text_col, n)).alias("_g"))
            .select("_id", hash_bucket(F.col("_g"),
                                       buckets=buckets).alias("_b")))


def dsir_weights(raw: DataFrame, target: DataFrame, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 n: int = 2, buckets: int = 10_000,
                 smoothing: float = 1.0) -> DataFrame:
    """Per-raw-doc importance weight: mean over the doc's hashed n-grams of
    ``ln p_target(bucket) − ln p_raw(bucket)`` (add-``smoothing``
    estimates). Positive ⇒ looks more like the target than the pool.

    Returns (id_col, n_grams, dsir_logratio). Resample with
    ``exp(dsir_logratio)``-proportional weights or keep a top quantile —
    both downstream one-liners on this frame.
    """
    # The raw gram stream has two consumers (its bucket distribution and
    # the per-doc scoring join) — checkpoint it eagerly so the fact-sized
    # explode runs ONCE, not per consumer (the lazy-reuse trap documented
    # in operators/graph.py). The target stream has one consumer; its
    # total comes from the B-row counts aggregate, not a second scan.
    rb = materialize(_gram_buckets(raw, id_col, text_col, n=n,
                                   buckets=buckets))
    tb = _gram_buckets(target, id_col, text_col, n=n, buckets=buckets)

    def dist(b: DataFrame) -> DataFrame:
        counts = materialize(   # B rows — tiny
            b.groupBy("_b").agg(F.count(F.lit(1)).alias("_c")))
        total = counts.agg(F.sum("_c")).first()[0] or 0
        # add-smoothing categorical over ALL buckets: missing buckets get
        # the smoothing mass via the full join below
        return counts.select(
            "_b", (F.log((F.col("_c") + F.lit(smoothing))
                         / F.lit(total + smoothing * buckets))).alias("_lp"),
        ), float(total)

    t_dist, t_total = dist(tb)
    r_dist, r_total = dist(rb)
    lp_missing_t = math.log(smoothing / (t_total + smoothing * buckets))
    lp_missing_r = math.log(smoothing / (r_total + smoothing * buckets))
    ratio = (t_dist.withColumnRenamed("_lp", "_lpt")
             .join(r_dist.withColumnRenamed("_lp", "_lpr"), "_b", "full")
             .select(
                 "_b",
                 (F.coalesce(F.col("_lpt"), F.lit(lp_missing_t))
                  - F.coalesce(F.col("_lpr"), F.lit(lp_missing_r)))
                 .alias("_llr")))
    scored = (rb.join(F.broadcast(ratio), "_b")
              .groupBy("_id")
              .agg(F.count(F.lit(1)).alias("n_grams"),
                   (F.sum("_llr") / F.count(F.lit(1)))
                   .alias("dsir_logratio")))
    return (raw.select(F.col(id_col))
            .join(scored.withColumnRenamed("_id", id_col), id_col, "left")
            .select(id_col,
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    "dsir_logratio"))


def epoch_shuffle(docs: DataFrame, *, epoch: int, id_col: str = "doc_id",
                  out_col: str = "epoch_pos") -> DataFrame:
    """Deterministic global training order for one epoch: every row gets a
    dense position 0..N-1 following md5(epoch || id). Different epochs ⇒
    statistically independent orders; same epoch ⇒ the same order on any
    engine, cluster size, or retry."""
    key = F.md5(F.concat(F.lit(f"e{epoch}:"),
                         F.col(id_col).cast("string")))
    with_key = docs.withColumn("_ekey", key)
    out = global_row_numbers(with_key, ["_ekey", id_col], out_col=out_col)
    return out.drop("_ekey")
