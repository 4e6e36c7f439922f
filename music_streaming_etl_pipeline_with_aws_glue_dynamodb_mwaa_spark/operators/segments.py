"""RFM (recency / frequency / monetary) customer segmentation — the
classic quintile-scored value segmentation every engagement or
marketing pipeline derives from an order fact table.

Extension surface (the reference's per-genre KPI table has no customer
axis at all, `REF/glue_jobs/transform.py:26-36`).

Exactness contract: all three metrics are integers (day diffs from the
corpus max date, order counts, money summed as cents), and the 1–5
scores are ANSI ``ntile(5)`` semantics over a TOTAL order — the metric
plus the unique customer key as tie-break — so bucket assignment is
deterministic and identical in any ANSI engine (ntile's "first buckets
take the extra rows" split is pinned by the standard).

Scale posture: each score rides ``ids.global_ntile`` — the two-phase
range-partition bucket assignment (parallel range sort + k partition
counts to the driver + broadcast offsets), NOT a single-task
``ntile() OVER (ORDER BY)`` window. Descending orders negate the
integer metric (exact for BIGINT), so all three scores reuse the same
ascending helper. The window form's oracle certifies the rewrite
bit-for-bit (the E155 same-oracle pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ids import global_ntile


def rfm_scores(orders: DataFrame, key_col: str, date_col: str,
               amount_cents: "F.Column", *, n_bins: int = 5) -> DataFrame:
    """Per-key RFM metrics and 1..n_bins scores from an order fact.

    Returns (key, recency_days, frequency, monetary_cents, r_score,
    f_score, m_score, segment): recency_days = corpus max date − the
    key's last date (smaller = better, so r_score orders recency
    DESCENDING — score ``n_bins`` is the most recent quintile);
    f/m score ascending (higher count / spend ⇒ higher score).
    ``segment`` is the concatenated "rfm" digit string.
    """
    per_key = (orders.groupBy(key_col)
               .agg(F.max(date_col).alias("_last"),
                    F.count(F.lit(1)).alias("frequency"),
                    F.sum(amount_cents).alias("monetary_cents")))
    corpus_max = per_key.select(F.max("_last").alias("_cmax"))
    m = (per_key.crossJoin(F.broadcast(corpus_max))
         .select(key_col,
                 F.datediff("_cmax", "_last").cast("bigint")
                 .alias("recency_days"),
                 "frequency", "monetary_cents"))
    scored = m.withColumn("_nr", -F.col("recency_days"))
    scored = global_ntile(scored, ["_nr", key_col], n_bins,
                          out_col="r_score")
    scored = global_ntile(scored, ["frequency", key_col], n_bins,
                          out_col="f_score")
    scored = global_ntile(scored, ["monetary_cents", key_col], n_bins,
                          out_col="m_score")
    return scored.select(
        key_col, "recency_days", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score",
        F.concat_ws("", "r_score", "f_score", "m_score").alias("segment"))
