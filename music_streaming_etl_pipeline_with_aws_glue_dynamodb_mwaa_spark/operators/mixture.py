"""Data-mixture construction for LLM pre-training corpora
(training-data extension; no counterpart in the reference surface —
the closest shape is its per-genre aggregation, ``REF/glue_jobs/
transform.py:26-30``, generalized here to token accounting per source).

Two operators every large-scale mixing pipeline needs:

- ``cap_tokens_per_group`` — the C4/RefinedWeb-style "domain cap": within
  each group (source/domain), keep documents in a deterministic order only
  until a token budget is exhausted, so no single domain dominates the
  mixture. One window cumsum per group = ONE hash exchange; the filter is
  a pure expression on the running total. A doc that straddles the cap is
  kept iff ``include_straddler`` (its head fits; standard accounting).

- ``mixture_schedule`` — given per-source mixing WEIGHTS and a global
  token budget, compute each source's token allocation and the exact
  integer keep-threshold a deterministic md5-sampler needs to hit it,
  then apply that sampler. The per-source totals are a k-row aggregate
  (k = #sources, metadata-sized); the sampler itself is the map-side
  ``hash_bucket(key) < threshold`` filter from operators/sampling.py —
  no shuffle of the corpus, reproducible across runs/engines/cluster
  sizes, oracle-checkable because the threshold is exact integer
  arithmetic: ``min(2^32, (budget · weight · 2^32) / (weight_sum ·
  total_tokens))`` in BIGINT floor division.

Scale: both operators touch the corpus once; all per-source state is
k-row. At 100 TB the domain cap is the only shuffle (by source — salt it
via operators/skew.py if one domain holds >1 executor's share), and the
mixture sampler is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from .sampling import hash_bucket

_B32 = 1 << 32


def token_count(text_col: str = "text") -> "F.Column":
    """Whitespace token count as pure string arithmetic (spaces + 1) —
    identical to ``size(split(text, ' '))`` for single-space corpora and
    portable to any SQL oracle without string_split semantics drift."""
    c = F.col(text_col)
    return (F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit("")))
            + F.lit(1)).cast("long")


def cap_tokens_per_group(docs: DataFrame, *, cap_tokens: int,
                         group_col: str = "source",
                         order_col: str = "doc_id",
                         text_col: str = "text",
                         include_straddler: bool = True) -> DataFrame:
    """Keep each group's documents (in ``order_col`` order) until the
    group's running token total exceeds ``cap_tokens``.

    Output = input columns + ``n_tokens`` + ``tokens_before`` (the running
    total excluding the current doc). ``include_straddler=True`` keeps the
    first document that crosses the cap (its prefix fits), matching
    concat-and-chunk accounting in operators/packing.py.
    """
    if cap_tokens <= 0:
        raise ValueError("cap_tokens must be positive")
    n_tok = token_count(text_col)
    w = (Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    before = F.sum(n_tok).over(w) - n_tok
    out = (docs.withColumn("n_tokens", n_tok)
               .withColumn("tokens_before", before))
    if include_straddler:
        return out.filter(F.col("tokens_before") < cap_tokens)
    return out.filter(F.col("tokens_before") + F.col("n_tokens")
                      <= cap_tokens)


def mixture_allocations(docs: DataFrame,
                        weights: "dict[str, int] | F.Column", *,
                        budget_tokens: int, group_col: str = "source",
                        text_col: str = "text") -> DataFrame:
    """Per-source mixture plan: token totals, the source's integer token
    allocation ``floor(budget · weight / weight_sum)``, and the exact
    32-bit sampler threshold that keeps ~allocation/total of its tokens.

    ``weights`` is either an explicit dict (source → integer weight;
    unlisted sources get 0 and drop out, and the weight sum covers ALL
    dict entries even if a source has no docs) or a Column expression
    evaluated per source (the practical form when the mixture has
    thousands of domains — no driver-side dict; the weight sum is then a
    window total over the k-row plan, k = #observed sources).

    All integer arithmetic — the threshold numerator (weight · budget ·
    2^32) exceeds 2^53, where double division stops being exact and
    floor() can disagree across engines, so everything is BIGINT ``div``.
    The numerator is int64-safe only while weight · budget < 2^31; dict
    weights outside that envelope raise with a rescale hint (exact, caller
    controls the quantization), while Column weights — which can be
    token-scale, e.g. temperature weights on a 1e10-token source —
    self-rescale IN-PLAN: every weight integer-divides by the same
    ``d = floor(max(weight)·budget / (2^31−1)) + 1`` (computed
    overflow-free in two div/mod stages), which is 1 (a no-op, bit-exact
    with the unscaled form) inside the envelope and otherwise the smallest
    uniform shrink that restores it. Thresholds are scale-invariant in the
    weight vector up to integer quantization (≤1/max_scaled_weight ≈
    budget/2^31 relative).
    """
    if budget_tokens <= 0:
        raise ValueError("need a positive budget")
    if budget_tokens >= 2 ** 31:
        raise ValueError("budget_tokens must be < 2^31 (threshold "
                         "arithmetic is 32.32 fixed-point)")
    lim = 2 ** 31 - 1
    if isinstance(weights, dict):
        if not weights:
            raise ValueError("need at least one weight")
        if any(wt < 0 for wt in weights.values()):
            raise ValueError("negative weight")
        if sum(weights.values()) == 0:
            raise ValueError("all weights are zero — the mixture would be "
                             "empty (weight sum divides the allocations)")
        if max(weights.values()) * budget_tokens > lim:
            raise ValueError(
                "weight*budget exceeds 2^31 — the 32.32 fixed-point "
                "threshold numerator would overflow int64. Divide all "
                "weights by a common factor (thresholds are scale-"
                "invariant in the weight vector).")
        wexpr = F.lit(0)
        for src, wt in sorted(weights.items()):
            wexpr = F.when(F.col(group_col) == src,
                           F.lit(wt)).otherwise(wexpr)
        w_used, wsum_expr = "weight", str(sum(weights.values()))
    else:
        wexpr = weights
        # overflow-free d = floor(max_w*budget/lim) + 1 via div/mod split:
        # q*B + (r*B) div lim with r < lim keeps every product under 2^62.
        B = f"CAST({budget_tokens} AS BIGINT)"
        d = (f"((MAX(weight) OVER ()) div {lim}) * {B} "
             f"+ (((MAX(weight) OVER ()) % {lim}) * {B}) div {lim} + 1")
        w_used = f"(weight div ({d}))"
        wsum_expr = f"SUM({w_used}) OVER ()"
    totals = (docs.groupBy(group_col)
              .agg(F.sum(token_count(text_col)).alias("total_tokens"),
                   F.count(F.lit(1)).alias("n_docs"))
              .withColumn("weight", wexpr.cast("long")))
    # nullif keeps a zero weight sum from raising ANSI DIVIDE_BY_ZERO at
    # materialization — the degenerate plan surfaces as NULL thresholds,
    # which mixture_schedule converts into a clear ValueError.
    return totals.selectExpr(
        group_col, "total_tokens", "n_docs", "weight",
        f"({w_used} * CAST({budget_tokens} AS BIGINT)) "
        f"div nullif(({wsum_expr}), 0) AS alloc_tokens",
        f"least(CAST({_B32} AS BIGINT), "
        f"({w_used} * CAST({budget_tokens} AS BIGINT) * {_B32}) div "
        f"nullif((({wsum_expr}) * total_tokens), 0)) AS keep_threshold_32")


def mixture_schedule(docs: DataFrame,
                     weights: "dict[str, int] | F.Column", *,
                     budget_tokens: int, group_col: str = "source",
                     key_col: str = "doc_id", text_col: str = "text",
                     salt: str = "") -> DataFrame:
    """Apply the mixture plan: deterministic md5 keep-filter per source at
    the plan's threshold. The plan is a k-row broadcast join (k = number
    of sources); the filter is map-side — the corpus shuffles zero times.
    """
    # Materialize the k-row plan once: the broadcast reuses it, and the
    # zero-weight-sum check below costs a k-row scan instead of a second
    # corpus aggregation.
    plan = materialize(mixture_allocations(
        docs, weights, budget_tokens=budget_tokens, group_col=group_col,
        text_col=text_col))
    # Guard the Column-weights path too (the dict path raises statically):
    # a weight expression that is 0 for every observed source makes the
    # divisor 0 → NULL thresholds → `bucket < NULL` silently drops
    # everything. Fail loudly instead.
    max_w = plan.agg(F.max("weight")).first()[0]
    if max_w is None or max_w <= 0:
        raise ValueError("weight expression is zero/null for every observed "
                         "source — the mixture would be empty")
    bucket = hash_bucket(key_col, buckets=_B32, salt=salt)
    return (docs.join(F.broadcast(
                plan.select(group_col, "keep_threshold_32")), group_col)
            .filter(bucket < F.col("keep_threshold_32"))
            .drop("keep_threshold_32"))


def temperature_weights(alpha_halves: int = 1) -> F.Column:
    """Temperature-sampling weight column for ``mixture_allocations``:
    weight ∝ total_tokens^α with α = (1/2)^alpha_halves — the standard
    multilingual rebalancing (mT5/XLM-R style: α < 1 upsamples small
    sources relative to their share).

    α is restricted to 1/2, 1/4, … because those compose from ``sqrt``,
    which IEEE-754 requires to be correctly rounded — so the weights are
    bit-identical on any engine, unlike ``pow(x, 0.3)`` (libm-dependent).
    ``floor`` lands them on exact integers for the BIGINT allocation
    arithmetic; totals ≥ ~10⁴ tokens keep the quantization under 1%.
    """
    if alpha_halves < 1:
        raise ValueError("alpha_halves >= 1 (use weight=total_tokens for α=1)")
    c = F.col("total_tokens").cast("double")
    for _ in range(alpha_halves):
        c = F.sqrt(c)
    return F.floor(c).cast("long")


def temperature_mixture_plan(docs: DataFrame, *, budget_tokens: int,
                             alpha_halves: int = 1,
                             group_col: str = "source",
                             text_col: str = "text") -> DataFrame:
    """k-row temperature mixture plan: allocations and sampler thresholds
    with weight = floor(total_tokens^(1/2^alpha_halves)). Flattening the
    distribution (α<1) is what keeps low-resource sources represented
    when the budget is far below the corpus size. Compose with
    ``mixture_schedule``'s sampler to apply."""
    return mixture_allocations(docs, temperature_weights(alpha_halves),
                               budget_tokens=budget_tokens,
                               group_col=group_col, text_col=text_col)
