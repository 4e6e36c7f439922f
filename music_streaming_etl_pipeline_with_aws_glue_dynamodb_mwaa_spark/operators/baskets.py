"""Market-basket co-occurrence mining — frequent item pairs with
support / confidence / lift over (basket, item) facts.

Extension surface (the reference's analytics stop at per-genre counts,
`REF/glue_jobs/transform.py:40-50`); this is the "customers who bought X
also bought Y" / token-co-occurrence primitive, and the 2-itemset core
of Apriori re-expressed as DataFrame ops.

Spark-first shape, in pruning order (each step cuts the next's input —
the Apriori monotonicity argument made physical):

1. distinct (basket, item) — multiplicity inside a basket is not
   co-occurrence;
2. item supports via one groupBy; items below ``min_support`` are
   REMOVED BEFORE pair enumeration (a pair of infrequent items cannot be
   frequent — this is what keeps the within-basket self-join from
   exploding on the long tail, which is most of the catalog);
3. within-basket self-join on basket id with ``item_a < item_b`` —
   cost Σ|basket ∩ frequent|², bounded by the basket-size cap below,
   never catalog²;
4. pair counts, ``min_support`` filter, then support/confidence/lift as
   single IEEE divisions of exact longs (oracle-comparable bit for bit).

``max_basket_size`` guards the quadratic step at lake scale: a
pathological mega-basket (a crawler session with 10⁶ items) contributes
|basket|² pairs; baskets larger than the cap are dropped and counted
out loud rather than silently stalling a reducer. The cap applies
AFTER frequent-item pruning, so it bounds actual join fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize


def pair_support(df: DataFrame, basket_col: str, item_col: str, *,
                 min_support: int = 2,
                 max_basket_size: int | None = 10_000) -> DataFrame:
    """Frequent item pairs: (item_a, item_b, n_pair, n_a, n_b,
    n_baskets, support, lift), item_a < item_b, n_pair ≥ min_support.

    support = n_pair / n_baskets; lift = n_pair·n_baskets / (n_a·n_b) —
    each ONE division (or division of exact products) of exact longs.
    ``n_baskets`` counts ALL input baskets (the probability space), not
    just those surviving pruning.
    """
    b = df.select(F.col(basket_col).alias("_b"),
                  F.col(item_col).alias("_i")).distinct()
    # total baskets over the raw input — a 1-row broadcast scalar
    totals = b.select(F.countDistinct("_b").alias("n_baskets"))

    item_cnt = b.groupBy("_i").agg(F.count(F.lit(1)).alias("_n_item"))
    frequent = b.join(
        item_cnt.filter(F.col("_n_item") >= min_support), "_i")

    if max_basket_size is not None:
        sizes = frequent.groupBy("_b").agg(F.count(F.lit(1)).alias("_sz"))
        frequent = frequent.join(
            sizes.filter(F.col("_sz") <= max_basket_size).select("_b"), "_b")

    lhs = frequent.select("_b", F.col("_i").alias("item_a"),
                          F.col("_n_item").alias("n_a"))
    rhs = frequent.select("_b", F.col("_i").alias("item_b"),
                          F.col("_n_item").alias("n_b"))
    pairs = (lhs.join(rhs, "_b")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).alias("n_pair"),
                  F.first("n_a").alias("n_a"),
                  F.first("n_b").alias("n_b"))
             .filter(F.col("n_pair") >= min_support))
    return (pairs.crossJoin(F.broadcast(totals))
            .select("item_a", "item_b", "n_pair", "n_a", "n_b", "n_baskets",
                    (F.col("n_pair").cast("double")
                     / F.col("n_baskets").cast("double")).alias("support"),
                    ((F.col("n_pair") * F.col("n_baskets")).cast("double")
                     / (F.col("n_a") * F.col("n_b")).cast("double"))
                    .alias("lift")))


def topk_neighbors(pairs: DataFrame, *, k: int = 3) -> DataFrame:
    """Item-item collaborative-filtering serving table from a
    ``pair_support`` frame: per item, its top-``k`` co-occurrence
    neighbors by cosine affinity.

    cosine = n_pair / sqrt(n_a · n_b) — sqrt of an exact long product
    then ONE division, so the score itself oracle-hashes bit for bit.
    The canonical ``item_a < item_b`` pairs are symmetrized (each edge
    serves both endpoints), ranked per item with a deterministic total
    order (cosine desc, n_pair desc, neighbor asc — float ties broken
    on exact longs), and cut at rank ``k``.

    At 100 TB: the rank window partitions by item — the same key the
    pair aggregation already shuffled on — and Catalyst rewrites the
    rank-≤-k filter to WindowGroupLimit, so per-item heaps never
    materialize full neighbor lists. Output is the k·|catalog| serving
    table a recommender ships to the KV store.
    """
    # Materialize the pair table once — the fwd and rev branches of the
    # symmetrizing union would otherwise each re-execute the entire
    # pair-mining subtree (distinct + support join + within-basket
    # self-join) feeding this operator.
    pairs = materialize(pairs)
    fwd = pairs.select(F.col("item_a").alias("item"),
                       F.col("item_b").alias("neighbor"),
                       "n_pair", "n_a", "n_b")
    rev = pairs.select(F.col("item_b").alias("item"),
                       F.col("item_a").alias("neighbor"),
                       "n_pair",
                       F.col("n_b").alias("n_a"),
                       F.col("n_a").alias("n_b"))
    sym = fwd.unionByName(rev)
    cosine = (F.col("n_pair").cast("double")
              / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")))
    w = Window.partitionBy("item").orderBy(
        cosine.desc(), F.col("n_pair").desc(), F.col("neighbor").asc())
    return (sym.withColumn("cosine", cosine)
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("item", "neighbor", "n_pair", "cosine", "rank"))


def association_rules(pairs: DataFrame, *, min_confidence: float = 0.0,
                      n_baskets_col: str = "n_baskets") -> DataFrame:
    """Directional association rules from a ``pair_support`` frame: each
    undirected frequent pair yields antecedent→consequent BOTH ways with
    confidence = n_pair / n_antecedent — the Apriori rule-generation
    step on top of the 2-itemset core. (antecedent, consequent, n_pair,
    n_antecedent, n_consequent, confidence, lift); confidence and lift
    are single IEEE divisions of exact longs. ``min_confidence`` prunes
    AFTER the exact ratio — no float feeds a join or grouping.
    """
    pairs = materialize(pairs)
    fwd = pairs.select(F.col("item_a").alias("antecedent"),
                       F.col("item_b").alias("consequent"),
                       "n_pair", F.col("n_a").alias("n_antecedent"),
                       F.col("n_b").alias("n_consequent"),
                       n_baskets_col)
    rev = pairs.select(F.col("item_b").alias("antecedent"),
                       F.col("item_a").alias("consequent"),
                       "n_pair", F.col("n_b").alias("n_antecedent"),
                       F.col("n_a").alias("n_consequent"),
                       n_baskets_col)
    rules = fwd.unionByName(rev)
    conf = (F.col("n_pair").cast("double")
            / F.col("n_antecedent").cast("double"))
    lift = ((F.col("n_pair") * F.col(n_baskets_col)).cast("double")
            / (F.col("n_antecedent") * F.col("n_consequent"))
            .cast("double"))
    return (rules.withColumn("confidence", conf)
            .withColumn("lift", lift)
            .where(F.col("confidence") >= min_confidence)
            .drop(n_baskets_col))
