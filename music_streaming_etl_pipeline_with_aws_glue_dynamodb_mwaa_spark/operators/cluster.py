"""Connected-components clustering over near-duplicate pair lists.

Pairwise near-dup detection (``dedup.ngram_jaccard_pairs`` /
``minhash_near_dup_pairs`` / ``embedding_near_dup_pairs``) yields an edge
list; a training-data pipeline then needs the *transitive* closure — if
A~B and B~C, all three are one duplicate cluster and exactly one
representative should survive. The reference has no record-level dedup at
all (its ledger dedupes files — ``REF/dags/music_etl_pipeline.py:34-45``);
this is part of the mandated LLM-data-pipeline extension surface.

Algorithm: iterative min-label propagation with pointer jumping
(path compression), expressed entirely as DataFrame joins/aggregations:

- each node starts labeled with itself;
- each round every node takes the min label over itself and its
  neighbors (one equi-join edge⋈labels + one groupBy-min), then labels are
  compressed one hop through the label table itself
  (``comp ← label(comp)``, a second equi-join).

Plain neighbor propagation needs O(diameter) rounds; the pointer-jumping
step squares the reach per round, giving O(log diameter) — for near-dup
graphs (cliques and short chains around a representative) this converges
in 2-3 rounds regardless of corpus size. Each round is lineage-cut with an
eager ``localCheckpoint`` so the plan doesn't grow exponentially, and
convergence is detected by a zero-changed-labels count (one cheap join of
two materialized label tables). This is the same shuffle pattern as
large-star/small-star (Kiveris et al., MapReduce and Beyond '14) with the
star-contractions fused into the label table.

At 100 TB: per round = one shuffle of the (symmetric) edge list keyed by
node + two label-table shuffles; the label table is one row per node
(constant width), edges never grow (contrast hash-to-min, whose cluster
sets can blow up mid-iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize


#: an edge list at or under this many rows (after symmetrization) is
#: solved on the driver; above it, distributed label propagation.
DRIVER_EDGES_MAX = 1_000_000


def connected_components(pairs: DataFrame, src: str, dst: str, *,
                         max_iter: int = 25) -> DataFrame:
    """(node, component) for every node in the edge list; ``component`` is
    the minimum node id reachable from ``node`` (deterministic cluster
    representative). Nodes not present in ``pairs`` don't appear — union
    singletons downstream (see ``cluster_assignments``).

    Adaptive execution: an edge list at or under ``DRIVER_EDGES_MAX`` rows
    (AFTER near-dup pruning, the edge set is tiny relative to the corpus —
    it's the duplicates, not the data) is solved with a driver-side
    union-find: one bounded collect, microseconds of CPU, identical
    min-label output. Distributed label propagation pays ~4 scheduled jobs
    PER ROUND, which dwarfs the work itself until edges reach many
    millions; past the threshold the distributed path is the 100 TB
    route.
    """
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = materialize(   # edges materialized once, reused per round
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct(), eager=False)

    if e.count() <= DRIVER_EDGES_MAX:
        rows = e.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:            # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        out = [(n, find(n)) for n in parent]
        schema = e.select(F.col("u").alias("node"),
                          F.col("v").alias("component")).schema
        # broadcast hint (round 12): this frame is driver-built and
        # bounded by DRIVER_EDGES_MAX edges (≤ 2·threshold nodes), but a
        # createDataFrame relation carries an UNKNOWN size estimate, so
        # without the hint every downstream label attach plans as a
        # SortMergeJoin that shuffles the (wide) corpus side — measured
        # as the dedup_cluster_reps/corpus chain regression when the
        # round-12 single-join attach landed. The distributed path below
        # stays unhinted: its label table is corpus-sized.
        return F.broadcast(
            pairs.sparkSession.createDataFrame(out, schema))

    labels = materialize(e.select("u").distinct()
                         .withColumn("comp", F.col("u")), eager=False)
    # Convergence probe: every per-node label only ever DECREASES (min of a
    # set containing itself), so sum(comp) is strictly decreasing iff any
    # label changed — a single-stage aggregate over the checkpointed
    # labels, far cheaper than a join-diff of consecutive rounds.
    prev_sum = None
    for _ in range(max_iter):
        # min label over the neighborhood of each node (edges are symmetric)
        nmin = (e.join(labels, "u")
                .groupBy("v").agg(F.min("comp").alias("_ncomp"))
                .withColumnRenamed("v", "u"))
        new = (labels.join(nmin, "u", "left")
               .select("u", F.least(F.col("comp"),
                                    F.coalesce("_ncomp", "comp")).alias("comp")))
        # pointer jumping: follow the label one extra hop (comp ← comp's comp)
        hop = new.select(F.col("u").alias("comp"), F.col("comp").alias("_c2"))
        new = materialize(      # eager: cut lineage per round
            new.join(hop, "comp", "left")
            .select("u", F.coalesce("_c2", "comp").alias("comp")))
        labels = new
        cur_sum = new.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("u").alias("node"), F.col("comp").alias("component"))


def with_cluster_ids(df: DataFrame, pairs: DataFrame, id_col: str, *,
                     src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """``df`` with a ``component`` column appended (all other columns
    kept): the connected component over ``pairs`` when the row
    participates in one, else its own id (singleton cluster). ONE left
    join against the component table — callers that previously joined
    ``cluster_assignments`` back onto ``df`` ride this directly and skip
    that second ``df``-sized join (round 12, guide §2.4)."""
    comp = connected_components(pairs, src, dst) \
        .withColumnRenamed("node", id_col)
    return (df.join(comp, id_col, "left")
            .withColumn("component",
                        F.coalesce("component", F.col(id_col))))


def cluster_assignments(df: DataFrame, pairs: DataFrame, id_col: str, *,
                        src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Every row of ``df`` labeled with its duplicate-cluster id: the
    connected component over ``pairs`` when the row participates in one,
    else its own id (singleton cluster). Output: (id_col, component)."""
    return with_cluster_ids(df.select(id_col), pairs, id_col,
                            src=src, dst=dst)


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str, *,
                   src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Keep exactly one representative row per duplicate cluster — the row
    whose ``id_col`` equals the component's min id. Singletons survive
    unchanged. Output: the full ``df`` row set minus non-representative
    duplicates (columns of ``df``, unchanged).

    Cost beyond the component computation: ONE left join of the component
    table onto ``df`` (round 12 — the assignment-table inner join
    re-scanned ``df``'s id projection for nothing: the assignment frame
    carries exactly one row per ``df`` row, so the representative filter
    rides the component join directly). No window needed, because the
    component id IS the min member id — the filter is a plain equality.
    """
    labeled = with_cluster_ids(df, pairs, id_col, src=src, dst=dst)
    return (labeled.filter(F.col(id_col) == F.col("component"))
            .drop("component"))
