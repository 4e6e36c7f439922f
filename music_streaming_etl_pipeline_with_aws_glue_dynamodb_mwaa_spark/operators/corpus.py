"""End-to-end training-corpus build: the composition every LLM data pipeline
runs — quality gate → exact dedup → near-dup pruning — as ONE declarative
DataFrame graph (BASELINE.json north star; no reference analogue — the
reference's validate→transform chain at ``REF/glue_jobs/validate.py:40-45`` /
``transform.py:19-36`` is the same shape for tabular rows).

Because each stage is a pure DataFrame→DataFrame operator, Catalyst fuses
the whole build into one plan: the quality gate's predicate reaches the scan,
dedup is one hash-shuffle, and near-dup pruning reuses the prefix-filtered
Jaccard join (operators.dedup) whose candidate set is already sublinear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .dedup import dedup_exact, ngram_jaccard_pairs
from .text import quality_keep


def build_corpus(docs: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text", min_tokens: int = 20,
                 max_tokens: int = 10_000, n: int = 3,
                 jaccard_threshold: float = 0.8,
                 materialize_fanout: bool = True) -> DataFrame:
    """Surviving documents after the standard triage chain.

    1. quality gate (Gopher/C4-style signal window — operators.text),
    2. exact text dedup, keep-first by id (deterministic),
    3. near-dup pruning at the Jaccard band: for every surviving pair
       (doc_a < doc_b) the HIGHER id is dropped — greedy, deterministic,
       one anti-join; the canonical keep-lowest-id rule (a union-find over
       components would also drop transitive dups — documented trade: this
       greedy rule is single-pass and SQL-mirrorable).

    Returns the surviving rows with their full original columns.

    ``materialize_fanout`` (default on): the deduped frame ``uniq`` fans out
    to FIVE consumers — the Jaccard join's two postings sides + docfreq, the
    exact verification re-shingling, and the final anti-join. Without a
    materialization barrier Catalyst re-executes the gate→join→window-dedup
    subtree (which contains a shuffle) once per consumer. A lazy
    ``materialize`` computes it exactly once on first use and serves the
    other consumers from executor-local blocks; they live as long as the
    caller's ``materialize.scope()``, or until the ContextCleaner frees
    them when the caller opened none.
    At cluster scale prefer writing ``uniq`` to a lake checkpoint instead;
    the flag exists so tests can pin result-equality of both paths.
    """
    # quality gate as a direct row-local filter (round 12): the keep rule
    # is computable per row, so joining docs back to its own filtered id
    # projection (`docs ⋈ quality_score(docs).filter(keep)`) paid a second
    # documents scan plus a join exchange for nothing — the predicate now
    # rides the scan (guide §2.4 / §6: filters reach the parquet scan).
    kept = docs.filter(quality_keep(text_col, min_tokens=min_tokens,
                                    max_tokens=max_tokens))
    uniq = dedup_exact(kept, [text_col], [id_col])
    if materialize_fanout:
        uniq = materialize(uniq, eager=False)
    losers = (
        ngram_jaccard_pairs(uniq, id_col, text_col, n=n,
                            threshold=jaccard_threshold)
        .select(F.col("doc_b").alias(id_col)).distinct()
    )
    return uniq.join(losers, id_col, "left_anti")


def build_corpus_transitive(docs: DataFrame, *, id_col: str = "doc_id",
                            text_col: str = "text", min_tokens: int = 20,
                            max_tokens: int = 10_000, n: int = 3,
                            jaccard_threshold: float = 0.8) -> DataFrame:
    """``build_corpus`` with the closure done right: instead of the greedy
    drop-the-higher-id-of-each-pair rule, near-dup pairs feed
    connected-components (operators/cluster.py) and exactly ONE
    representative (min id) survives per duplicate CLUSTER — A~B, B~C
    drops both B and C even when A~C was never scored. Same quality gate
    and exact-dedup stages; the pair list is the same prefix-filtered
    jaccard join; only the pruning rule differs (documented divergence in
    build_corpus's docstring, resolved here)."""
    from . import cluster as _cluster
    from .dedup import dedup_exact, ngram_jaccard_pairs
    from .text import quality_keep

    # row-local quality gate (round 12, see build_corpus): predicate on the
    # scan instead of a docs⋈ids self-join
    kept = docs.filter(quality_keep(text_col, min_tokens=min_tokens,
                                    max_tokens=max_tokens))
    uniq = materialize(dedup_exact(kept, [text_col], [id_col]), eager=False)
    # the returned plan reads uniq, so this function opens no scope: its
    # intermediates live as long as the caller's (materialize.py)
    pairs = ngram_jaccard_pairs(uniq, id_col, text_col, n=n,
                                threshold=jaccard_threshold)
    return _cluster.dedup_clusters(uniq, pairs, id_col)


def curation_pipeline(docs: DataFrame, benchmark: DataFrame | None = None,
                      *, id_col: str = "doc_id", text_col: str = "text",
                      min_tokens: int = 20, max_tokens: int = 10_000,
                      classifier_label=None,
                      jaccard_threshold: float = 0.8,
                      split_jaccard_threshold: float = 0.5,
                      max_top_2g_frac: float = 0.20,
                      max_dup_3g_frac: float = 0.20,
                      shard_tokens: int | None = None,
                      split_pcts: tuple[int, int] = (90, 5)) -> DataFrame:
    """The FULL curation chain, one declarative graph — the integration
    every production corpus build runs, composed entirely from this
    repo's audited operators:

    1. heuristic quality gate (text.quality_score),
    2. repetition gate (Gopher top-bigram / dup-trigram fractions),
    3. optional learned quality classifier (classify.quality_classifier,
       proxy label column → keep margin > 0),
    4. exact dedup (keep-first),
    5. transitive near-dup clustering — one representative per cluster,
    6. optional benchmark decontamination (left_anti on n-gram overlap),
    7. leakage-safe train/val/test split keyed on the near-dup CLUSTER id
       at a LOOSER band (``split_jaccard_threshold``) than the dedup cut:
       hard dups are already gone, but 0.5-0.8-similar survivors still
       leak eval signal if they straddle splits — keying the split on the
       loose-band component closes that,
    8. optional fixed-token-budget shard assignment.

    Returns the surviving docs with (component, split[, n_tokens,
    cum_tokens, shard_id]) appended. Every stage is a DataFrame→DataFrame
    operator, so Catalyst sees ONE plan per action; the near-dup stage
    reuses the prefix-filtered Jaccard machinery, and the heavy fan-out
    points keep their documented materialization barriers.
    """
    from .classify import quality_classifier
    from .cluster import dedup_clusters, with_cluster_ids
    from .dedup import dedup_exact, ngram_jaccard_pairs
    from .packing import shard_by_token_budget
    from .repetition import repetition_gate
    from .sampling import hash_split
    from .decontam import decontaminate

    # row-local quality gate (round 12, see build_corpus)
    kept = docs.filter(quality_keep(text_col, min_tokens=min_tokens,
                                    max_tokens=max_tokens))
    rep = repetition_gate(kept, id_col=id_col, text_col=text_col,
                          max_top_2g_frac=max_top_2g_frac,
                          max_dup_3g_frac=max_dup_3g_frac) \
        .filter("keep").select(id_col)
    kept = kept.join(rep, id_col)
    if classifier_label is not None:
        cls = quality_classifier(kept, classifier_label, id_col=id_col,
                                 text_col=text_col) \
            .filter("keep").select(id_col)
        kept = kept.join(cls, id_col)
    uniq = materialize(dedup_exact(kept, [text_col], [id_col]), eager=False)
    # the returned plan reads reps and the CC label leaves, so this
    # function opens no scope: its intermediates live as long as the
    # caller's (materialize.py)
    pairs = ngram_jaccard_pairs(uniq, id_col, text_col, n=3,
                                threshold=jaccard_threshold)
    reps = materialize(dedup_clusters(uniq, pairs, id_col), eager=False)
    if benchmark is not None:
        reps = decontaminate(reps, benchmark, id_col=id_col,
                             text_col=text_col)
    pairs_split = ngram_jaccard_pairs(reps, id_col, text_col, n=3,
                                      threshold=split_jaccard_threshold)
    # leakage_safe_split semantics with the assignments re-join elided
    # (round 12): with_cluster_ids carries the full reps row next to
    # its component, so the split label attaches without joining the
    # (id, component) frame back onto reps a second time
    labeled = with_cluster_ids(reps, pairs_split, id_col)
    out = hash_split(labeled, "component",
                     train_pct=split_pcts[0], val_pct=split_pcts[1])
    if shard_tokens is not None:
        shards = shard_by_token_budget(out.select(id_col, text_col),
                                       shard_tokens=shard_tokens,
                                       id_col=id_col, text_col=text_col)
        out = out.join(shards, id_col)
    return out


def corpus_drift(v1: DataFrame, v2: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text",
                 group_col: str = "source") -> DataFrame:
    """Release-to-release corpus drift report, one row per ``group_col``:
    doc counts per side, added/removed/changed doc counts, and exact token
    totals per side. The governance artifact a versioned training corpus
    publishes next to each snapshot (pairs with sources/versioned.py time
    travel: feed it two ``read_version`` frames).

    Shape: each side reduces to (id, group, digest, n_tokens) BEFORE the
    one full-outer id-keyed exchange — the join carries ~40 B/doc however
    wide the documents are, then a group-sized hash agg. Change detection
    is md5-digest equality; token counts are exact whitespace-token
    integers, so the whole report is engine-portable.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.col(group_col).alias(f"_g{tag}"),
            F.md5(F.col(text_col)).alias(f"_d{tag}"),
            F.size(F.split(F.col(text_col), " ")).cast("long")
            .alias(f"_t{tag}"))

    j = side(v1, "1").join(side(v2, "2"), "_id", "full_outer")
    g = F.coalesce(F.col("_g2"), F.col("_g1"))
    in1, in2 = F.col("_d1").isNotNull(), F.col("_d2").isNotNull()
    return (j.groupBy(g.alias(group_col)).agg(
        F.sum(in1.cast("long")).alias("n_docs_v1"),
        F.sum(in2.cast("long")).alias("n_docs_v2"),
        F.sum((in2 & ~in1).cast("long")).alias("n_added"),
        F.sum((in1 & ~in2).cast("long")).alias("n_removed"),
        F.sum((in1 & in2 & (F.col("_d1") != F.col("_d2"))).cast("long"))
        .alias("n_changed"),
        F.sum(F.coalesce(F.col("_t1"), F.lit(0))).alias("tokens_v1"),
        F.sum(F.coalesce(F.col("_t2"), F.lit(0))).alias("tokens_v2")))


def curation_funnel(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", min_tokens: int = 20,
                    max_tokens: int = 10_000, n: int = 3,
                    jaccard_threshold: float = 0.8) -> DataFrame:
    """Per-stage attrition census of the ``build_corpus`` chain — the
    funnel table every corpus release publishes next to its data card:
    (stage_idx, stage, n_in, n_kept, n_dropped) for input → quality gate
    → exact dedup → near-dup prune. Exact integers, oracle-checkable.

    Round-12 single-pass shape (guide §2.3/§2.4): the input and
    quality-gate counts fold into ONE complete aggregate over one
    documents scan (the keep rule is row-local — ``text.quality_keep``),
    instead of two union branches that each re-scanned docs through the
    old ``docs ⋈ quality ids`` self-join. The dedup count reads the same
    shared ``localCheckpoint`` the Jaccard subtree consumes, and the
    near-dup stage count is ``n_uniq − n_losers`` (losers is already a
    DISTINCT subset of uniq's ids), replacing the left-anti join. The
    three 1-row aggregates meet in broadcast cross-joins and an inline
    4-row explode carries the n_in/n_kept/n_dropped arithmetic — no lag
    window, no single-partition WindowExec, and the driver still never
    collects anything."""
    keep = quality_keep(text_col, min_tokens=min_tokens,
                        max_tokens=max_tokens)
    kept = docs.filter(keep)
    uniq = materialize(dedup_exact(kept, [text_col], [id_col]), eager=False)
    losers = (ngram_jaccard_pairs(uniq, id_col, text_col, n=n,
                                  threshold=jaccard_threshold)
              .select(F.col("doc_b").alias(id_col)).distinct())

    gate = docs.agg(
        F.count(F.lit(1)).alias("_n_input"),
        F.coalesce(F.sum(F.when(keep, 1).otherwise(0)), F.lit(0))
        .alias("_n_quality"))
    n_uniq = uniq.agg(F.count(F.lit(1)).alias("_n_uniq"))
    n_losers = losers.agg(F.count(F.lit(1)).alias("_n_losers"))

    def row(i: int, name: str, n_in, n_kept):
        return F.struct(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            n_in.cast("long").alias("n_in"),
            n_kept.cast("long").alias("n_kept"),
            (n_in - n_kept).cast("long").alias("n_dropped"))

    ni, nq = F.col("_n_input"), F.col("_n_quality")
    nu, ns = F.col("_n_uniq"), F.col("_n_uniq") - F.col("_n_losers")
    return (gate.crossJoin(F.broadcast(n_uniq))
            .crossJoin(F.broadcast(n_losers))
            .select(F.explode(F.array(
                row(0, "input", ni, ni),
                row(1, "quality_gate", ni, nq),
                row(2, "exact_dedup", nq, nu),
                row(3, "neardup_prune", nu, ns))).alias("_s"))
            .select("_s.stage_idx", "_s.stage", "_s.n_in", "_s.n_kept",
                    "_s.n_dropped"))
