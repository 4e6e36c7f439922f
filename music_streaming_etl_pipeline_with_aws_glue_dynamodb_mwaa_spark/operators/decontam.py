"""Benchmark decontamination (training-data extension, SURVEY.md §7 E-class).

The GPT-3/Dolma-style contamination check: flag training documents that
share n-gram content with an evaluation/benchmark set, so benchmark leakage
can be pruned before training. The reference has no such surface (its dedup
is file-granular); this is a first-class extension operator.

Spark-first shape: both sides explode to (id, shingle) postings and meet in
an inverted-index EQUI-join — only colliding n-grams shuffle, never a doc×
bench cross join. The benchmark side is small by nature (eval sets are KBs
to MBs against a 100 TB corpus), so it is always broadcast: the corpus
side then never shuffles at all — a map-side join over the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_funcs import shingles


def contamination_pairs(docs: DataFrame, benchmark: DataFrame, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, min_overlap: int = 2) -> DataFrame:
    """(doc_id, bench_id, n_shared_ngrams) for every training/benchmark pair
    sharing ≥ ``min_overlap`` DISTINCT n-gram shingles.

    Shingles are per-document distinct (functions.text_funcs.shingles), so
    the join-group count IS the distinct-overlap cardinality — no second
    dedup pass needed.
    """
    d = docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(shingles(text_col, n)).alias("_g"))
    b = benchmark.select(F.col(id_col).alias("bench_id"),
                         F.explode(shingles(text_col, n)).alias("_g"))
    return (
        d.join(F.broadcast(b), "_g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .filter(F.col("n_shared_ngrams") >= min_overlap)
    )


def contaminated_docs(docs: DataFrame, benchmark: DataFrame, *,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, min_overlap: int = 2) -> DataFrame:
    """Doc-level verdict: how many benchmark items each training document
    collides with, and the worst overlap — the frame you anti-join against
    the corpus to decontaminate it."""
    pairs = contamination_pairs(
        docs, benchmark, id_col=id_col, text_col=text_col, n=n,
        min_overlap=min_overlap)
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_benchmarks_hit"),
        F.max("n_shared_ngrams").alias("max_shared_ngrams"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, min_overlap: int = 2) -> DataFrame:
    """The corpus minus contaminated documents (left_anti on the verdict)."""
    flagged = contaminated_docs(docs, benchmark, id_col=id_col,
                                text_col=text_col, n=n,
                                min_overlap=min_overlap)
    return docs.join(flagged.select(F.col("doc_id").alias(id_col)),
                     on=id_col, how="left_anti")
