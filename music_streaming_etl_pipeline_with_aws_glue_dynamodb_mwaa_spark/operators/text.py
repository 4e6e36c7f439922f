"""Text-analysis operators over a documents table (SURVEY.md §7 E3).

Everything is built-in Spark expressions (no Python on the hot path):
per-document statistics, quality scoring, heuristic language ID, corpus
token accounting, and content fingerprinting — the standard pre-training
corpus triage toolkit, each oracle-checkable in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import numpy as np
import pandas as pd

from ..functions.text_funcs import (
    EN_STOPWORDS,
    distinct_tokens,
    fingerprint,
    shingles,
    stopword_count,
    tokens,
)
from ..materialize import materialize

# BPE-ish word/number/symbol segmentation for token accounting; kept to a
# subset of regex syntax with identical semantics in Java (Spark) and RE2
# (DuckDB): lowercase runs, digit runs, single non-space symbols.
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def text_stats(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document shape statistics: token/char counts, type-token ratio
    ingredients, mean token length — the base features for quality filters."""
    toks = tokens(text_col)
    total_tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x)
    return docs.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(distinct_tokens(text_col)).alias("n_distinct_tokens"),
        (total_tok_chars.cast("double") / F.size(toks)).alias("avg_token_len"),
        (F.size(distinct_tokens(text_col)).cast("double") / F.size(toks))
        .alias("type_token_ratio"),
    )


def quality_keep(text_col: str = "text", *, min_tokens: int = 20,
                 max_tokens: int = 10_000):
    """The ROW-LOCAL boolean of :func:`quality_score`'s keep rule, exposed
    as a bare Column so consumers that only gate (the corpus-build chain)
    can ``docs.filter(quality_keep(...))`` directly instead of joining
    docs back to ``quality_score(docs).filter("keep")`` — that self-join
    re-scans the documents and pays a join exchange for a predicate every
    row can answer about itself (guide §2.4: remove shuffles outright).
    Equivalent to the join form whenever the id column is unique, which
    the documents contract guarantees; NULL text yields NULL keep and is
    dropped by ``filter`` exactly as the join form drops it."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    mean_len = F.aggregate(F.transform(toks, lambda t: F.length(t)),
                           F.lit(0), lambda a, x: a + x).cast("double") / n_tokens
    stop_ratio = stopword_count(text_col).cast("double") / n_tokens
    return (
        (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
        & (mean_len >= 2.0) & (mean_len <= 12.0)
        & (stop_ratio > 0.0)
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", *, min_tokens: int = 20,
                  max_tokens: int = 10_000) -> DataFrame:
    """Heuristic quality gate à la Gopher/C4 rules: length window, mean word
    length window, stopword presence. Emits the signals plus a boolean —
    filters should be explainable, so signals stay in the output."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    mean_len = F.aggregate(F.transform(toks, lambda t: F.length(t)),
                           F.lit(0), lambda a, x: a + x).cast("double") / n_tokens
    stop_ratio = stopword_count(text_col).cast("double") / n_tokens
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        quality_keep(text_col, min_tokens=min_tokens,
                     max_tokens=max_tokens).alias("keep"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", *, threshold: float = 0.02) -> DataFrame:
    """Stopword-ratio language ID (n-gram/wordlist heuristic): ratio of
    English function words among tokens; 'en' when above threshold, 'und'
    otherwise. Deliberately simple — the operator shape (wordlist scoring →
    argmax) is what scales; richer models drop into the same slot."""
    n = F.size(tokens(text_col))
    ratio = stopword_count(text_col, EN_STOPWORDS).cast("double") / n
    return docs.select(
        F.col(id_col),
        ratio.alias("en_stopword_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("und"))
        .alias("predicted_lang"),
    )


def token_counts_by_group(docs: DataFrame, group_cols: list[str],
                          text_col: str = "text") -> DataFrame:
    """Corpus accounting per group (source, language, shard): documents,
    whitespace tokens, BPE-ish regex tokens, characters. The whole-corpus
    token budget query every training-data pipeline runs first."""
    toks = tokens(text_col)
    bpe = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_ISH_PATTERN), 0)
    return docs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.sum(F.size(bpe)).alias("total_bpe_tokens"),
        F.sum(F.length(text_col)).alias("total_chars"),
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Stable md5 content fingerprint per document (whitespace-normalized) —
    the join key for cross-shard exact dedup and provenance tracking."""
    return docs.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))


_NORM_STRIP_PATTERN = r"[^a-z0-9\s]"       # drop non-alnum (ASCII corpus)
_WS_COLLAPSE_PATTERN = r"\s+"

# Redaction patterns (C4/Dolma-style PII scrub). Kept to the regex subset
# with IDENTICAL semantics in Java (Spark) and RE2 (DuckDB): char classes,
# bounded repeats, alternation, \s/\b. No lookarounds, no backrefs.
REDACTION_PATTERNS: list[tuple[str, str]] = [
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def normalize_text(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Canonical text cleanup: lowercase → strip non-alphanumerics →
    collapse whitespace → trim. The normalization every dedup/tokenizer
    stage wants in front of it; pure JVM regexp (one codegen'd projection),
    and the conservative ASCII char class keeps Java-vs-RE2 semantics
    identical for oracle checking."""
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), _NORM_STRIP_PATTERN, ""),
        _WS_COLLAPSE_PATTERN, " "))
    return docs.select(F.col(id_col), cleaned.alias("norm_text"))


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               patterns: list[tuple[str, str]] | None = None) -> DataFrame:
    """PII scrub: email / URL / IPv4 → typed placeholder tokens, applied in
    order (C4-style pre-training hygiene). Map-side regexp_replace chain —
    no shuffle, scales with the scan."""
    out = F.col(text_col)
    for pat, repl in (patterns or REDACTION_PATTERNS):
        out = F.regexp_replace(out, pat, repl)
    return docs.select(F.col(id_col), out.alias("redacted_text"))


def _winnow_udf(k: int, w: int, base: int, mod: int):
    @F.pandas_udf("array<long>")
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = t or ""
            m = len(t) - k + 1
            if m < 1:
                out.append([])
                continue
            codes = np.fromiter((ord(c) for c in t), dtype=np.int64,
                                count=len(t))
            h = np.zeros(m, dtype=np.int64)
            for i in range(k):                 # k vectorized passes, O(len·k)
                h = (h * base + codes[i:i + m]) % mod
            if m < w:
                out.append([])
                continue
            mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)
    return winnow


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", *, k: int = 8, w: int = 4,
                        base: int = 257, mod: int = (1 << 31) - 1) -> DataFrame:
    """Rolling-hash winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03), exploded to (doc_id, fingerprint) rows: the distinct minima
    of each w-window over the polynomial k-gram rolling hashes. Guarantee:
    any shared substring of length ≥ k+w-1 yields ≥1 shared fingerprint —
    content-defined local identity, vs doc_fingerprints' whole-doc md5.

    Computed in an Arrow-batched pandas UDF (the bit-level-sketch exception
    to the no-Python rule, like simhash64: nested JVM higher-order lambdas
    re-evaluate the char split per element — quadratic — while numpy does k
    vectorized passes). Pure integer arithmetic (h = fold acc·base+code mod
    Mersenne-31), so the DuckDB oracle reproduces the VALUES exactly —
    unlike md5/xxhash sketches, this one is engine-portable."""
    return docs.select(
        F.col(id_col),
        F.explode(_winnow_udf(k, w, base, mod)(F.col(text_col)))
        .alias("fingerprint"))


def chunk_documents(docs: DataFrame, id_col: str, text_col: str, *,
                    chunk_tokens: int = 128,
                    overlap_tokens: int = 16) -> DataFrame:
    """Split long documents into overlapping token-window chunks (the
    RAG/long-context preparation step; distinct from operators/packing.py,
    which CONCATENATES short docs — this one SPLITS long ones).

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap_tokens; the final chunk may be short.
    Starts stop at ``n − 1 − overlap`` so every chunk contributes at least
    one PREVIOUSLY-UNSEEN token — a doc ending inside the overlap span
    must not spawn a trailing chunk that is a pure suffix of the previous
    one (de-overlap reconstruction is exact; asserted in tests). Pure JVM
    expressions — sequence/transform/slice; one narrow explode, no
    shuffle, no Python.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(0),
                        F.greatest(n - 1 - overlap_tokens, F.lit(0)),
                        F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens))
            .alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - s).alias("n_tokens")))
    return (docs
            .select(F.col(id_col), F.explode(chunks).alias("_c"))
            .select(id_col, "_c.chunk_idx", "_c.chunk_text", "_c.n_tokens")
            .filter(F.col("n_tokens") > 0))


def remove_common_segments(docs: DataFrame, id_col: str, text_col: str, *,
                           seg_tokens: int = 8,
                           max_docfreq: int = 1) -> DataFrame:
    """Corpus-level boilerplate removal, CCNet/RefinedWeb-style: cut every
    non-overlapping ``seg_tokens``-token segment that appears in MORE than
    ``max_docfreq`` distinct documents (headers, footers, cookie banners —
    the segments whose cross-document frequency betrays template origin),
    then stitch each document back together from its surviving segments.

    Returns (doc_id, clean_text, n_segs_kept, n_segs_dropped). A document
    whose every segment is boilerplate survives with an empty
    ``clean_text`` (dropping it is the quality gate's decision, not this
    operator's).

    Spark-first shape, 3 exchanges total at ANY corpus size:
    1. segment explode (narrow) → docfreq hash-agg keyed by the segment's
       md5 — 128-bit key, never the multi-KB segment text;
    2. the over-frequent set comes back to the segment stream as a
       left-join flag with no join hint: the planner and AQE size the
       build side at runtime — broadcast when boilerplate collapses to a
       small set, a shuffled join when (at web scale, ``max_docfreq=1``)
       it's tens of GB;
    3. one groupBy(doc) re-assembly with an array_sort on segment index —
       order restored without an ordered shuffle.
    """
    segs = (chunk_documents(docs.select(id_col, text_col), id_col, text_col,
                            chunk_tokens=seg_tokens, overlap_tokens=0)
            .withColumn("_h", F.md5(F.col("chunk_text"))))
    # segs feeds both the docfreq agg and the flag join — compute the
    # chunk explode once (lazy)
    segs = materialize(segs, eager=False)
    common = (segs.groupBy("_h")
              .agg(F.countDistinct(id_col).alias("_df"))
              .where(F.col("_df") > max_docfreq)
              .select("_h"))
    flagged = segs.join(common.withColumn("_drop", F.lit(True)), "_h", "left")
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("_drop").isNull(),
                       F.struct("chunk_idx", "chunk_text")))),
            lambda s: s["chunk_text"]),
        " ")
    return (flagged.groupBy(id_col).agg(
        kept_text.alias("clean_text"),
        F.count(F.when(F.col("_drop").isNull(), 1)).alias("n_segs_kept"),
        F.count(F.when(F.col("_drop").isNotNull(), 1)).alias("n_segs_dropped")))


def remove_duplicate_spans(docs: DataFrame, id_col: str, text_col: str, *,
                           k: int = 6, max_docfreq: int = 1) -> DataFrame:
    """Exact duplicated-SPAN removal at overlapping k-gram granularity
    (the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" family): any token whose position is covered by a
    k-gram appearing in more than ``max_docfreq`` distinct documents is
    cut; the survivors re-join in order.

    Distinct from ``remove_common_segments`` (fixed non-overlapping
    segments): overlapping k-grams catch duplicated passages at ANY
    alignment, at the cost of a k× position stream. Returns
    (doc_id, clean_text, n_tokens_kept, n_tokens_removed).

    Spark-first shape: positions explode narrowly; docfreq is ONE hash
    agg on the md5 of the gram (16-byte keys, never text); the
    over-frequent gram set joins back with no join hint, so AQE sizes
    the build side at runtime (a shuffled join at web scale, where the
    duplicated-gram set is unbroadcastable).
    Covered positions resolve IN-ROW and LINEARLY: equal-length k-gram
    intervals over the sorted start list merge into disjoint runs with
    one indexed filter pass (run head ⇔ gap to previous start > k), and
    the kept text is the flattened slice of the COMPLEMENT gaps — no
    per-token EXISTS (the O(tokens × starts) interpreted fallback this
    replaced, round-4 VERDICT item 4), no position self-joins anywhere.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    # occurrence-preserving k-gram stream with start positions (0-based)
    # Spark's sequence(0, -1) counts DOWN; short docs must yield an empty
    # start list, not a phantom [-1] position
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        F.col(id_col), F.posexplode(
            F.transform(
                starts,
                lambda s: F.concat_ws(
                    " ", F.slice(toks, s + 1, k)))).alias("_pos", "_g"))
    grams = grams.withColumn("_h", F.md5("_g")).drop("_g")
    # the gram stream feeds BOTH the docfreq agg and the probe side of the
    # semi join — a lazy materialize computes the tokenize + explode
    # once instead of per consumer
    grams = materialize(grams, eager=False)
    common = (grams.select("_h", id_col).groupBy("_h")
              .agg(F.countDistinct(id_col).alias("_df"))
              .where(F.col("_df") > max_docfreq)
              .select("_h"))
    hits = (grams.join(common, "_h", "left_semi")
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_set("_pos")).alias("_starts")))
    base = docs.select(id_col, toks.alias("_toks"))
    joined = base.join(hits, id_col, "left")
    s = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    n = F.size("_toks")
    # merge the sorted equal-length intervals [st, st+k) into disjoint
    # covered runs — linear: a start is a run HEAD iff the previous start
    # is more than k back, a run TAIL iff the next start is more than k
    # ahead (indices clamped so the guarded element_at never reads out of
    # bounds; the F.when decides first)
    heads = F.filter(s, lambda st, i: F.when(i == 0, F.lit(True)).otherwise(
        st - F.element_at(s, F.greatest(i, F.lit(1))) > k))
    tails = F.filter(s, lambda st, i: F.when(
        i == F.size(s) - 1, F.lit(True)).otherwise(
        F.element_at(s, F.least(i + 2, F.size(s))) - st > k))
    # complement gaps of the covered runs over [0, n): kept text is the
    # flattened slice of each gap — one pass, no per-token work
    gap_lo = F.concat(F.array(F.lit(0)),
                      F.transform(tails, lambda t: t + k))
    gap_hi = F.concat(heads, F.array(n))
    kept = F.flatten(F.zip_with(
        gap_lo, gap_hi,
        lambda lo, hi: F.slice(F.col("_toks"), lo + 1,
                               F.greatest(hi - lo, F.lit(0)))))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).alias("n_tokens_kept"),
        (n - F.size(kept)).alias("n_tokens_removed"))


def vocab_growth(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", *,
                 n_buckets: int = 10) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law table): cumulative distinct
    token count after each ingestion decile of the corpus, ordered by doc
    id. Returns (bucket, n_docs_cum, new_tokens, vocab_size) — the release
    dashboard that shows whether a corpus is still contributing novel
    vocabulary or has saturated (a core data-curation signal: marginal
    novelty per added source).

    Cumulative-distinct is a non-associative window in general; this plan
    reduces it to equi-joins + a k-row cumsum by the first-occurrence
    trick: each token's contribution lands entirely in the bucket of its
    FIRST document (min doc id per token), so
    ``vocab_size(b) = Σ_{b' <= b} new_tokens(b')``. Shuffles: one token
    groupBy (min doc), one two-phase ``ids.global_ntile`` on the
    doc-grain frame (range-partition + k counts to the driver — NOT a
    single-task ntile window; the r5 VERDICT scale flag), one equi-join
    of the token firsts against the bucketed docs, one
    ``n_buckets``-row cumsum — nothing quadratic, nothing driver-side
    beyond the k partition counts. The only remaining unpartitioned
    window is the final cumsum over ``n_buckets`` (a CONSTANT-row
    frame, 10 by default)."""
    from .ids import global_ntile
    buckets = global_ntile(docs.select(F.col(id_col)), [id_col],
                           n_buckets, out_col="bucket")
    firsts = (docs.select(F.explode(tokens(text_col)).alias("token"),
                          F.col(id_col))
              .groupBy("token").agg(F.min(id_col).alias("_first_doc")))
    new_per = (firsts.join(buckets.withColumnRenamed(id_col, "_first_doc"),
                           "_first_doc")
               .groupBy("bucket").agg(F.count(F.lit(1)).alias("new_tokens")))
    per_bucket = (buckets.groupBy("bucket")
                  .agg(F.count(F.lit(1)).alias("_n_docs"))
                  .join(new_per, "bucket", "left")
                  .na.fill({"new_tokens": 0}))
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                               Window.currentRow)
    return per_bucket.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.sum("_n_docs").over(cum).cast("long").alias("n_docs_cum"),
        F.col("new_tokens").cast("long").alias("new_tokens"),
        F.sum("new_tokens").over(cum).cast("long").alias("vocab_size"))


def ngram_novelty(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", *, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: of each doc's DISTINCT word n-grams,
    how many appear for the FIRST time in the corpus when docs are
    taken in id order — (id, n_grams, n_novel, novelty_ratio). The
    marginal-novelty curation signal at DOCUMENT grain (``vocab_growth``
    is the corpus-grain cumulative twin): a doc whose grams all
    appeared earlier is template/boilerplate; novelty_ratio ≈ 1 means
    fresh content worth keeping.

    Exactness: counts are BIGINT, ratio is the ONE final division.
    Plan: the first-occurrence trick again — one distinct-gram explode,
    one min-doc-per-gram aggregation, one equi-join back, one per-doc
    roll-up. No window, nothing driver-side; gram grain is corpus
    vocabulary (shuffles hash-partition on the gram — skew-safe since
    DISTINCT grams per doc cap multiplicity at 1). Docs with < n
    tokens have no grams and drop out, like the LM scorer."""
    # two consumers: firsts + the join back
    grams = materialize(docs.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(text_col, n)).alias("_g")))
    firsts = grams.groupBy("_g").agg(F.min("_id").alias("_first"))
    return (grams.join(firsts, "_g")
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum((F.col("_first") == F.col("_id")).cast("bigint"))
                 .alias("n_novel"))
            .select(F.col("_id").alias(id_col), "n_grams", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_grams").cast("double"))
                    .alias("novelty_ratio")))


def sentence_stats(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document sentence-level shape statistics: segment on
    [.!?]+ runs (plus trailing whitespace), drop empty segments, report
    (id, n_sentences, n_sentence_tokens, max_sentence_tokens,
    mean_sentence_tokens) — the sentence-length quality axis the
    token-level ``quality_score`` can't see (wall-of-text docs with no
    sentence boundaries, chopped-up listicles with 2-token sentences).

    Entirely in-row JVM array code (split → transform → filter →
    aggregate) — no explode, no shuffle beyond the scan; the regex is
    kept to the Java/RE2-identical subset and the split semantics
    (trailing empty segment, empty string → ['']) are pinned by the
    sf0.01 oracle hash. Counts BIGINT; mean is the ONE division (NULL
    when a doc has no sentences)."""
    segs = F.filter(
        F.transform(F.split(F.col(text_col), r"[.!?]+\s*"),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    sent_toks = F.transform(
        segs, lambda s: F.size(F.filter(F.split(s, " "),
                                        lambda t: t != "")))
    n_sent = F.size(segs).cast("long")
    total = F.aggregate(sent_toks, F.lit(0).cast("long"),
                        lambda a, x: a + x)
    return docs.select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        total.alias("n_sentence_tokens"),
        F.array_max(sent_toks).cast("long").alias("max_sentence_tokens"),
        F.when(n_sent > 0, total.cast("double") / n_sent.cast("double"))
        .alias("mean_sentence_tokens"))
