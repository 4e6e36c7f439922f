"""Lexical relevance scoring: corpus term statistics, TF-IDF, BM25.

A training-data pipeline uses these for quality weighting, topical
filtering ("keep docs relevant to these seed terms"), and boosted
sampling. The reference has no text-scoring surface; this is extension
surface alongside operators/text.py.

Everything is built from ONE postings aggregation (``doc_term_stats``):
explode tokens → per-(doc,term) counts, then doc length and docfreq both
derive from that table (no second pass over the raw text). All JVM
expressions — no Python UDFs.

Hash-portability note: the integer statistics (tf, dl, df, n_docs) are
oracle-checked exactly. The ln-based scores are NOT — ``ln`` differs in
the last ulp between Java's Math.log and DuckDB's libm (measured: 145 of
1770 small-rational inputs differ bitwise), so score queries register
rows-only and are self-tested against a pure-Python reference in
tests/test_ranking.py.

100 TB posture: tf is one shuffle on (doc, term); dl and df are
re-aggregations of tf (doc-keyed / term-keyed shuffles of the already
collapsed table); the scalar corpus aggregate (n_docs, avgdl) is a 1-row
broadcast. BM25 filters postings to the query's terms BEFORE joining
docfreq, so per-query cost is |matching postings|, not |corpus|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_funcs import distinct_tokens, tokens
from ..materialize import materialize


def doc_term_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl, df, n_docs): term frequency in the doc, doc
    length in tokens, document frequency of the term, corpus size —
    exact integers, the shared substrate for any lexical score.

    The tf table fans out to three consumers (dl, df, the final join);
    column pruning makes their subtrees differ, so Catalyst would
    re-explode the raw text per consumer with no exchange reuse. A lazy
    ``localCheckpoint`` computes the explode+count once (plan-asserted in
    tests/test_plans.py)."""
    tf = materialize(
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")),
        eager=False)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (tf.join(dl, id_col).join(dfreq, "term")
            .crossJoin(F.broadcast(n))
            .select(id_col, "term", "tf", "dl", "df", "n_docs"))


def tfidf_top_terms(docs: DataFrame, id_col: str, text_col: str, *,
                    k: int = 3) -> DataFrame:
    """Top-k most characteristic terms per document by smoothed TF-IDF
    (ln((1+N)/(1+df)) + 1, sklearn-style — strictly positive so rare-term
    ties can't zero out). Deterministic tie-break on term. Rows-only vs
    the oracle (ln is not bit-portable); values self-tested in pytest."""
    s = doc_term_stats(docs, id_col, text_col)
    score = (F.col("tf")
             * (F.log((F.lit(1.0) + F.col("n_docs"))
                      / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)))
    w = F.row_number().over(
        Window.partitionBy(id_col).orderBy(score.desc(), F.col("term").asc()))
    return (s.withColumn("tfidf", score).withColumn("_rk", w)
            .filter(F.col("_rk") <= k)
            .select(id_col, "term", F.col("_rk").cast("int").alias("rank"),
                    "tfidf"))


def bm25_scores(docs: DataFrame, id_col: str, text_col: str,
                query_terms: list[str], *,
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 relevance of every matching document to a bag of query
    terms (docs matching none are absent — at corpus scale you want the
    sparse result, not a dense zero column).

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the non-negative variant.
    avgdl rides the same 1-row broadcast as n_docs.
    """
    s = doc_term_stats(docs, id_col, text_col)
    avg = s.groupBy(id_col).agg(F.first("dl").alias("dl")) \
           .agg(F.avg("dl").alias("avgdl"))
    matched = s.filter(F.col("term").isin(query_terms)) \
               .crossJoin(F.broadcast(avg))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                             + F.lit(b) * F.col("dl") / F.col("avgdl"))))
    return (matched.withColumn("_s", idf * tf_part)
            .groupBy(id_col).agg(F.sum("_s").alias("bm25"),
                                 F.count(F.lit(1)).alias("n_matched_terms")))


def bm25_topk(docs: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], *, k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Global top-k docs for the query — TakeOrderedAndProject (per-partition
    top-k then a k-row driver merge, no global sort shuffle). Deterministic
    tie-break on id."""
    return (bm25_scores(docs, id_col, text_col, query_terms, k1=k1, b=b)
            .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
            .limit(k))


def _ngrams(text_col: str, n: int):
    """Non-distinct word n-grams (occurrence-preserving — LM counts need
    multiplicity, unlike the dedup shingles which are set-semantics)."""
    toks = tokens(text_col)
    grams = F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(F.size(toks) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def ngram_counts(docs: DataFrame, id_col: str, text_col: str, *,
                 n: int = 2) -> DataFrame:
    """(ngram, cnt, docfreq): total occurrences + document frequency of
    every word n-gram — the count-table substrate for n-gram LM scoring
    and perplexity-style quality filters (KenLM-shaped, exact integers).

    One explode + one groupBy; ``docfreq`` is an exact count-distinct
    (the expand+double-shuffle is acceptable for count tables — they're
    built once per corpus; use operators/skew.py's two-phase rewrite when
    the gram distribution is adversarial)."""
    g = docs.select(F.col(id_col).alias("_id"),
                    F.explode(_ngrams(text_col, n)).alias("ngram"))
    return g.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("_id").alias("docfreq"))


def continuation_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(token, n_left_contexts): how many DISTINCT predecessors each token
    has — the Kneser-Ney continuation count (a token that appears often
    but only ever after one context scores low). Distinct bigram pairs,
    then a count per right token: two shuffles, all JVM."""
    g = docs.select(F.explode(_ngrams(text_col, 2)).alias("bg"))
    pair = g.select(
        F.substring_index("bg", " ", 1).alias("left"),
        F.substring_index("bg", " ", -1).alias("right")).distinct()
    return pair.groupBy(F.col("right").alias("token")) \
               .agg(F.count(F.lit(1)).alias("n_left_contexts"))


def _lm_grams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keyed bigram stream (_id, _bg) of ``docs`` — ONE tokenizing
    explode, materialized (localCheckpoint) so every consumer (model
    count tables, per-doc scoring, occurrence tables) folds over the
    same pass instead of re-tokenizing the corpus."""
    return materialize(docs.select(
        F.col(id_col).alias("_id"),
        F.explode(_ngrams(text_col, 2)).alias("_bg")))


def _lm_model_tables(model_g: DataFrame):
    """(bg, ctx, vocab_n) count tables over a materialized ``_bg``
    stream: bigram counts, left-context counts, and the +1 context
    vocabulary size."""
    bg = model_g.groupBy("_bg").agg(F.count(F.lit(1)).alias("_c12"))
    ctx = model_g.select(F.substring_index("_bg", " ", 1).alias("_w1")) \
        .groupBy("_w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab_n = ctx.agg((F.count(F.lit(1)) + 1).alias("_v"))
    return bg, ctx, vocab_n


def _lm_joined(docs: DataFrame, id_col: str, text_col: str, *,
               lm_docs: DataFrame | None = None,
               lm_text_col: str | None = None) -> DataFrame:
    """The scorer's shared integer substrate: every bigram of ``docs``
    LEFT-joined against the broadcast model count tables — one row per
    scored bigram carrying (_id, _bg, _c12, _c1, _v), all exact counts.
    ``doc_lm_scores`` applies the ln tree on top; ``doc_lm_count_table``
    aggregates the counts as-is (pure BIGINT → hash-exact anchor).

    Self-trained default (``lm_docs is None``): the scored docs ARE the
    model corpus, so ONE keyed gram stream (``_lm_grams``) serves both
    sides — the count tables fold over it and the doc side reads it
    back, halving the tokenize+explode passes (round 12, guide §2.4). A
    held-out model (``lm_docs``) keeps the two-stream shape: the model
    side is materialized once (a lazy plan would re-run the tokenizing
    explode once per count-table consumer — three corpus scans, measured
    ~40% of the operator's wall at sf0.1)."""
    if lm_docs is None:
        doc_side = _lm_grams(docs, id_col, text_col)
        model_g = doc_side.select("_bg")
    else:
        lm_text = text_col if lm_text_col is None else lm_text_col
        model_g = materialize(
            lm_docs.select(F.explode(_ngrams(lm_text, 2)).alias("_bg")))
        doc_side = docs.select(F.col(id_col).alias("_id"),
                               F.explode(_ngrams(text_col, 2)).alias("_bg"))
    bg, ctx, vocab_n = _lm_model_tables(model_g)
    return (doc_side
            .join(F.broadcast(bg), "_bg", "left")
            .join(F.broadcast(ctx),
                  F.substring_index("_bg", " ", 1) == F.col("_w1"), "left")
            .crossJoin(F.broadcast(vocab_n)))


def doc_lm_count_table(docs: DataFrame, id_col: str, text_col: str, *,
                       lm_docs: DataFrame | None = None,
                       lm_text_col: str | None = None) -> DataFrame:
    """The INTEGER core of the bigram-LM scorer, exposed as its own
    oracle-exact table (the ``doc_term_stats``-anchors-TF-IDF pattern):
    per scored document, the exact count aggregates the add-k formula
    consumes — (id, n_bigrams, sum_c12, sum_c1, vocab_n), all BIGINT —
    so the whole model-training + join plumbing of ``doc_lm_scores``
    hash-certifies; only the final ln tree stays rows-only. Unseen
    grams/contexts count 0 via coalesce (self-trained LMs never hit
    that branch — every scored gram is in the model). Docs with <2
    tokens have no bigrams and drop out, same as the scorer."""
    scored = _lm_joined(docs, id_col, text_col,
                        lm_docs=lm_docs, lm_text_col=lm_text_col)
    return (scored.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum(F.coalesce(F.col("_c12"), F.lit(0)))
                 .cast("long").alias("sum_c12"),
                 F.sum(F.coalesce(F.col("_c1"), F.lit(0)))
                 .cast("long").alias("sum_c1"),
                 F.max("_v").cast("long").alias("vocab_n"))
            .select(F.col("_id").alias(id_col), "n_bigrams",
                    "sum_c12", "sum_c1", "vocab_n"))


def doc_lm_scores(docs: DataFrame, id_col: str, text_col: str, *,
                  lm_docs: DataFrame | None = None, add_k: float = 0.5,
                  lm_text_col: str | None = None) -> DataFrame:
    """Per-document bigram-LM log-likelihood — the CCNet/KenLM-style
    fluency signal: score every document under an add-k-smoothed bigram
    model trained on ``lm_docs`` (default: the corpus itself), so
    gibberish / boilerplate surfaces as low mean log-probability.

        logp(doc) = Σ ln((C(w1 w2) + k) / (C(w1·) + k·V))

    with C from the training counts and V the training unigram-context
    vocabulary (+1 for unseen contexts). Returns (id, n_bigrams,
    sum_logprob, mean_logprob).

    Spark-first: the count tables come from ``ngram_counts``-shaped
    aggregations; scoring is ONE explode of the scored docs' bigrams +
    two count-table equi-joins (gram, then left-context) + a per-doc
    roll-up. The model tables are vocabulary-sized — at 100 TB they are
    the small side and broadcast (hinted) under any sane vocabulary cap.

    ``ln`` is not correctly-rounded and the per-doc sum crosses shuffled
    rows → registered rows-only; numpy parity is pinned in
    tests/test_ranking.py.
    """
    scored = _lm_joined(docs, id_col, text_col,
                        lm_docs=lm_docs, lm_text_col=lm_text_col)
    logp = F.log(
        (F.coalesce(F.col("_c12"), F.lit(0)) + F.lit(add_k))
        / (F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(add_k) * F.col("_v")))
    per_doc = (scored.select("_id", logp.alias("_lp"))
               .groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum("_lp").alias("sum_logprob")))
    return per_doc.select(
        F.col("_id").alias(id_col), "n_bigrams", "sum_logprob",
        (F.col("sum_logprob") / F.col("n_bigrams")).alias("mean_logprob"))


# --------------------------------------------------------------------------
# Hybrid retrieval: lexical ∪ semantic candidate lists fused by
# Reciprocal Rank Fusion (Cormack et al., SIGIR'09: score = Σ 1/(k+rank)).
# --------------------------------------------------------------------------

def lexical_topn(docs: DataFrame, id_col: str, text_col: str,
                 terms: list[str], n: int) -> DataFrame:
    """Top-n docs by query-term frequency → ``(id, lex_rank)``.

    tf is an in-row higher-order filter over the token array (no explode,
    no shuffle); the top-n is orderBy+limit = TakeOrderedAndProject
    (per-partition partial top-n, never a global sort), and the rank
    window then runs over only n rows. Ties break on id, so the cut is
    deterministic. tf=0 docs never enter the list — at corpus scale an
    inverted index (doc_term_stats filtered to the query terms) replaces
    the scan, same output contract.
    """
    tf = F.size(F.filter(tokens(text_col), lambda t: t.isin(*terms)))
    top = (docs.select(F.col(id_col), tf.alias("_tf"))
           .filter(F.col("_tf") > 0)
           .orderBy(F.col("_tf").desc(), F.col(id_col))
           .limit(n))
    w = Window.orderBy(F.col("_tf").desc(), F.col(id_col))
    return top.select(F.col(id_col),
                      F.row_number().over(w).alias("lex_rank"))


def hybrid_rrf(lex: DataFrame, sem: DataFrame, id_col: str, *,
               k: int = 20, rrf_k: int = 60) -> DataFrame:
    """Fuse two ranked candidate lists with Reciprocal Rank Fusion.

    ``lex``: (id, lex_rank); ``sem``: (id, sem_rank). Full-outer on the
    doc id (a doc can appear in either list alone — its missing side
    contributes 0, the standard RRF convention), score =
    1/(rrf_k+lex_rank) + 1/(rrf_k+sem_rank) — each term ONE IEEE division
    of exact integers and one addition in fixed order, so the fused score
    hashes bit-identically cross-engine. Both inputs are top-n lists
    (bounded), so the join and final top-k are n-row — the heavy lifting
    happened inside each retriever.
    """
    lexr = lex.select(F.col(id_col), "lex_rank")
    semr = sem.select(F.col(id_col), "sem_rank")
    fused = (lexr.join(semr, id_col, "full_outer")
             .select(id_col, "lex_rank", "sem_rank",
                     (F.coalesce(1.0 / (F.lit(rrf_k) + F.col("lex_rank")),
                                 F.lit(0.0))
                      + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("sem_rank")),
                                   F.lit(0.0))).alias("rrf_score")))
    return (fused.orderBy(F.col("rrf_score").desc(), F.col(id_col))
            .limit(k))


def conjunctive_search(docs: DataFrame, queries: DataFrame, id_col: str,
                       text_col: str, *, query_id_col: str = "query_id",
                       terms_col: str = "terms") -> DataFrame:
    """Boolean AND retrieval over an inverted index: for each query (a set
    of terms) return every document containing ALL of them. The classic
    postings-intersection plan, expressed relationally: distinct (doc,
    token) postings ⋈ broadcast (query, term) pairs, then a doc must match
    ``|terms|`` distinct query terms to qualify. Returns (query_id,
    doc_id, n_terms) — exact integers, oracle-checkable.

    100 TB shape: the query table is broadcast (queries are human-scale);
    the join prunes postings to the query vocabulary BEFORE the
    (query, doc) aggregation, so cost is Σ df(term-in-query), not the
    corpus — the same selectivity argument as ``bm25_topk``. Duplicate
    terms inside one query list are collapsed so the count-match test
    stays set semantics."""
    nt = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(F.col(terms_col))).alias("term"),
        F.size(F.array_distinct(F.col(terms_col))).alias("n_terms"))
    posts = docs.select(
        F.col(id_col), F.explode(distinct_tokens(text_col)).alias("term"))
    return (posts.join(F.broadcast(nt), "term")
            .groupBy(query_id_col, id_col, "n_terms")
            .agg(F.count(F.lit(1)).alias("_matched"))
            .where(F.col("_matched") == F.col("n_terms"))
            .select(query_id_col, id_col,
                    F.col("n_terms").cast("long").alias("n_terms")))


def phrase_search(docs: DataFrame, phrases: DataFrame, id_col: str,
                  text_col: str, *, phrase_id_col: str = "phrase_id",
                  phrase_col: str = "phrase") -> DataFrame:
    """Exact-phrase containment search: documents whose text contains the
    literal phrase (token-adjacent, any alignment), with the count of
    left-to-right NON-overlapping occurrences (both engines' ``replace``
    semantics). Returns (phrase_id, doc_id, n_occurrences).

    The human-scale phrase list collects to the driver ONCE (the same
    bounded-collect contract as ``similarity.assign_nearest_seed``'s seed
    codebook) and inlines as an array-of-structs literal, so the whole
    search is ONE codegen'd explode+filter over the scan — no join
    operator at all, not even a broadcast nested-loop; each doc row fans
    out |phrases| ways in-row and non-matches drop immediately.
    Occurrence counting is the standard split-length identity
    ``(len(text) - len(replace(text, p, ''))) / len(p)`` — pure string
    arithmetic, no regex escape hazards, oracle-exact."""
    rows = phrases.select(F.col(phrase_id_col).alias("_pid"),
                          F.col(phrase_col).alias("_p")).collect()
    if not rows:
        raise ValueError("need at least one phrase")
    if any(not r["_p"] for r in rows):
        raise ValueError("phrases must be non-empty")
    arr = F.array(*[
        F.struct(F.lit(r["_pid"]).alias("pid"), F.lit(r["_p"]).alias("p"))
        for r in sorted(rows, key=lambda r: str(r["_pid"]))
    ])
    ph = F.col("_ph")
    occ = ((F.length(F.col(text_col))
            - F.length(F.replace(F.col(text_col), ph["p"])))
           / F.length(ph["p"])).cast("long")
    return (docs.select(F.col(id_col), F.col(text_col),
                        F.explode(arr).alias("_ph"))
            .where(F.contains(F.col(text_col), ph["p"]))
            .select(ph["pid"].alias(phrase_id_col), F.col(id_col),
                    occ.alias("n_occurrences")))


def vocab_index(docs: DataFrame, id_col: str, text_col: str, *,
                min_df: int = 1) -> DataFrame:
    """Deterministic dense vocabulary index for bag-of-words featurization:
    (term, term_idx, df), terms ranked by (df DESC, term ASC) so index 0 is
    the most frequent term and the mapping is reproducible across engines,
    runs, and partitionings. ``min_df`` prunes the hapax tail (the standard
    CountVectorizer knob — at corpus scale the tail IS most of the
    vocabulary). One docfreq aggregation + one vocabulary-sized rank
    window (single partition over |vocab| rows — the same bounded-window
    contract as the k-row funnel cumsum; shard by a term-hash prefix if a
    vocabulary ever outgrows one task)."""
    dfreq = (docs.select(F.explode(distinct_tokens(text_col)).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
             .where(F.col("df") >= min_df))
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return dfreq.select(
        "term", (F.row_number().over(w) - 1).cast("long").alias("term_idx"),
        "df")


def doc_term_matrix(docs: DataFrame, id_col: str, text_col: str, *,
                    min_df: int = 1) -> DataFrame:
    """Sparse document-term matrix in COO form — (doc_id, term_idx, tf) —
    the bag-of-words featurization every classical downstream model
    (NB/LR quality classifiers, topic models) consumes. Exact integers;
    the vocabulary index is broadcast (vocab-sized) and the tf table is
    the one (doc, term) shuffle ``doc_term_stats`` already pays."""
    tf = (docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
          .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    vocab = vocab_index(docs, id_col, text_col, min_df=min_df)
    return (tf.join(F.broadcast(vocab.select("term", "term_idx")), "term")
            .select(id_col, "term_idx", "tf"))
