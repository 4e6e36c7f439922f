"""Unigram-LM tokenizer training (SentencePiece's unigram model, Kudo
2018) — the OTHER tokenizer-training family next to BPE (operators/bpe.py),
via deterministic hard-EM (Viterbi training) over the word vocabulary.

Shape mirrors the BPE trainer: ONE corpus-sized pass builds (word, count);
everything after is vocabulary-sized —

1. candidate pieces = every substring of every word up to
   ``max_piece_len`` chars, frequency-weighted (in-row nested transforms,
   no position joins) → keep all single chars (coverage closure) + the
   top ``candidate_cap`` multi-char pieces;
2. each EM round: Viterbi-segment every DISTINCT word under the current
   piece log-probs (Arrow-batched UDF, piece table rides in the closure —
   it is vocab-bounded, KB–MB at any corpus size), accumulate EXACT
   integer piece counts (hard EM: best segmentation only — this is what
   makes every round's state integer-reproducible under any partitioning,
   unlike soft-EM float expectations), then prune the lowest-count
   multi-char pieces toward ``vocab_size`` and re-derive log-probs;
3. encode = the same Viterbi under the final table, applied per DISTINCT
   word and joined back through the token stream.

Determinism contract (pinned against a pure-Python reference in
tests/test_unigram.py): DP ties break toward the SHORTEST final piece
(first candidate at equal score wins, lengths ascending); prune ties break
by (count asc, piece desc) so the kept set is a total order; log-probs are
``math.log`` of exact integer ratios. No SQL oracle exists for iterative
EM → rows-only registration.

100 TB: the corpus pass is a map-side-combined word count; EM rounds cost
O(|vocab| · word_len · max_piece_len) — independent of corpus size.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, scope
from .bpe import word_vocab


def _viterbi(word: str, logp: dict[str, float], max_len: int,
             floor_lp: float) -> list[str]:
    """Best segmentation under the piece log-probs; unknown single chars
    score ``floor_lp`` (coverage fallback). Ties → shortest final piece."""
    n = len(word)
    dp = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        best, bl = float("-inf"), 1
        for ln in range(1, min(max_len, i) + 1):
            piece = word[i - ln:i]
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = floor_lp
            score = dp[i - ln] + lp
            if score > best:
                best, bl = score, ln
        dp[i], back[i] = best, bl
    out, i = [], n
    while i > 0:
        out.append(word[i - back[i]:i])
        i -= back[i]
    return out[::-1]


def candidate_pieces(vocab: DataFrame, *, max_piece_len: int = 6,
                     candidate_cap: int = 2000) -> DataFrame:
    """(piece, count): every ≤max_piece_len substring of every word,
    weighted by word frequency (occurrence-preserving within a word);
    all single chars kept, multi-char capped to the top candidate_cap
    by (count desc, piece asc)."""
    w = F.col("word")
    n = F.length(w)
    subs = F.flatten(F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_piece_len), n - s)),
            lambda ln: F.substring(w, (s + 1).cast("int"),
                                   ln.cast("int")))))
    pieces = (vocab.select(F.explode(subs).alias("piece"), "count")
              .groupBy("piece").agg(F.sum("count").alias("count")))
    singles = pieces.filter(F.length("piece") == 1)
    multi = (pieces.filter(F.length("piece") > 1)
             .orderBy(F.col("count").desc(), F.col("piece"))
             .limit(candidate_cap))
    return singles.unionByName(multi)


def _logp_table(rows: list[tuple[str, int]]) -> dict[str, float]:
    total = sum(c for _, c in rows)
    v = len(rows)
    return {p: math.log((c + 1) / (total + v)) for p, c in rows}


def train_unigram(docs: DataFrame, text_col: str = "text", *,
                  vocab_size: int = 300, max_piece_len: int = 6,
                  candidate_cap: int = 2000, prune_frac: float = 0.25,
                  max_rounds: int = 8) -> list[tuple[str, int]]:
    """Learn the unigram piece inventory; returns the final
    [(piece, count)] sorted by (count desc, piece asc).

    Driver holds only the piece table (≤ candidate_cap + alphabet rows);
    every E-step is one vocabulary-sized Spark job with exact integer
    count aggregation.
    """
    with scope():
        vocab = materialize(word_vocab(docs, text_col), eager=False,
                            columnar=True)
        # EM stages are vocabulary-sized: run them on partitions proportional
        # to the vocab, not the session's corpus-sized shuffle width (a
        # 32-partition Arrow stage over a few dozen distinct words pays 32
        # python-worker spinups per round for nothing — measured 5s/round at
        # toy scale). ~5k words per task keeps real vocabularies parallel.
        n_words = vocab.count()
        par = docs.sparkSession.sparkContext.defaultParallelism
        want = max(1, min(par, (n_words + 4999) // 5000))
        if want < par:
            vocab = materialize(vocab.coalesce(want), columnar=True)
        pieces = [(r["piece"], r["count"]) for r in
                  candidate_pieces(vocab, max_piece_len=max_piece_len,
                                   candidate_cap=candidate_cap).collect()]
        for _ in range(max_rounds):
            logp = _logp_table(pieces)
            floor_lp = min(logp.values()) - 10.0
            counts = _estep_counts(vocab, logp, max_piece_len, floor_lp)
            # pieces absent from every best segmentation die regardless
            survivors = [(p, counts.get(p, 0)) for p, _ in pieces]
            singles = [(p, c) for p, c in survivors if len(p) == 1]
            multi = [(p, c) for p, c in survivors if len(p) > 1 and c > 0]
            target_multi = max(vocab_size - len(singles), 0)
            if len(multi) > target_multi:
                multi.sort(key=lambda pc: (pc[1], _desc_key(pc[0])),
                           reverse=False)
                n_drop = min(len(multi) - target_multi,
                             max(1, int(len(multi) * prune_frac)))
                multi = multi[n_drop:]
            pieces = sorted(singles + multi,
                            key=lambda pc: (-pc[1], pc[0]))
            if len(pieces) <= vocab_size:
                break
        return pieces


def _desc_key(s: str) -> tuple:
    """Sort key that orders strings DESCENDING inside an ascending sort."""
    return tuple(-ord(ch) for ch in s)


def _estep_counts(vocab: DataFrame, logp: dict[str, float],
                  max_len: int, floor_lp: float) -> dict[str, int]:
    """One hard-EM expectation pass: piece → Σ word_count over each
    word's Viterbi segmentation. Exact integers."""

    @F.pandas_udf("array<string>")
    def seg_udf(words: pd.Series) -> pd.Series:
        return words.map(lambda w: _viterbi(w, logp, max_len, floor_lp))

    out = (vocab.select(F.explode(seg_udf("word")).alias("piece"), "count")
           .groupBy("piece").agg(F.sum("count").alias("c")).collect())
    return {r["piece"]: r["c"] for r in out}


def encode_docs(docs: DataFrame, pieces: list[tuple[str, int]],
                id_col: str = "doc_id", text_col: str = "text", *,
                max_piece_len: int = 6) -> DataFrame:
    """Tokenize every document with the learned inventory: Viterbi per
    DISTINCT word (vocab-sized UDF job), broadcast word→pieces join back
    through the token stream — the corpus is touched once and never
    re-segmented per occurrence. Returns (id, n_words, n_pieces,
    pieces_per_word)."""
    logp = _logp_table(pieces)
    floor_lp = min(logp.values()) - 10.0

    @F.pandas_udf("int")
    def n_pieces_udf(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: len(_viterbi(w, logp, max_piece_len, floor_lp)))

    from ..functions.text_funcs import tokens
    distinct_words = (docs.select(F.explode(tokens(text_col)).alias("word"))
                      .filter(F.col("word") != "").distinct())
    distinct_words = materialize(distinct_words)
    n_words = distinct_words.count()
    par = docs.sparkSession.sparkContext.defaultParallelism
    want = max(1, min(par, (n_words + 4999) // 5000))
    words = (distinct_words.coalesce(want)
             .select("word", n_pieces_udf("word").alias("_np")))
    stream = (docs.select(F.col(id_col), F.explode(tokens(text_col))
                          .alias("word"))
              .filter(F.col("word") != ""))
    return (stream.join(F.broadcast(words), "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("_np").alias("n_pieces"))
            .select(id_col, "n_words",
                    F.col("n_pieces").cast("long").alias("n_pieces"),
                    (F.col("n_pieces").cast("double")
                     / F.col("n_words").cast("double"))
                    .alias("pieces_per_word")))
