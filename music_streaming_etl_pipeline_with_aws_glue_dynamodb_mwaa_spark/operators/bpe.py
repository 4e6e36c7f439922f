"""Byte-pair-encoding merge learning — the tokenizer-training primitive
(Sennrich et al. 2016), distributed over the word VOCABULARY.

A training-data pipeline that ships a tokenizer needs the merge table
learned from its own corpus. Classic BPE never iterates over the corpus:
it iterates over the word-frequency vocabulary (words × counts), which is
zipf-small relative to the corpus — exactly the right Spark shape:

- one corpus pass builds (word, count) — the ONLY corpus-sized job;
- each merge round is one vocabulary-sized job: count adjacent symbol
  pairs weighted by word count (JVM ``zip_with`` against the 1-shifted
  symbol array — no position self-join), take the global best pair
  (count desc, then lexicographic — a deterministic total order), and
  rewrite every word's symbol array with a left-to-right greedy fold
  (``F.aggregate``: merge when the accumulator's tail is `a` and the
  element is `b`, matching the reference implementation's scan order on
  overlaps like "aaa");
- the vocabulary frame is eagerly checkpointed per round — the same
  iterative-loop discipline as graph.pagerank / cluster.py (a lazy plan
  would replay all prior rewrites every round).

The driver holds only the k merge rows and the 1-row argmax per round.
Iterative + data-dependent control flow ⇒ no SQL oracle; exact
equivalence with a pure-Python reference BPE is pinned in
tests/test_bpe.py (rows-only at the driver gate).

At 100 TB the corpus pass is a word-keyed groupBy (map-side combined);
the per-round cost is vocabulary-sized and independent of corpus scale —
this is why BPE trainers survive web-scale corpora at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_funcs import tokens
from ..materialize import materialize

#: end-of-word marker, appended as a separate final symbol so merges
#: can't cross word boundaries and word-final units stay distinct
#: (standard BPE convention).
EOW = "</w>"


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over whitespace tokens — the one corpus-sized pass."""
    return (docs.select(F.explode(tokens(text_col)).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("count")))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the vocab, weighted by word count."""
    syms = F.col("_syms")
    shifted = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))
    pairs = F.filter(
        F.zip_with(syms, shifted,
                   lambda a, b: F.struct(a.alias("a"), b.alias("b"))),
        lambda s: s["b"].isNotNull())
    return (vocab.select(F.explode(pairs).alias("_p"), "count")
            .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .agg(F.sum("count").alias("pair_count")))


def _apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Left-to-right greedy rewrite of every symbol array: …,a,b,… → …,ab,…"""
    la, lb = F.lit(a), F.lit(b)
    # F.get (not element_at): null-safe on the empty accumulator — ANSI
    # mode (Spark 4 default) makes out-of-bounds element_at an error
    merged = F.aggregate(
        F.col("_syms"), F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.concat(la, lb)))
        ).otherwise(F.concat(acc, F.array(x))))
    return vocab.withColumn("_syms", merged)


def _learn_bpe_local(counts: dict[str, int], n_merges: int,
                     min_pair_count: int) -> list[dict]:
    """Driver-local merge loop over a collected (word, count) dict — the
    classic Sennrich trainer. Bit-identical to the distributed loop (same
    greedy fold, same (count desc, a, b) tie-break); equality is pinned
    in tests/test_bpe.py."""
    syms = {w: list(w) + [EOW] for w in counts}
    merges: list[dict] = []
    for step in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, cnt in counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] = pc.get(p, 0) + cnt
        if not pc:
            break
        (a, b), cnt = min(pc.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_pair_count:
            break
        merges.append({"step": step, "left": a, "right": b,
                       "pair_count": cnt})
        for w, s in syms.items():
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return merges


#: collect the (word, count) vocab to the driver and run the merge loop
#: locally below this distinct-word count — each distributed round costs
#: two vocabulary jobs (argmax + rewrite checkpoint), so a small-vocab
#: corpus pays ~2·n_merges job latencies for work a dict loop does in
#: milliseconds. A 200k-word vocab is ~10 MB of driver memory (bounded);
#: web-scale vocabularies exceed the cap and take the distributed loop.
DRIVER_VOCAB_MAX = 200_000


def learn_bpe(docs: DataFrame, text_col: str = "text", *,
              n_merges: int = 8, min_pair_count: int = 2,
              driver_vocab_max: int = DRIVER_VOCAB_MAX) -> list[dict]:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table as
    dicts: {step, left, right, pair_count}. Stops early when no pair
    reaches ``min_pair_count``.

    The corpus-sized vocab pass is always distributed; the merge LOOP
    adaptively runs on the driver when the vocab fits ``driver_vocab_max``
    (one job instead of 2·n_merges — same adaptive-threshold pattern as
    cluster.connected_components' bounded union-find), falling back to
    the distributed round loop beyond it. Both paths produce identical
    merge tables (pinned in tests)."""
    counts_df = word_vocab(docs, text_col)
    if driver_vocab_max:
        head = counts_df.limit(driver_vocab_max + 1).collect()
        if len(head) <= driver_vocab_max:
            return _learn_bpe_local({r["word"]: r["count"] for r in head},
                                    n_merges, min_pair_count)
    vocab = materialize(counts_df
                        .withColumn("_syms",
                                    F.concat(F.split(F.col("word"), ""),
                                             F.array(F.lit(EOW)))))
    merges: list[dict] = []
    for step in range(n_merges):
        best = (_pair_counts(vocab)
                .orderBy(F.col("pair_count").desc(), F.col("a"), F.col("b"))
                .limit(1).collect())
        if not best or best[0]["pair_count"] < min_pair_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], best[0]["pair_count"]
        merges.append({"step": step, "left": a, "right": b,
                       "pair_count": cnt})
        # EAGER checkpoint: round k's plan must be one rewrite over a leaf,
        # not k nested rewrites (pagerank/cluster loop discipline)
        vocab = materialize(_apply_merge(vocab, a, b))
    return merges


def initial_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Round-0 adjacent-symbol pair counts (a, b, pair_count) over the
    char+EOW symbolization — EXACTLY the table the first merge round
    aggregates and argmaxes over. Pure integer arithmetic end to end, so
    unlike the iterative merge loop it HAS an exact SQL oracle: this is
    the driver-gate anchor for the BPE family (the loop itself stays
    pinned against the pure-Python reference in tests/test_bpe.py)."""
    vocab = word_vocab(docs, text_col).withColumn(
        "_syms", F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))))
    return _pair_counts(vocab)


def bpe_merge_table(docs: DataFrame, text_col: str = "text", *,
                    n_merges: int = 8,
                    min_pair_count: int = 2) -> DataFrame:
    """The learned merge table as a DataFrame (step, left, right,
    pair_count) — k rows, created on the driver from ``learn_bpe``."""
    spark = docs.sparkSession
    merges = learn_bpe(docs, text_col, n_merges=n_merges,
                       min_pair_count=min_pair_count)
    schema = "step int, left string, right string, pair_count long"
    if not merges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        [(m["step"], m["left"], m["right"], m["pair_count"])
         for m in merges], schema)


# --------------------------------------------------------------------------
# Encoding (tokenizer APPLY): replay the learned merges over the vocab,
# then map the corpus token stream through the encoded vocabulary.
# --------------------------------------------------------------------------

#: broadcast the encoded vocab into the corpus join below this row count
#: (zipf vocabularies of even web-scale corpora sit well under it; a
#: larger one falls back to a word-keyed shuffle join automatically).
BROADCAST_VOCAB_MAX = 2_000_000


def encode_words(words: DataFrame, merges: list[dict], *,
                 word_col: str = "word",
                 checkpoint_every: int = 8) -> DataFrame:
    """(word, pieces): apply an ordered merge table (``learn_bpe`` output)
    to every distinct word. Replaying merges in learned order with the
    same greedy left-to-right fold as the trainer reproduces the
    trainer's final symbolization exactly — rank-order encode and
    replay-encode coincide for a self-consistent merge table.

    Vocab-sized, pure JVM expressions; every ``checkpoint_every`` rounds
    the frame is checkpointed so plan depth stays bounded (the
    iterative-loop discipline of learn_bpe/pagerank — M chained
    array-folds would otherwise nest into one mega-expression).
    """
    enc = (words.select(F.col(word_col).alias("word")).distinct()
           .withColumn("_syms", F.concat(F.split(F.col("word"), ""),
                                         F.array(F.lit(EOW)))))
    for i, m in enumerate(merges):
        enc = _apply_merge(enc, m["left"], m["right"])
        if (i + 1) % checkpoint_every == 0:
            enc = materialize(enc)
    return enc.select("word", F.col("_syms").alias("pieces"))


def encode_docs(docs: DataFrame, merges: list[dict], *,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Tokenize every document with a learned merge table. Returns
    (id, pos, word, pieces) — one row per token OCCURRENCE, ``pos`` the
    0-based word position, ``pieces`` the BPE units.

    The corpus never sees the merge loop: the DISTINCT word vocab is
    encoded once (vocab-sized), then the token stream maps through ONE
    equi-join on the word — broadcast while the vocab is small, plain
    hash join beyond ``BROADCAST_VOCAB_MAX``. This is the only shape
    that survives a 100 TB corpus: per-token re-encoding would replay
    the merge fold per occurrence instead of per distinct word.
    """
    toks = docs.select(
        F.col(id_col).alias(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "word")) \
        .filter(F.col("word") != "")
    # EAGER: the vocab feeds both the size probe and the join — one
    # materialization, not a replay of the merge folds per consumer
    vocab = materialize(encode_words(toks.select("word"), merges))
    if vocab.count() <= BROADCAST_VOCAB_MAX:
        vocab = F.broadcast(vocab)
    return toks.join(vocab, "word").select(id_col, "pos", "word", "pieces")


def doc_bpe_stats(docs: DataFrame, merges: list[dict], *,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document tokenization profile under a learned merge table:
    (id, n_words, n_pieces, pieces_per_word) — the fertility /
    compression metric tokenizer work tracks per corpus slice.
    ``pieces_per_word`` is ONE IEEE division of exact longs."""
    enc = encode_docs(docs, merges, id_col=id_col, text_col=text_col)
    return (enc.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.size("pieces")).cast("long").alias("n_pieces"))
            .select(id_col, "n_words", "n_pieces",
                    (F.col("n_pieces").cast("double")
                     / F.col("n_words").cast("double"))
                    .alias("pieces_per_word")))
