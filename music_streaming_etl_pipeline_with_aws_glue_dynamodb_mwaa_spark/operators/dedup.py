"""Deduplication operators for LLM training-data pipelines (SURVEY.md §7 E1).

Four tiers, each with a different cost/recall envelope at 100 TB:

- ``dedup_exact``          hash group-by on a key (or the full text) —
                           one shuffle, keep-first deterministic.
- ``ngram_jaccard_pairs``  exact set-similarity join via a shingle inverted
                           index — no quadratic cross join: only documents
                           sharing a shingle meet in the shuffle.
- ``minhash_near_dup_pairs``  MinHash + banded LSH: signature is a fixed-size
                           sketch (H mins), candidate generation touches only
                           band-collisions — the 100 TB near-dup path.
- ``simhash64``            64-bit SimHash sketch (vectorized pandas UDF) +
                           hamming-banded pair generation.

The reference has no dedup surface (its ledger dedupes *files*, not records —
``REF/dags/music_etl_pipeline.py:34-45``); these are the extension operators
mandated by BASELINE.json, built Spark-first.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.text_funcs import shingles, tokens
from ..materialize import materialize

#: Size-routing point, from the round-10 fresh-JVM A/B on the FULL
#: ngram_jaccard_pairs query (identical 25600/2560 output pairs on every
#: variant): the RDD-object cache the lazy localCheckpoint creates is
#: fine while postings fit comfortably in memory as Java objects
#: (sf0.1: ckpt 3.3-4.2s vs persist 4.4-7.0s across the four dedup
#: queries; sf1: 10.6 vs 11.5s), but at 26M postings rows the
#: deserialized cache thrashes the heap and the SAME query reads
#: ckpt 316s vs persist 160s (compressed columnar InMemoryRelation,
#: ~10x smaller resident) — sf1→sf10 wall exponent 1.48 vs 1.14.
#: Threshold sits between the measured sf0.1 (255KB) and sf1 (2.6MB)
#: postings plan estimates — the two-decade probe pair (sf1, sf10) both
#: ride the scale form (persist read 11.5s vs ckpt's 10.6s at sf1,
#: noise-level, and 2x better at sf10), while the sf0.1 bench keeps the
#: small form that wins there; estimate-unknown defaults huge →
#: persist, the form that survives scale. Inside a ``materialize.scope()``
#: either form lives until the scope exits; without one the columnar
#: form is unavailable and postings of any size take the checkpoint form
#: (materialize.py).
_POSTINGS_PERSIST_MIN_BYTES = 1 << 20


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def dedup_exact(df: DataFrame, keys: list[str],
                order_by: list[str]) -> DataFrame:
    """Keep exactly one row per key group, deterministically (first under
    ``order_by`` ascending). ``dropDuplicates`` keeps an *arbitrary* row —
    unacceptable for reproducible corpus builds.

    One hash-shuffle on ``keys``; Spark ≥3.5 turns the rank-filter into
    WindowGroupLimit (partial top-1 before the shuffle).

    String-typed keys are replaced by their ``md5`` fingerprint in the
    window's partition spec — the row payload is untouched. Hash-partitioning and sort-comparing multi-KB
    document text inflates exchange bytes and comparator cost for no
    benefit; a 128-bit fingerprint is the only way this survives 100 TB
    documents. NULL keys group as NULL either way (md5(NULL)=NULL), and an
    md5 collision merging two distinct texts is the documented ~2^-64 trade.
    """
    dtypes = dict(df.dtypes)

    def _wkey(c: str):
        if dtypes.get(c) == "string":
            return F.md5(F.col(c))
        return F.col(c)

    w = Window.partitionBy(*[_wkey(c) for c in keys]).orderBy(
        *[F.col(c).asc() for c in order_by])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# N-gram Jaccard similarity join (exact)
# --------------------------------------------------------------------------

def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(text_col, n)).alias("_shingle"),
    )


def _materialize_postings(sh: DataFrame) -> DataFrame:
    """Materialize a multi-consumer postings stream by size (see
    _POSTINGS_PERSIST_MIN_BYTES for the A/B evidence): a lazy checkpoint
    under the threshold, the columnar cache above it, identical output
    either way. Shared by the jaccard and containment candidate
    generators. The columnar form holds only inside a
    ``materialize.scope()``, which releases it on exit; an unscoped call
    takes the checkpoint form at any size."""
    from .ids import _est_bytes
    return materialize(
        sh, eager=False,
        columnar=_est_bytes(sh) >= _POSTINGS_PERSIST_MIN_BYTES)


def _exact_jaccard_for_pairs(candidates: DataFrame, df: DataFrame,
                             id_col: str, text_col: str, n: int) -> DataFrame:
    """Exact shingle-set Jaccard for an explicit (doc_a, doc_b) candidate
    set. Each side's DISTINCT shingle array joins in whole (two hash joins
    keyed by doc id), and the overlap is one JVM ``array_intersect`` per
    candidate row — no explode, no re-shuffle of postings, cost strictly
    O(|candidates| · doc length). Shared by the prefix-filter and MinHash
    paths. Docs with no shingles never appear in candidates (they have no
    postings), so the null division can't arise for real candidates."""
    sets = df.select(F.col(id_col).alias("_id"),
                     shingles(text_col, n).alias("_set"))
    a = sets.select(F.col("_id").alias("doc_a"), F.col("_set").alias("_sa"))
    b = sets.select(F.col("_id").alias("doc_b"), F.col("_set").alias("_sb"))
    common = F.size(F.array_intersect("_sa", "_sb"))
    return (
        candidates.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b",
                (common.cast("double")
                 / (F.size("_sa") + F.size("_sb") - common)).alias("jaccard"))
    )


def _overlap_counts(candidates: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact set-overlap counts for candidate pairs computed FROM THE
    POSTINGS themselves — no re-shingling of raw text. Returns
    (doc_a, doc_b, _c, _na, _nb): |A∩B| is a count over the (pair ⋈
    postings-of-A ⋈ postings-of-B) equi-join chain, |A| and |B| come from
    a postings groupBy. Cost: one shuffle of sum(|A|) posting rows over
    the candidate set plus a composite-key hash join — every row is
    (ids, shingle), never a multi-KB array. With the postings already
    checkpointed by the caller this re-reads them for free. Every
    similarity in the family (Jaccard, containment, overlap coefficient)
    is one arithmetic projection of these three exact integers."""
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    pa = sh.select(F.col("_id").alias("doc_a"), "_shingle")
    pb = sh.select(F.col("_id").alias("doc_b"), "_shingle")
    common = (candidates.join(pa, "doc_a")
              .join(pb, ["doc_b", "_shingle"])
              .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("_c")))
    return (common
            .join(sizes.withColumnRenamed("_id", "doc_a")
                       .withColumnRenamed("_n", "_na"), "doc_a")
            .join(sizes.withColumnRenamed("_id", "doc_b")
                       .withColumnRenamed("_n", "_nb"), "doc_b"))


def _jaccard_via_postings(candidates: DataFrame, sh: DataFrame) -> DataFrame:
    return (_overlap_counts(candidates, sh)
            .select("doc_a", "doc_b",
                    (F.col("_c").cast("double")
                     / (F.col("_na") + F.col("_nb") - F.col("_c")))
                    .alias("jaccard")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, *,
                        n: int = 3, threshold: float = 0.8,
                        max_shingle_df: int | None = None,
                        prefix_filter: bool = True,
                        postings: DataFrame | None = None) -> DataFrame:
    """All document pairs with n-gram-shingle Jaccard ≥ threshold — EXACT.

    Default path is the AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07;
    Xiao et al., WWW'08): order each document's shingles by global rarity
    (docfreq asc, shingle asc — a deterministic total order) and index only
    its first ``sz - floor(t·sz) + 1`` shingles. If J(A,B) ≥ t, the first
    common shingle in that order provably falls inside BOTH prefixes, so the
    prefix-prefix equi-join loses no pair; candidates are then verified with
    exact common-counts over the FULL shingle sets. Hot (stopword-like)
    shingles have maximal docfreq, land last in the order, and drop out of
    prefixes — exactly the postings whose self-join is quadratic.
    (``floor`` rather than ``ceil(t·sz)-1`` keeps the prefix on the safe
    side of float rounding.) Two further lossless prunes ride the join
    predicate: the length-ratio filter (t·|B| ≤ |A| ≤ |B|/t) and PPJoin's
    positional filter (overlap upper bound from the matched positions must
    reach t/(1+t)·(|A|+|B|)) — both cut candidates before the distinct.

    ``prefix_filter=False``: plain inverted-index join over all postings —
    the self-test baseline. ``max_shingle_df`` additionally drops hotter-than
    -cap shingles from candidate GENERATION (both paths): still exact
    verification, but pairs whose every common shingle is hot are missed —
    a documented recall trade for adversarially hot corpora.

    Returns (doc_a, doc_b, jaccard), doc_a < doc_b. jaccard is one IEEE
    division of exact integers — deterministic, oracle-comparable.

    The exploded postings are materialized: they feed BOTH the docfreq
    aggregation and the prefix-ranked join side — without a barrier
    Catalyst re-runs the scan+explode per consumer (measured: the
    unmaterialized form costs 612s vs 160s at sf10). The materialization
    FORM routes by size (round 10, see _POSTINGS_PERSIST_MIN_BYTES): a lazy
    ``localCheckpoint`` RDD cache under the threshold, a columnar
    ``persist()`` above it — identical output either way.

    ``postings``: caller-supplied ``_shingled`` stream (_id, _shingle) —
    used as-is (no extra checkpoint; the caller owns materialization) so
    several shingle consumers over the same slice share ONE scan+explode.

    Candidates verify via whole-array re-shingling + ``array_intersect``
    (``_exact_jaccard_for_pairs``) UNLESS the caller shares a
    ``postings`` stream, which then verifies from those same postings
    with zero extra shingling. The round-12 same-JVM alternating A/B read
    arrays at parity at sf0.1 (3.16 s vs 3.26 s min-basis) and 0.77× at sf1
    (6.56 s vs 8.54 s) — the postings form pays a candidate×|doc|
    exploded-row shuffle plus a pair groupBy where the array form does
    one in-row intersect per candidate; the gap widens with candidate
    count (see ``containment_pairs`` for the 4× containment-band case).
    """
    candidates, sh = jaccard_candidates(
        df, id_col, text_col, n=n, threshold=threshold,
        max_shingle_df=max_shingle_df, prefix_filter=prefix_filter,
        postings=postings)
    verified = (_jaccard_via_postings(candidates, sh) if postings is not None
                else _exact_jaccard_for_pairs(candidates, df, id_col,
                                              text_col, n))
    return verified.filter(F.col("jaccard") >= threshold)


def jaccard_candidates(df: DataFrame, id_col: str, text_col: str, *,
                       n: int = 3, threshold: float = 0.8,
                       max_shingle_df: int | None = None,
                       prefix_filter: bool = True,
                       postings: DataFrame | None = None
                       ) -> tuple[DataFrame, DataFrame]:
    """The exact-jaccard path's candidate generator, exposed separately
    (the ``containment_candidates`` pattern) so the scale probe can
    normalize wall-clock growth by the measured candidate-pair count —
    a wall ratio alone can't distinguish "the data grew more candidates"
    from "the operator went superlinear per unit of work". Returns
    (candidates (doc_a, doc_b), shingle postings (_id, _shingle));
    semantics documented on ``ngram_jaccard_pairs``, which folds exact
    verification over this exact frame pair."""
    sh = (postings if postings is not None
          else _materialize_postings(_shingled(df, id_col, text_col, n)))
    joinable = sh
    docfreq = sh.groupBy("_shingle").agg(F.count(F.lit(1)).alias("_df"))
    if max_shingle_df is not None:
        joinable = sh.join(docfreq.filter(F.col("_df") <= max_shingle_df)
                           .select("_shingle"), "_shingle")
    size_pred = F.lit(True)
    if prefix_filter:
        w = Window.partitionBy("_id").orderBy(F.col("_df").asc(),
                                              F.col("_shingle").asc())
        wsz = Window.partitionBy("_id")
        joinable = (
            joinable.join(docfreq, "_shingle")
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_sz", F.count(F.lit(1)).over(wsz))
            .filter(F.col("_rn")
                    <= F.col("_sz") - F.floor(F.lit(threshold) * F.col("_sz")) + 1)
            .select("_id", "_shingle", "_sz", "_rn")
            # Deliberately NOT checkpointed despite the two consumers (the
            # a/b sides of the self-join below): a round-9 A/B measured an
            # eager localCheckpoint here regressing the FULL query 15× at
            # sf1 (7.4 s → 113 s, fresh-JVM min-of-2) — the barrier hides
            # the subtree's statistics from AQE, which otherwise plans the
            # whole candidate chain (broadcast choices + partition
            # coalescing) from observed shuffle sizes. The recompute this
            # allows is bounded: every logical count (prefix postings,
            # join matches, candidates) grows exactly 10×/decade
            # (BENCH_SF1_r09.json jaccard normalization).
        )
        # length-ratio filter: J(A,B) ≥ t ⇒ t·|B| ≤ |A| (|∩|≤|A|, |∪|≥|B|),
        # symmetric — pairs with incompatible set sizes never become
        # candidates. 1e-9 slack keeps the float product on the safe side.
        size_pred = (
            (F.col("a._sz").cast("double")
             >= F.lit(threshold) * F.col("b._sz") - 1e-9)
            & (F.col("b._sz").cast("double")
               >= F.lit(threshold) * F.col("a._sz") - 1e-9)
        )
        # PPJoin positional filter (Xiao et al., WWW'08 §3.2): when the
        # matched shingle sits at 1-based positions (pa, pb) of the global
        # rarity order, every OTHER common shingle of a qualifying pair's
        # FIRST match lies strictly after both, so
        # |A∩B| ≤ 1 + min(|A|−pa, |B|−pb); J ≥ t needs
        # |A∩B| ≥ t/(1+t)·(|A|+|B|). Matches whose bound can't reach that
        # are pruned pre-distinct. Lossless: for a true pair the bound holds
        # with equality-or-better at the first common shingle, which the
        # prefix theorem puts inside both prefixes. Later, looser matches
        # of the same pair may die — the pair still surfaces via its first.
        size_pred = size_pred & (
            (F.least(F.col("a._sz") - F.col("a._rn"),
                     F.col("b._sz") - F.col("b._rn")) + 1).cast("double")
            >= F.lit(threshold / (1.0 + threshold))
            * (F.col("a._sz") + F.col("b._sz")) - 1e-9
        )
    a, b = joinable.alias("a"), joinable.alias("b")
    candidates = (
        a.join(b, (F.col("a._shingle") == F.col("b._shingle"))
               & (F.col("a._id") < F.col("b._id")) & size_pred)
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct()
    )
    return candidates, sh


# --------------------------------------------------------------------------
# MinHash + banded LSH (approximate candidate generation, exact verification)
# --------------------------------------------------------------------------

# portable-hash constants (md5 scheme): 60-bit md5 prefix reduced mod the
# Mersenne prime 2^31−1, then 48 affine maps h_i = (base·A_i + i) mod P with
# A_i = ((2i+1)·Knuth) mod P — every op is exact BIGINT arithmetic both in
# Spark and in ANSI SQL, so the whole sketch is oracle-reproducible.
_MH_P = 2_147_483_647          # 2^31 − 1
_MH_MIX = 2_654_435_761        # Knuth multiplicative constant


def _mh_coeff(i: int) -> int:
    return ((2 * i + 1) * _MH_MIX) % _MH_P


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, *,
                       n: int = 3, num_hashes: int = 48,
                       hash_scheme: str = "xxhash64",
                       postings: DataFrame | None = None) -> DataFrame:
    """H-min signature per document: h_i = min over shingles of hash_i.
    One explode + one groupBy; the signature is a constant-size sketch
    regardless of document length.

    ``hash_scheme``: "xxhash64" (default — one JVM hash per (shingle, i),
    fastest) or "md5" — ONE md5 per shingle then 48 affine maps mod
    2^31−1, bit-reproducible in ANSI SQL so the full MinHash+LSH pipeline
    can be oracle-checked exactly (round-4 VERDICT item 7).

    ``postings``: pre-computed ``_shingled`` stream (columns _id,
    _shingle) — lets a caller running SEVERAL shingle consumers over the
    same corpus slice (e.g. the exact-vs-LSH eval) shingle ONCE behind a
    shared checkpoint instead of re-scanning + re-exploding per subtree."""
    if hash_scheme not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_scheme {hash_scheme!r} "
                         "(use 'xxhash64' or 'md5')")
    sh = postings if postings is not None \
        else _shingled(df, id_col, text_col, n)
    if hash_scheme == "md5":
        # hash ONCE per shingle row (round 12): referencing the md5-based
        # expression inside all 48 min-aggregates put 48 separate
        # md5(_shingle) calls into the partial-aggregate update path
        # (verified in the formatted plan) — the same non-CSE'd-across-
        # aggregates pattern sketches.hll_register_table already works
        # around. Projecting the reduced base first guarantees one digest
        # per row; the affine maps stay per-aggregate (they genuinely
        # differ). Same BIGINT arithmetic, same signatures.
        base = (F.conv(F.substring(F.md5(F.col("_shingle")), 1, 15), 16, 10)
                .cast("long") % F.lit(_MH_P))
        sh = sh.select("_id", base.alias("_mhb"))
        aggs = [F.min((F.col("_mhb") * F.lit(_mh_coeff(i)) + F.lit(i))
                      % F.lit(_MH_P)).alias(f"h{i}")
                for i in range(num_hashes)]
    else:
        aggs = [F.min(F.xxhash64(F.col("_shingle"), F.lit(i))).alias(f"h{i}")
                for i in range(num_hashes)]
    return sh.groupBy("_id").agg(*aggs)


def minhash_band_index(df: DataFrame, id_col: str, text_col: str, *,
                       n: int = 3, num_hashes: int = 48,
                       bands: int = 12,
                       hash_scheme: str = "xxhash64",
                       postings: DataFrame | None = None) -> DataFrame:
    """The persistable LSH index: (id, band, bhash) — ``bands`` rows per
    document, each a 64-bit hash of one signature band. Same (n,
    num_hashes, bands) ⇒ same rows on any run/engine, so a lake-resident
    corpus indexes ONCE at ingest and later batches probe it
    incrementally (``minhash_near_dup_pairs_incremental``) instead of
    re-sketching 100 TB. Write it partitioned/bucketed by (band, bhash)
    for co-located probe joins."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n=n,
                             num_hashes=num_hashes, hash_scheme=hash_scheme,
                             postings=postings)
    if hash_scheme == "md5":
        def _bh(bi: int):
            # md5 of "h0,h1,h2,h3|band" — string form is engine-portable
            return F.md5(F.concat(
                F.concat_ws(",", *[F.col(f"h{bi * r + j}").cast("string")
                                   for j in range(r)]),
                F.lit(f"|{bi}")))
    else:
        def _bh(bi: int):
            return F.xxhash64(*[F.col(f"h{bi * r + j}") for j in range(r)],
                              F.lit(bi))
    band_structs = F.array(*[
        F.struct(F.lit(bi).alias("band"), _bh(bi).alias("bhash"))
        for bi in range(bands)
    ])
    return sig.select(F.col("_id"), F.explode(band_structs).alias("b")) \
              .select("_id", F.col("b.band").alias("band"),
                      F.col("b.bhash").alias("bhash"))


def minhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str, *,
                           n: int = 3, num_hashes: int = 48, bands: int = 12,
                           threshold: float = 0.7,
                           verify_exact: bool = True,
                           hash_scheme: str = "xxhash64",
                           postings: DataFrame | None = None) -> DataFrame:
    """Banded-LSH near-dup pairs.

    Signature split into ``bands`` bands of r = H/bands rows; documents
    colliding in ≥1 band become candidates (collision prob ≈
    1-(1-j^r)^b — the S-curve centered near (1/b)^(1/r)). Candidates are
    then verified: exact shingle Jaccard when ``verify_exact`` (semi-joined
    back, so verification cost is |candidates| not |pairs|), else the
    signature-agreement estimate.

    Returns (doc_a, doc_b, jaccard ≥ threshold).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    banded = minhash_band_index(df, id_col, text_col, n=n,
                                num_hashes=num_hashes, bands=bands,
                                hash_scheme=hash_scheme, postings=postings)

    x, y = banded.alias("x"), banded.alias("y")
    candidates = (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bhash") == F.col("y.bhash"))
               & (F.col("x._id") < F.col("y._id")))
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .distinct()
    )

    if verify_exact:
        # verification restricted to candidate pairs (broadcast-able at sane
        # candidate counts; at scale use a shuffle join on doc_a). With a
        # caller-shared postings stream, verify from those SAME postings —
        # zero extra shingling (and the checkpoint makes the re-read free).
        if postings is not None:
            verified = _jaccard_via_postings(candidates, postings)
        else:
            verified = _exact_jaccard_for_pairs(candidates, df, id_col,
                                                text_col, n)
    else:
        sig = minhash_signatures(df, id_col, text_col, n=n,
                                 num_hashes=num_hashes,
                                 hash_scheme=hash_scheme,
                                 postings=postings)
        sa, sb = sig.alias("sa"), sig.alias("sb")
        agree = sum(
            F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        )
        verified = (
            candidates
            .join(sa, F.col("doc_a") == F.col("sa._id"))
            .join(sb, F.col("doc_b") == F.col("sb._id"))
            .select("doc_a", "doc_b",
                    (agree / F.lit(num_hashes)).cast("double").alias("jaccard"))
        )
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_near_dup_pairs_incremental(
        new_docs: DataFrame, corpus_index: DataFrame, corpus: DataFrame,
        id_col: str, text_col: str, *, n: int = 3, num_hashes: int = 48,
        bands: int = 12, threshold: float = 0.7,
        hash_scheme: str = "xxhash64") -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against an already-indexed
    corpus: only the new batch is shingled and sketched; the corpus
    contributes through its persisted ``minhash_band_index`` rows plus a
    candidate-restricted text fetch for exact verification. This is the
    ingest-time shape at 100 TB — per batch, cost is O(|batch|) sketching
    + an equi-join against the index, never a corpus rescan.

    Returns (doc_a, doc_b, jaccard ≥ threshold), doc_a < doc_b, every pair
    touching ≥1 new id — exactly the subset of the full recompute's pairs
    that involve the new batch (equivalence is pytest-pinned).
    Corpus-internal pairs are by design not re-derived.
    """
    new_index = minhash_band_index(new_docs, id_col, text_col, n=n,
                                   num_hashes=num_hashes, bands=bands,
                                   hash_scheme=hash_scheme)
    both = corpus_index.unionByName(new_index)
    x, nw = both.alias("x"), new_index.alias("y")
    candidates = (
        x.join(nw, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bhash") == F.col("y.bhash"))
               & (F.col("x._id") != F.col("y._id")))
        .select(F.least(F.col("x._id"), F.col("y._id")).alias("doc_a"),
                F.greatest(F.col("x._id"), F.col("y._id")).alias("doc_b"))
        .distinct()
    )
    # fetch + shingle ONLY the texts verification needs: candidate ids are
    # a semi-join against the lake, so the corpus is never re-shingled
    cand_ids = (candidates.select(F.col("doc_a").alias(id_col))
                .union(candidates.select("doc_b")).distinct())
    texts = (corpus.select(F.col(id_col), F.col(text_col)).unionByName(
                 new_docs.select(F.col(id_col), F.col(text_col)))
             .join(cand_ids, id_col, "left_semi"))
    verified = _exact_jaccard_for_pairs(candidates, texts, id_col,
                                        text_col, n)
    return verified.filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash (vectorized sketch; hamming-banded pairs)
# --------------------------------------------------------------------------

_SIMHASH_ROWS: dict[str, np.ndarray] = {}   # token → (64,) ±1 row, worker-lifetime


def _simhash_row(tok: str) -> np.ndarray:
    row = _SIMHASH_ROWS.get(tok)
    if row is None:
        h = np.uint64(int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big"))
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        row = np.where(bits == 1, 1, -1).astype(np.int64)
        _SIMHASH_ROWS[tok] = row
    return row


@F.pandas_udf(LongType())  # type object: a DDL string would need a live SparkContext at import
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens, md5-based (stable across
    processes — Python's builtin hash() is salted). Arrow-batched, and the
    md5→±1-bit-row map is cached per UNIQUE token for the worker's lifetime:
    cost is one md5 per vocabulary word, then one small matmul per doc."""
    out = np.empty(len(texts), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        cnt = Counter((t or "").split())
        if not cnt:
            out[i] = 0
            continue
        rows = np.stack([_simhash_row(tok) for tok in cnt])
        acc = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt)) @ rows
        sig = ((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str, *,
                           max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Band trick: split the 64-bit sketch into (max_hamming+1) chunks — any
    pair within the distance budget must agree exactly on ≥1 chunk
    (pigeonhole), so candidates come from equality joins on chunks, never a
    cross join. Exact hamming verifies candidates (bit_count is JVM-side).
    """
    nchunks = max_hamming + 1
    width = 64 // nchunks
    sig = df.select(F.col(id_col).alias("_id"),
                    simhash64(F.col(text_col)).alias("_sig"))

    chunk_structs = F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(F.col("_sig"), c * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("cval"))
        for c in range(nchunks)
    ])
    chunked = sig.select("_id", "_sig", F.explode(chunk_structs).alias("c")) \
                 .select("_id", "_sig", F.col("c.chunk").alias("chunk"), F.col("c.cval").alias("cval"))

    x, y = chunked.alias("x"), chunked.alias("y")
    return (
        x.join(y, (F.col("x.chunk") == F.col("y.chunk"))
               & (F.col("x.cval") == F.col("y.cval"))
               & (F.col("x._id") < F.col("y._id")))
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"),
                F.bit_count(F.col("x._sig").bitwiseXOR(F.col("y._sig"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Embedding-based near-dup (cosine ≥ threshold) — delegates to similarity.py
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(emb: DataFrame, id_col: str, vec_col: str, *,
                             threshold: float = 0.95,
                             prefilter_blocks: int | None = 8) -> DataFrame:
    """Exact cosine near-dup pairs (doc_a < doc_b), oracle-comparable.

    Default path: blocked-matmul candidate generation at ``threshold - 1e-9``
    (BLAS flops — see ``embedding_near_dup_pairs_blocked``), then the exact
    sequential-fold cosine recomputed for the surviving candidates only and
    filtered at the true threshold. Matmul and fold agree to ~1 ulp (~1e-16),
    so the 1e-9 margin cannot drop a qualifying pair — output bits are
    identical to the brute-force expression path at a tiny fraction of its
    cost (the same prefilter-then-verify shape as the MinHash pipeline).

    ``prefilter_blocks=None``: pure expression path, O(n²/2) pair loop with
    norms projected once per vector — the self-test baseline.
    """
    from .similarity import dot_expr, norm_expr
    a = emb.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("_va"),
                   norm_expr(vec_col).alias("_na"))
    b = emb.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("_vb"),
                   norm_expr(vec_col).alias("_nb"))
    if prefilter_blocks:
        cand = embedding_near_dup_pairs_blocked(
            emb, id_col, vec_col, threshold=threshold - 1e-9,
            n_blocks=prefilter_blocks).select("doc_a", "doc_b")
        pairs = cand.join(a, "doc_a").join(b, "doc_b")
    else:
        pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    return (
        pairs
        .select("doc_a", "doc_b",
                (dot_expr("_va", "_vb") / (F.col("_na") * F.col("_nb")))
                .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_pairs_blocked(emb: DataFrame, id_col: str, vec_col: str,
                                     *, threshold: float = 0.95,
                                     n_blocks: int = 8) -> DataFrame:
    """Exact cosine near-dup pairs via blocked matrix multiplication — the
    100 TB-shaped all-pairs path.

    Vectors are hashed into ``n_blocks`` blocks; every block PAIR (bi ≤ bj)
    becomes one task whose rows meet in a single shuffle (each row is
    replicated to the ~n_blocks/2 tasks it participates in), and the task
    scores its pair with one numpy matmul inside ``applyInPandas``. Choose
    n_blocks so two blocks fit executor memory: work is O(n²·d) either way,
    but flops run at BLAS speed instead of per-element expression
    interpretation, and no single task ever holds the corpus.

    Scores are float64 matmul — equal to the expression path within ~1 ulp
    (pairwise vs sequential summation), so this variant registers rows-only;
    exactness vs the expression path is asserted in tests/test_dedup.py.
    """
    spark = emb.sparkSession
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                      F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
                      .cast("int").alias("_blk"))
    # each row must reach every task that references its block, tagged with
    # the side it plays there (a row in block b is side-a of tasks (b, *)
    # and side-b of tasks (*, b); the diagonal task gets it once as side-a).
    # The task list is pre-exploded per participating block so the
    # replication is a broadcast EQUI-join — the naive formulation
    # (_blk = bi OR _blk = bj) has no hash strategy and plans as a
    # BroadcastNestedLoopJoin that scans all k·(k+1)/2 tasks per row.
    task_rows = []
    for bi in range(n_blocks):
        for bj in range(bi, n_blocks):
            task_rows.append((bi, bi, bj, True))
            if bi != bj:
                task_rows.append((bj, bi, bj, False))
    task_df = spark.createDataFrame(
        task_rows, "block int, bi int, bj int, _is_a boolean")
    replicated = (
        base.join(F.broadcast(task_df), F.col("_blk") == F.col("block"))
        .select("bi", "bj", "_id", "_v", "_is_a")
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        diag = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        a = pdf[pdf["_is_a"]]
        b = a if diag else pdf[~pdf["_is_a"]]
        if not len(a) or not len(b):
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []})
        ma = np.stack(a["_v"].to_numpy()).astype(np.float64)
        ma_n = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        if diag:
            mb_n = ma_n
        else:
            mb = np.stack(b["_v"].to_numpy()).astype(np.float64)
            mb_n = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma_n @ mb_n.T
        ia, ib = np.nonzero(sims >= threshold)
        ids_a, ids_b = a["_id"].to_numpy()[ia], b["_id"].to_numpy()[ib]
        lo, hi = np.minimum(ids_a, ids_b), np.maximum(ids_a, ids_b)
        keep = lo < hi                      # drop self-pairs + diagonal dupes
        out = pd.DataFrame({"doc_a": lo[keep], "doc_b": hi[keep],
                            "cosine": sims[ia, ib][keep]})
        return out.drop_duplicates(["doc_a", "doc_b"])

    id_type = dict(emb.dtypes)[id_col]
    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(score_block,
                       f"doc_a {id_type}, doc_b {id_type}, cosine double")
    )


def _overlap_counts_via_arrays(candidates: DataFrame, df: DataFrame,
                               id_col: str, text_col: str,
                               n: int) -> DataFrame:
    """(doc_a, doc_b, _c, _na, _nb) for an explicit candidate set via
    whole-array re-shingling — the containment twin of
    ``_exact_jaccard_for_pairs``: each side's DISTINCT shingle array joins
    in whole (two hash joins keyed by doc id) and |A∩B| is one JVM
    ``array_intersect`` per candidate row. ``shingles`` is array_distinct,
    so ``size(_set)`` IS the distinct-shingle size the postings groupBy
    computes. Candidates with zero overlap keep ``_c = 0`` here (the
    postings form drops them pre-threshold) — callers filter on the
    threshold either way, so the surviving rows are identical."""
    sets = df.select(F.col(id_col).alias("_id"),
                     shingles(text_col, n).alias("_set"))
    a = sets.select(F.col("_id").alias("doc_a"), F.col("_set").alias("_sa"))
    b = sets.select(F.col("_id").alias("doc_b"), F.col("_set").alias("_sb"))
    return (candidates.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b",
                    F.size(F.array_intersect("_sa", "_sb")).alias("_c"),
                    F.size("_sa").alias("_na"), F.size("_sb").alias("_nb")))


def containment_pairs(df: DataFrame, id_col: str, text_col: str, *,
                      n: int = 3, threshold: float = 0.8,
                      max_shingle_df: int | None = None) -> DataFrame:
    """DIRECTED near-dup pairs by set containment
    C(A→B) = |S(A)∩S(B)| / |S(A)| ≥ threshold — the asymmetric measure
    that catches a short document swallowed whole by a longer one
    (quotation, page-within-crawl, truncated mirror), where symmetric
    Jaccard is diluted to |A|/|B| and slips under any useful band.
    The standard corpus policy consumes this as "drop doc_a, keep doc_b".

    Returns (doc_a, doc_b, containment, n_a, n_b), doc_a ≠ doc_b, both
    directions possible; containment is ONE IEEE division of exact
    integers (oracle-hashable), n_a/n_b are the distinct-shingle sizes.

    Spark-first shape — the prefix-filter candidate step adapts the
    AllPairs bound to containment: if |A∩B| ≥ t·|A| then among A's
    ``|A| − floor(t·|A|) + 1`` globally-RAREST shingles at least one is
    in B (no assumption on |B| — containment has no length-ratio prune,
    which is exactly why the quadratic hot-shingle risk sits on the B
    side and ``max_shingle_df`` is the documented escape valve for
    boilerplate-heavy corpora). Candidates = A-prefix postings ⋈ B-full
    postings on the shingle; verification is never a doc×doc product.

    Candidates verify by whole-array re-shingling + one
    ``array_intersect`` per pair (``_overlap_counts_via_arrays``), not by
    the postings equi-join chain + pair groupBy (``_overlap_counts``).
    Same-JVM alternating A/B, min-basis: arrays 3.69 s vs postings 4.65 s at
    sf0.1 (0.79×) and 7.45 s vs 30.7 s at sf1 (0.24×) — the containment
    band generates ~10× jaccard's candidates (no length-ratio prune), so
    the postings form's candidate×|doc| exploded shuffle dominates while
    the array form grows ~linearly. Output verified identical at both
    scales.
    """
    candidates, _ = containment_candidates(
        df, id_col, text_col, n=n, threshold=threshold,
        max_shingle_df=max_shingle_df)
    counts = _overlap_counts_via_arrays(candidates, df, id_col, text_col, n)
    return (counts.select(
                "doc_a", "doc_b",
                (F.col("_c").cast("double") / F.col("_na"))
                .alias("containment"),
                F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"))
            .filter(F.col("containment") >= threshold))


def containment_candidates(df: DataFrame, id_col: str, text_col: str, *,
                           n: int = 3, threshold: float = 0.8,
                           max_shingle_df: int | None = None
                           ) -> tuple[DataFrame, DataFrame]:
    """The prefix-filtered candidate frame of :func:`containment_pairs`
    plus the full postings it verifies against — split out so scale
    probes can attribute wall-clock growth to measured candidate-set
    growth (data property) vs per-candidate cost (operator property)
    without re-deriving the blocking logic."""
    sh = _materialize_postings(_shingled(df, id_col, text_col, n))
    docfreq = sh.groupBy("_shingle").agg(F.count(F.lit(1)).alias("_df"))
    joinable = sh
    if max_shingle_df is not None:
        joinable = sh.join(docfreq.filter(F.col("_df") <= max_shingle_df)
                           .select("_shingle"), "_shingle")
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(),
                                          F.col("_shingle").asc())
    wsz = Window.partitionBy("_id")
    prefix = (joinable.join(docfreq, "_shingle")
              .withColumn("_rn", F.row_number().over(w))
              .withColumn("_sz", F.count(F.lit(1)).over(wsz))
              .filter(F.col("_rn") <= F.col("_sz")
                      - F.floor(F.lit(threshold) * F.col("_sz")) + 1)
              .select("_id", "_shingle"))
    a, b = prefix.alias("a"), joinable.alias("b")
    candidates = (
        a.join(b, (F.col("a._shingle") == F.col("b._shingle"))
               & (F.col("a._id") != F.col("b._id")))
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct())
    return candidates, sh


def shared_ngram_pairs(df: DataFrame, id_col: str, text_col: str, *,
                       n: int = 4, min_shared: int = 2,
                       max_docfreq: int | None = None) -> DataFrame:
    """Exact-substring overlap detector (the Lee et al. 2022 "Deduplicating
    Training Data" n-token-span family): every document pair sharing at
    least ``min_shared`` DISTINCT exact n-token grams, with the shared-gram
    count — the evidence table for cross-document boilerplate/quotation
    pruning that set-level Jaccard misses (two long docs sharing one
    verbatim paragraph have near-zero Jaccard but high span overlap).

    Spark-first shape: distinct (doc, gram) postings → docfreq roll-up →
    SINGLETON PRUNE (grams seen in one doc can't form a pair — at 100 TB
    this drops the overwhelming majority of postings before the join) →
    postings self-join on the gram → pair roll-up. All equi-joins; never
    doc×doc.

    ``max_docfreq`` additionally drops ubiquitous grams (headers, license
    boilerplate) whose postings would explode quadratically — the same
    stop-gram cut the suffix-array pipelines apply. None = keep all.

    The gram postings feed TWO consumers (the docfreq roll-up and the
    pruned join side), so they ride the same size-routed materialization
    barrier as the jaccard chain (round 12; previously the scan+explode
    re-ran per consumer — the same barrier ``ngram_jaccard_pairs``
    puts on its shingle postings).
    """
    sh = _materialize_postings(
        df.select(F.col(id_col).alias("_id"),
                  F.explode(shingles(text_col, n)).alias("_g")))
    freq = sh.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    cond = F.col("_df") > 1
    if max_docfreq is not None:
        cond = cond & (F.col("_df") <= max_docfreq)
    keep = freq.filter(cond).select("_g")
    pruned = sh.join(keep, "_g")
    a = pruned.select(F.col("_id").alias("doc_a"), "_g")
    b = pruned.select(F.col("_id").alias("doc_b"), "_g")
    return (a.join(b, "_g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared_grams"))
            .filter(F.col("n_shared_grams") >= min_shared))


def bow_cosine_pairs(df: DataFrame, id_col: str, text_col: str, *,
                     threshold: float = 0.8,
                     max_docfreq: int | None = None) -> DataFrame:
    """WEIGHTED near-dup detector: cosine similarity over exact
    bag-of-words term-frequency vectors — the frequency-aware sibling of
    set-level Jaccard (``ngram_jaccard_pairs``): two docs that repeat the
    same vocabulary with the same emphasis score high even when their
    shingle sets diverge, and a doc that shares words only via a few
    ubiquitous terms scores low because tf weighting dilutes them.

    Exact end-to-end under the repo's portability idiom: tf vectors are
    BIGINT counts, the pair dot product is a BIGINT sum of tf·tf over the
    shared-term postings join, norms are BIGINT Σtf² per doc, and the one
    float step — dot / (sqrt(‖a‖²)·sqrt(‖b‖²)) — is a fixed tree of
    correctly-rounded IEEE ops (sqrt/·//), so the cosine DOUBLE itself
    hash-matches a SQL oracle (ln would not; sqrt does).

    Spark-first shape, same skeleton as :func:`shared_ngram_pairs`:
    (doc, term, tf) → docfreq SINGLETON PRUNE (a term in one doc can't
    contribute to any pair) → postings self-join on the term → ONE pair
    roll-up summing tf_a·tf_b → broadcast-or-shuffle norm join → filter.
    Never doc×doc. ``max_docfreq`` is the hot-term valve: stop-word-like
    terms whose postings lists explode quadratically at corpus scale are
    dropped from CANDIDATE GENERATION AND the dot product (documented
    semantics change: cosine over the df-capped vocabulary — the
    standard stop-list trade every weighted AllPairs system makes;
    Bayardo et al.'s max-weight prefix filter is the exactness-preserving
    upgrade and lives in the same postings shape). None = exact.
    """
    tf = (df.select(F.col(id_col).alias("_id"),
                    F.explode(tokens(text_col)).alias("_t"))
          .groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("_tf")))
    freq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    cond = F.col("_df") > 1
    if max_docfreq is not None:
        cond = cond & (F.col("_df") <= max_docfreq)
        tf = tf.join(freq.filter(F.col("_df") <= max_docfreq)
                     .select("_t"), "_t")
    norms = tf.groupBy("_id").agg(
        F.sum(F.col("_tf") * F.col("_tf")).alias("_nsq"))
    pruned = tf.join(freq.filter(cond).select("_t"), "_t")
    a = pruned.select(F.col("_id").alias("doc_a"), "_t",
                      F.col("_tf").alias("_tfa"))
    b = pruned.select(F.col("_id").alias("doc_b"), "_t",
                      F.col("_tf").alias("_tfb"))
    dots = (a.join(b, "_t")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("_tfa") * F.col("_tfb")).alias("dot")))
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("_na").cast("double"))
              * F.sqrt(F.col("_nb").cast("double"))))
    return (dots
            .join(norms.select(F.col("_id").alias("doc_a"),
                               F.col("_nsq").alias("_na")), "doc_a")
            .join(norms.select(F.col("_id").alias("doc_b"),
                               F.col("_nsq").alias("_nb")), "doc_b")
            .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
            .filter(F.col("cosine") >= F.lit(threshold)))


def bow_cosine_pairs_dense(df: DataFrame, id_col: str, text_col: str, *,
                           threshold: float = 0.8,
                           max_block_rows: int = 2000,
                           max_vocab: int = 65536,
                           max_blocks: int = 2048) -> DataFrame:
    """Exact bag-of-words cosine pairs via BLOCKED DENSE MATMUL — the
    physical twin of :func:`bow_cosine_pairs` for SMALL-VOCABULARY (or
    feature-hashed) corpora, where the postings self-join degenerates:
    with V terms shared by nearly every doc, postings output is
    Σ_t df_t² ≈ V·n² rows — a shuffle volume that dwarfs the n²·V integer
    MACs the dot products actually need. Measured at sf0.1 (n=5000,
    V=31): postings 112 s, dense blocks ~2 s — same rows, same hashes.

    Same exact arithmetic as the postings path, so the SAME SQL oracle
    hash-matches: per-block-pair numpy int64 matmul gives the BIGINT
    dot, ‖·‖² are int64 row sums, cosine is the identical IEEE tree
    dot / (sqrt(na)·sqrt(nb)) in float64.

    Spark-first block shape (the replicated block-pair pattern of
    semdedup / embedding_near_dup_pairs_blocked): docs hash into
    B = ⌈n/max_block_rows⌉ blocks; every (bi ≤ bj) pair is one task;
    rows replicate to their tasks via a broadcast EQUI-join on
    (block, side); per task ≤ 2·max_block_rows sparse rows densify to an
    int64 (rows × V) matrix and one BLAS-shaped matmul scores the tile.
    Flops are the inherent n²·V; per-task memory is bounded by the knob
    regardless of corpus size. Driver-side state (round-5 ADVICE made
    the envelope honest): two scalars (n and V) PLUS the block-pair
    task table itself — O(B²) tuples for B = ⌈n/max_block_rows⌉, built
    in driver Python. ``max_blocks`` caps it (default 2048 → ≤ ~4.2M
    task rows ≈ ~100 MB): past that the all-pairs flop count is the
    real problem anyway — raise and send the caller to the
    LSH/prefix-filter paths instead of melting the driver first.

    ``max_vocab`` guards the dense representation (V·max_block_rows·8 B
    per matrix): beyond it, raise — the caller should feature-hash down
    or use the postings path, whose prefix-filter upgrade path is
    documented there.
    """
    spark = df.sparkSession
    tf = materialize(           # read 3× below: vocab, n, vectors
        df.select(F.col(id_col).alias("_id"),
                  F.explode(tokens(text_col)).alias("_t"))
        .groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("_tf")))
    vocab = (tf.select("_t").distinct()
             .withColumn("_ti", F.row_number().over(
                 Window.orderBy("_t")) - 1))
    # ONE scalar job for both envelope checks (round 12): the separate
    # vocab.count() + distinct-id count() paid two sequential job rounds
    # over the checkpointed tf for two driver scalars
    n_vocab, n_docs = tf.agg(
        F.countDistinct("_t"), F.countDistinct("_id")).first()
    if n_vocab > max_vocab:
        raise ValueError(
            f"dense path needs vocab ≤ {max_vocab}, got {n_vocab}: "
            "feature-hash the terms or use bow_cosine_pairs (postings)")
    n_blocks = max(1, -(-n_docs // max_block_rows))
    if n_blocks > max_blocks:
        raise ValueError(
            f"dense path would build {n_blocks}² block-pair tasks on the "
            f"driver (> max_blocks={max_blocks}); at this corpus size the "
            "all-pairs flop count is the bottleneck — use the LSH/"
            "prefix-filter near-dup paths, or raise max_block_rows")
    task_rows = []
    for bi in range(n_blocks):
        for bj in range(bi, n_blocks):
            task_rows.append((bi, bi, bj, True))
            if bi != bj:
                task_rows.append((bj, bi, bj, False))
    tasks = spark.createDataFrame(
        task_rows, "block int, bi int, bj int, _is_a boolean")

    vecs = (tf.join(F.broadcast(vocab), "_t")
            .groupBy("_id")
            .agg(F.collect_list(F.col("_ti")).alias("_ix"),
                 F.collect_list(F.col("_tf")).alias("_tv"))
            .withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")),
                                       F.lit(n_blocks)).cast("int"))
            .join(F.broadcast(tasks), F.col("_blk") == F.col("block"))
            .select("bi", "bj", "_is_a", "_id", "_ix", "_tv"))

    V = n_vocab
    thr = float(threshold)

    def _dense(rows: pd.DataFrame) -> np.ndarray:
        m = np.zeros((len(rows), V), dtype=np.int64)
        for i, (ix, tv) in enumerate(zip(rows["_ix"], rows["_tv"])):
            m[i, np.asarray(ix, dtype=np.int64)] = np.asarray(
                tv, dtype=np.int64)
        return m

    def tile(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_a": pd.Series([], dtype="int64"),
                              "doc_b": pd.Series([], dtype="int64"),
                              "dot": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        diag = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        a = pdf[pdf["_is_a"]]
        b = a if diag else pdf[~pdf["_is_a"]]
        if not len(a) or not len(b):
            return empty
        ma, mb = _dense(a), (None if diag else _dense(b))
        if diag:
            mb = ma
        sa = (ma * ma).sum(axis=1)                 # exact int64 ‖·‖²
        sb = sa if diag else (mb * mb).sum(axis=1)
        # numpy integer matmul has no BLAS kernel (it is a naive loop);
        # float64 dgemm computes the SAME exact integers whenever every
        # partial sum stays under 2^53 — the entries are non-negative,
        # so partial sums are bounded by the final dot, and every dot is
        # ≤ √(max‖a‖²·max‖b‖²) by Cauchy–Schwarz. Guard on that bound
        # (measured 10× per tile); overflow-risk tiles keep the exact
        # int64 loop.
        if math.sqrt(float(sa.max())) * math.sqrt(float(sb.max())) \
                < float(2 ** 52):
            dots = (ma.astype(np.float64)
                    @ (mb.T.astype(np.float64))).astype(np.int64)
        else:
            dots = ma @ mb.T                       # exact int64 == BIGINT
        na = np.sqrt(sa.astype(np.float64))
        nb = na if diag else np.sqrt(sb.astype(np.float64))
        cos = dots.astype(np.float64) / (na[:, None] * nb[None, :])
        ia, ib = np.nonzero(cos >= thr)
        ids_a = a["_id"].to_numpy()[ia]
        ids_b = b["_id"].to_numpy()[ib]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi                 # drop self + diagonal mirror dupes
        out = pd.DataFrame({"doc_a": lo[keep], "doc_b": hi[keep],
                            "dot": dots[ia, ib][keep],
                            "cosine": cos[ia, ib][keep]})
        return out.drop_duplicates(["doc_a", "doc_b"])

    return (vecs.groupBy("bi", "bj")
            .applyInPandas(tile, ("doc_a long, doc_b long, "
                                  "dot long, cosine double")))


def edit_verify_pairs(pairs: DataFrame, docs: DataFrame, id_col: str,
                      text_col: str, *, min_sim: float = 0.0) -> DataFrame:
    """SEQUENCE-LEVEL verification of candidate near-dup pairs: exact
    Levenshtein distance + normalized edit similarity
    ``1 − lev / max(len_a, len_b)`` appended to each (doc_a, doc_b) row.

    The third stage of the production dedup pipeline (candidate-gen →
    set-similarity filter → sequence verify): shingle Jaccard is
    order-blind, so two documents that permute the same sentences score
    j ≈ 1 while being different texts — the edit check is the
    order-SENSITIVE authority, and it is affordable precisely because it
    runs on |candidates|, not |pairs| (Levenshtein is O(len²) per pair;
    running it all-pairs would be the classic quadratic blowup the LSH
    stages exist to avoid).

    Exactness: ``levenshtein`` is built-in unit-cost character edits on
    BOTH engines (JVM-side in Spark — no UDF), the distance is an exact
    BIGINT and the similarity one fixed IEEE division — hash-exact.

    Scale shape: two hash joins keyed by doc id (broadcast-able when the
    candidate set is small, shuffle otherwise — left to AQE), then a
    row-local expression. Texts travel the exchange once per side; at
    100 TB pair the ids first and semi-join ``docs`` down to referenced
    ids before the text join if candidates touch a small doc subset.
    """
    a = docs.select(F.col(id_col).alias("doc_a"),
                    F.col(text_col).alias("_ta"))
    b = docs.select(F.col(id_col).alias("doc_b"),
                    F.col(text_col).alias("_tb"))
    lev = F.levenshtein(F.col("_ta"), F.col("_tb")).cast("long")
    sim = (F.lit(1.0)
           - lev.cast("double")
           / F.greatest(F.length("_ta"), F.length("_tb")).cast("double"))
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .withColumn("edit_distance", lev)
            .withColumn("edit_sim", sim)
            .drop("_ta", "_tb")
            .filter(F.col("edit_sim") >= F.lit(min_sim)))


def cross_source_overlap(df: DataFrame, id_col: str, text_col: str,
                         group_col: str, *, prefix_k: int = 8) -> DataFrame:
    """Corpus-governance overlap matrix: for every pair of sources, how
    many distinct ``prefix_k``-token HEAD fingerprints they share —
    the boilerplate/provenance-leak detector (shared headers, mirrored
    feeds, re-crawled subsets) run BEFORE committing to a source mix.
    Head fingerprints rather than whole-text md5 because real mirrored
    content diverges in tails (ads, timestamps) while heads survive; the
    whole-text variant is this same query with ``fingerprint_index``'s
    full fingerprint.

    Shape: doc → one (fp, group) row (md5 of the first-k-token prefix),
    DISTINCT, then a self-equi-join on fp with group_a < group_b and one
    count-distinct roll-up — Σdf² bounded because head-fp frequencies
    are dedup'd per source first. Output is at most |sources|² rows:
    driver-safe to act on, never to compute from.
    """
    fp = (df.select(
            F.md5(F.concat_ws(" ", F.slice(tokens(text_col), 1, prefix_k)))
            .alias("_fp"),
            F.col(group_col).alias("_g"))
          .distinct())
    a = fp.select(F.col("_fp"), F.col("_g").alias("source_a"))
    b = fp.select(F.col("_fp"), F.col("_g").alias("source_b"))
    return (a.join(b, "_fp")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.countDistinct("_fp").alias("n_shared_prefixes")))


# --------------------------------------------------------------------------
# Incremental exact dedup (ingest-time shape)
# --------------------------------------------------------------------------

_US = "\x1f"   # unit separator: collision-proof multi-column concat


def fingerprint_index(df: DataFrame, cols: list[str]) -> DataFrame:
    """(fp): distinct md5 fingerprints of ``cols`` — the tiny persisted
    index an ingest pipeline keeps instead of rescanning the corpus.
    Multi-column keys join on the unit separator (the ``merge.table_diff``
    idiom) so ("a","b c") never collides with ("a b","c")."""
    return df.select(_fp_expr(cols).alias("fp")).distinct()


def _fp_expr(cols: list[str]):
    return F.md5(F.concat_ws(_US, *[F.col(c).cast("string") for c in cols]))


def dedup_exact_incremental(batch: DataFrame, index: DataFrame,
                            keys: list[str],
                            order_by: list[str]) -> DataFrame:
    """Exact dedup of a NEW batch against an already-deduped corpus,
    touching only the batch and the fingerprint index — the ingest-time
    twin of ``dedup_exact`` (same shape as the MinHash incremental path:
    the corpus contributes index rows, never a rescan):

    1. within-batch keep-first (``dedup_exact`` semantics), then
    2. LEFT ANTI against the corpus fingerprint index.

    At 100 TB the index is |distinct keys| × 16 B and joins as a plain
    hash join keyed on the fingerprint; the batch is the only
    fact-shaped input. Equivalence with full-recompute ``dedup_exact``
    over corpus ∪ batch is pinned in tests/test_dedup.py.
    """
    within = dedup_exact(batch, keys, order_by)
    return (within.withColumn("_fp", _fp_expr(keys))
            .join(index, F.col("_fp") == index["fp"], "left_anti")
            .drop("_fp"))


def grouped_minhash_signatures(df: DataFrame, group_cols: str | list[str],
                               text_col: str, *, n: int = 3,
                               num_hashes: int = 48) -> DataFrame:
    """Group-grain MinHash signature in LONG form: (*group, i, h) — h_i is
    the min over ALL shingles of ALL the group's documents under the md5
    affine scheme (the portable constants above), so the whole sketch is
    exact BIGINT arithmetic and oracle-reproducible.

    min is associative/commutative, so these signatures are MERGEABLE the
    way the HLL columns (E48) are: sketch any sub-grain (per partition,
    per release, per (group, lang)) and min-merge upward — a 100 TB corpus
    sketches once at ingest and every later rollup touches groups × hashes
    rows, never the text. The groupBy is a map-side-partial hash agg keyed
    by the group; output is |groups| × num_hashes rows.
    """
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    sh = df.select(*gcols, F.explode(shingles(text_col, n)).alias("_shingle"))
    base = (F.conv(F.substring(F.md5(F.col("_shingle")), 1, 15), 16, 10)
            .cast("long") % F.lit(_MH_P))
    # md5 ONCE per shingle row (round 12, same fix as minhash_signatures:
    # the 48 min-aggregates otherwise each carry their own md5 call)
    sh = sh.select(*gcols, base.alias("_mhb"))
    wide = sh.groupBy(*gcols).agg(
        *[F.min((F.col("_mhb") * F.lit(_mh_coeff(i)) + F.lit(i))
                % F.lit(_MH_P)).alias(f"h{i}") for i in range(num_hashes)])
    comps = F.array(*[F.struct(F.lit(i).alias("i"), F.col(f"h{i}").alias("h"))
                      for i in range(num_hashes)])
    return (wide.select(*gcols, F.explode(comps).alias("_c"))
            .select(*gcols, F.col("_c.i").cast("long").alias("i"),
                    F.col("_c.h").alias("h")))


def grouped_minhash_similarity(df: DataFrame, group_col: str, text_col: str,
                               *, n: int = 3,
                               num_hashes: int = 48) -> DataFrame:
    """Pairwise estimated shingle-set Jaccard BETWEEN groups (e.g. corpus
    sources): join the long-form signatures on equal (i, h) components and
    count agreements — exactly the banded-LSH trick at band size 1, so no
    group-pair materializes unless it shares at least one component (the
    equi-join IS the candidate filter; never an all-pairs product).
    est_jaccard = matches / num_hashes is ONE IEEE division of exact ints.
    Zero-agreement pairs (estimate 0) are by construction absent.

    The signature frame is localCheckpoint-ed (|groups| × num_hashes rows)
    so the corpus is sketched ONCE — without it both self-join sides
    re-run the full shingle scan (verified in the physical plan)."""
    sig = grouped_minhash_signatures(df, group_col, text_col,
                                     n=n, num_hashes=num_hashes)
    sig = materialize(sig)
    a = sig.select(F.col(group_col).alias("ga"), "i", "h")
    b = sig.select(F.col(group_col).alias("gb"), "i", "h")
    return (
        a.join(b, ["i", "h"]).where(F.col("ga") < F.col("gb"))
        .groupBy(F.col("ga").alias(f"{group_col}_a"),
                 F.col("gb").alias(f"{group_col}_b"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .withColumn("est_jaccard",
                    F.col("n_matches") / F.lit(float(num_hashes)))
    )


def dup_attribution_by_group(docs: DataFrame, group_col: str,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Exact-duplicate ATTRIBUTION per group (source/shard/crawl): for
    each group, (group, n_docs, n_dup_docs, n_cross_group_docs,
    dup_rate) — n_dup_docs counts docs whose md5 content fingerprint
    occurs more than once in the WHOLE corpus, n_cross_group_docs those
    whose fingerprint also occurs in ANOTHER group. The curation
    dashboard that tells you which source is self-plagiarizing and
    which pairs of sources mirror each other — the decision input for
    per-source dedup order (RefinedWeb-style provenance accounting).

    Exactness: all counts BIGINT, dup_rate the ONE final division.
    Plan: fingerprint projection (map-side md5), one fingerprint-grain
    aggregation (count + distinct-group count via a (fp, group) grain
    pre-step — no countDistinct expand), one equi-join back on the
    128-bit key, one group roll-up. Fingerprint grain ≈ corpus size,
    hash-partitioned — skew-safe.
    """
    fp = docs.select(F.col(group_col).alias("_g"),
                     F.md5(F.col(text_col)).alias("_fp"))
    per_fp_grp = (fp.groupBy("_fp", "_g")
                  .agg(F.count(F.lit(1)).alias("_c")))
    per_fp = (per_fp_grp.groupBy("_fp")
              .agg(F.sum("_c").alias("_tot"),
                   F.count(F.lit(1)).alias("_ngroups")))
    j = per_fp_grp.join(per_fp, "_fp")
    return (j.groupBy(F.col("_g").alias(group_col))
            .agg(F.sum("_c").alias("n_docs"),
                 F.sum(F.when(F.col("_tot") > 1, F.col("_c"))
                       .otherwise(F.lit(0))).alias("n_dup_docs"),
                 F.sum(F.when(F.col("_ngroups") > 1, F.col("_c"))
                       .otherwise(F.lit(0))).alias("n_cross_group_docs"))
            .withColumn("dup_rate",
                        F.col("n_dup_docs").cast("double")
                        / F.col("n_docs").cast("double")))
