from __future__ import annotations

import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.materialize import overlapped
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import dedup

from .conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_dedup_exact_deterministic_keep_first(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "x"), (9, "y")], "doc_id long, text string")
    out = dedup.dedup_exact(df, ["text"], ["doc_id"]).collect()
    assert {(r["doc_id"], r["text"]) for r in out} == {(1, "x"), (9, "y")}


def test_ngram_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")],
        "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_shingles_shorter_than_n(spark):
    # a 2-token doc has no trigrams; must not blow up on sequence(0, -1)
    df = spark.createDataFrame([(1, "a b"), (2, "a b c")], "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).collect()
    assert out == []  # doc 1 contributes no shingles; no common shingle pairs


def test_minhash_recall_vs_exact(spark):
    """MinHash-LSH with exact verification must recover (almost) all true
    pairs at the target band — SURVEY.md §7 risk 5 self-test."""
    docs = _docs(spark)
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_near_dup_pairs(
        docs, "doc_id", "text", n=3, num_hashes=48, bands=12, threshold=0.8).collect()}
    assert exact, "fixture must contain near-dup pairs at this band"
    # exact verification ⇒ no false positives
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}"


def test_minhash_signature_estimate_mode(spark):
    docs = _docs(spark).limit(100)
    est = dedup.minhash_near_dup_pairs(docs, "doc_id", "text", n=3,
                                       num_hashes=48, bands=12,
                                       threshold=0.5, verify_exact=False)
    for r in est.collect():
        assert 0.0 <= r["jaccard"] <= 1.0


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "spark fast table scan join"),
         (2, "spark fast table scan join"),          # identical -> hamming 0
         (3, "spark fast table scan merge"),         # one token swapped -> small
         (4, "zzz qqq www eee rrr")],                # unrelated -> large
        "doc_id long, text string")
    sig = {r["_id"]: r["_sig"] for r in df.select(
        F.col("doc_id").alias("_id"),
        dedup.simhash64(F.col("text")).alias("_sig")).collect()}
    assert sig[1] == sig[2]
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])

    pairs = dedup.simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert (1, 2) in {(r["doc_a"], r["doc_b"]) for r in pairs}
    hams = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert hams[(1, 2)] == 0


def test_embedding_near_dup_pairs(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    pairs = dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.99)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}  # colinear vectors; orthogonal excluded


def test_embedding_blocked_matches_expression_path(spark):
    """Blocked-matmul all-pairs must find exactly the same pair set as the
    expression path, with scores equal to ~1 ulp (pairwise vs sequential
    float summation), on the real synthetic embeddings."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {(r["doc_a"], r["doc_b"]): r["cosine"]
             for r in dedup.embedding_near_dup_pairs(
                 emb, "vec_id", "embedding", threshold=0.4,
                 prefilter_blocks=None).collect()}
    blocked = {(r["doc_a"], r["doc_b"]): r["cosine"]
               for r in dedup.embedding_near_dup_pairs_blocked(
                   emb, "vec_id", "embedding", threshold=0.4,
                   n_blocks=4).collect()}
    assert set(exact) == set(blocked)
    for k in exact:
        assert abs(exact[k] - blocked[k]) < 1e-12
    # default (prefilter + exact verify) must be BIT-identical to the pure
    # expression path — same pair set, same cosine bits
    fused = {(r["doc_a"], r["doc_b"]): r["cosine"]
             for r in dedup.embedding_near_dup_pairs(
                 emb, "vec_id", "embedding", threshold=0.4).collect()}
    assert fused == exact


def test_embedding_blocked_single_block_and_diagonal(spark):
    """n_blocks=1 (everything in the diagonal task) must still emit each
    unordered pair exactly once, no self-pairs."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [-1.0, 0.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    got = [(r["doc_a"], r["doc_b"]) for r in
           dedup.embedding_near_dup_pairs_blocked(
               df, "vec_id", "embedding", threshold=0.99, n_blocks=1).collect()]
    assert sorted(got) == [(1, 2)]


def test_prefix_filter_matches_full_join(spark):
    """The AllPairs prefix filter must lose no pair and change no jaccard
    value vs the full inverted-index join — on the real corpus, at a loose
    band (more pairs → stronger check)."""
    docs = _docs(spark)
    for t in (0.8, 0.5):
        full = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in dedup.ngram_jaccard_pairs(
                    docs, "doc_id", "text", n=3, threshold=t,
                    prefix_filter=False).collect()}
        pref = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in dedup.ngram_jaccard_pairs(
                    docs, "doc_id", "text", n=3, threshold=t).collect()}
        assert full == pref and len(full) > 0


def test_dedup_exact_fingerprint_key_matches_raw_key(spark):
    docs = _docs(spark)
    fp = dedup.dedup_exact(docs, ["text"], ["doc_id"])
    # raw-key reference: first doc_id per text under a plain window
    w = Window.partitionBy("text").orderBy("doc_id")
    raw = docs.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
    assert {r["doc_id"] for r in fp.collect()} == {r["doc_id"] for r in raw.collect()}
    # NULL keys group together under md5 too (md5(NULL) = NULL)
    df = spark.createDataFrame([(2, None), (1, None), (5, "x")],
                               "doc_id long, text string")
    out = dedup.dedup_exact(df, ["text"], ["doc_id"]).collect()
    assert {r["doc_id"] for r in out} == {1, 5}


def test_dedup_exact_shuffles_on_fingerprint_not_text(spark):
    plan = dedup.dedup_exact(_docs(spark), ["text"], ["doc_id"]) \
        ._jdf.queryExecution().executedPlan().toString()
    # md5 is projected below the exchange (computed once, pre-shuffle) and
    # the hash partitioning keys on that projection — not on raw text
    assert "md5(cast(text" in plan
    import re
    part_keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert part_keys and all(k.startswith("_w") for k in part_keys)


def test_minhash_incremental_equals_full_on_new_touching_pairs(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog
    docs = catalog.load_table(spark, SF_SMOKE, "documents")
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    old = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    idx = dedup.minhash_band_index(old, "doc_id", "text")
    inc = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
           dedup.minhash_near_dup_pairs_incremental(
               new, idx, old, "doc_id", "text", threshold=0.7).collect()}
    full = dedup.minhash_near_dup_pairs(docs, "doc_id", "text",
                                        threshold=0.7).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in full
            if r["doc_a"] in new_ids or r["doc_b"] in new_ids}
    assert inc == want and len(want) > 0


def test_containment_short_doc_inside_long(spark):
    """A short doc fully quoted inside a long one: containment fires where
    Jaccard is diluted below any useful band."""
    short = "the quick brown fox jumps over the lazy dog"
    long = short + " " + " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "completely different words here now")],
        "doc_id long, text string")
    pairs = dedup.containment_pairs(df, "doc_id", "text", n=3, threshold=0.9)
    got = [(r["doc_a"], r["doc_b"], r["containment"]) for r in pairs.collect()]
    assert got == [(1, 2, 1.0)]  # directed: 1 contained in 2, never 2 in 1
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert jac.collect() == []  # symmetric measure misses it


def test_containment_prefix_filter_matches_brute_force(spark):
    """Prefix-filtered candidates lose no pair vs the all-postings join."""
    docs = _docs(spark)
    fast = {(r["doc_a"], r["doc_b"]) for r in dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8).collect()}
    # brute force: overlap counts over ALL candidate pairs sharing a shingle
    sh = dedup._shingled(docs, "doc_id", "text", 3)
    a = sh.select(F.col("_id").alias("doc_a"), "_shingle")
    b = sh.select(F.col("_id").alias("doc_b"), "_shingle")
    cand = (a.join(b, "_shingle").filter("doc_a != doc_b")
            .select("doc_a", "doc_b").distinct())
    brute = {(r["doc_a"], r["doc_b"])
             for r in dedup._overlap_counts(cand, sh)
             .filter(F.col("_c").cast("double") / F.col("_na") >= 0.8)
             .collect()}
    assert fast == brute and brute, "fixture must contain containment pairs"


@pytest.mark.parametrize("threshold", (0.5, 0.8))
def test_jaccard_shared_postings_defaults_to_postings_verification(
        spark, threshold):
    """A caller sharing a postings stream gets zero-extra-shingling
    verification from those postings (the minhash-eval sharing
    contract); it must be BIT-identical to the array_intersect
    verification a plain call runs — same pairs, same jaccard bits."""
    docs = _docs(spark)
    sh = dedup._shingled(docs, "doc_id", "text", 3)
    shared = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=threshold,
        postings=sh).collect()))
    plain = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=threshold).collect()))
    assert shared == plain and shared


def test_minhash_eval_report(spark):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import (
        queries_extensions,  # noqa: F401 — populates the registry
        queries_reference,
    )
    fn, _sql = queries_reference.REGISTRY["neardup_minhash_eval"]
    r = fn(spark, SF_SMOKE).collect()[0]
    assert r["n_common"] <= min(r["n_exact"], r["n_approx"])
    if r["n_exact"]:
        assert r["recall"] == r["n_common"] / r["n_exact"]
        assert r["recall"] >= 0.9   # 48x12 bands at the 0.8 design point
    if r["n_approx"]:
        assert r["precision"] == r["n_common"] / r["n_approx"]


def test_overlapped_raises_first_failure_without_waiting(spark):
    """A failure on one driver thread surfaces at once: the sibling's
    long Spark job (15 s per task) is cancelled, not waited for."""

    def slow():
        return spark.range(0, 60, numPartitions=2).selectExpr(
            "reflect('java.lang.Thread', 'sleep', CAST(500 AS BIGINT))").collect()

    def boom():
        time.sleep(1.0)   # let the sibling's job start
        raise ValueError("injected")

    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="injected"):
        overlapped(spark, slow, boom)
    assert time.perf_counter() - t0 < 10


def test_overlapped_reports_every_failure(spark):

    def a():
        raise ValueError("a")

    def b():
        raise KeyError("b")

    with pytest.raises(ExceptionGroup) as info:
        overlapped(spark, a, b)
    assert sorted(type(e).__name__ for e in info.value.exceptions) == [
        "KeyError", "ValueError"]


def test_minhash_eval_surfaces_injected_failure(spark, monkeypatch):
    """A failure injected into the exact side of neardup_minhash_eval is
    what the query raises."""
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import (
        queries_extensions,
        queries_reference,
    )

    def broken(*args, **kwargs):
        raise RuntimeError("exact side down")

    monkeypatch.setattr(queries_extensions.dedup, "ngram_jaccard_pairs", broken)
    fn, _sql = queries_reference.REGISTRY["neardup_minhash_eval"]
    with pytest.raises(RuntimeError, match="exact side down"):
        fn(spark, SF_SMOKE)


def test_dedup_exact_incremental_equals_full_recompute(spark):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = dedup.fingerprint_index(corpus, ["text"])
    inc = {r["doc_id"] for r in dedup.dedup_exact_incremental(
        batch, idx, ["text"], ["doc_id"]).collect()}
    # full recompute over corpus ∪ batch, then restrict to batch survivors
    full = dedup.dedup_exact(docs, ["text"], ["doc_id"])
    want = {r["doc_id"] for r in full.collect() if r["doc_id"] % 2 == 1}
    # corpus docs win ties only when their text exists in corpus at all;
    # batch docs first-seen within batch otherwise — but a batch doc that
    # beat a corpus doc by id in the full recompute is still a DUP at
    # ingest time (its text is already in the corpus), so incremental
    # keeps a subset of the full-recompute batch survivors:
    assert inc <= want
    # and exactly those whose text is NOT in the corpus
    corpus_texts = {r["text"] for r in corpus.collect()}
    batch_first = {r["doc_id"] for r in dedup.dedup_exact(
        batch, ["text"], ["doc_id"]).collect()}
    by_id = {r["doc_id"]: r["text"] for r in batch.collect()}
    expect = {d for d in batch_first if by_id[d] not in corpus_texts}
    assert inc == expect and inc


def test_media_payload_dedup_collapses_planted_dups(spark):
    rows = [(1, bytearray(b"\x00\xffAA")), (2, bytearray(b"\x00\xffAA")),
            (3, bytearray(b"\x01"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    kept = dedup.dedup_exact(
        df.withColumn("_d", F.md5(F.hex("payload"))), ["_d"], ["media_id"])
    assert {r["media_id"] for r in kept.collect()} == {1, 3}


def test_postings_take_the_columnar_form_only_inside_a_scope(spark, monkeypatch):
    """Above the size threshold, _materialize_postings caches the postings
    as a columnar relation that the open scope releases on exit; with no
    scope open it takes the checkpoint form, so nothing is left cached."""
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import materialize
    import music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators.dedup as d
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = _docs(spark)
    # every postings frame is over a 0-byte threshold: the columnar form
    monkeypatch.setattr(d, "_POSTINGS_PERSIST_MIN_BYTES", 0)
    with materialize.scope():
        n = dedup.ngram_jaccard_pairs(docs, "doc_id", "text",
                                      n=3, threshold=0.5).count()
        assert not cache.isEmpty()
    assert cache.isEmpty()
    assert dedup.ngram_jaccard_pairs(docs, "doc_id", "text",
                                     n=3, threshold=0.5).count() == n
    assert cache.isEmpty()


def test_curation_pipeline_releases_postings_cache(spark, monkeypatch):
    """A scope around a curation build and its action leaves nothing of
    its own behind: no persistent RDD created after entry outlives the
    scope, no cached postings relation stays registered, and the returned
    frame is fully consumable inside it. RDD ids only grow, so the RDDs
    created after entry are those above an id taken at entry; earlier
    tests' checkpoints, which the ContextCleaner may free at any time,
    all sit below it."""
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import materialize
    import music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators.dedup as d
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import corpus
    spark.catalog.clearCache()
    sc = spark.sparkContext
    watermark = sc.emptyRDD().id()
    docs = _docs(spark)
    # force the columnar postings form
    monkeypatch.setattr(d, "_POSTINGS_PERSIST_MIN_BYTES", 0)
    with materialize.scope():
        out = corpus.curation_pipeline(docs)
        assert out.count() > 0
    left = {i: r.rdd() for i, r in sc._jsc.getPersistentRDDs().items() if i > watermark}
    assert not left, {i: (r.getCreationSite(), r.toDebugString()) for i, r in left.items()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
