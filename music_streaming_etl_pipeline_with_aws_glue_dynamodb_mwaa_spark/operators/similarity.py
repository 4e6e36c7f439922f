"""Similarity search over embedding columns (SURVEY.md §7 E2).

Two paths over ``array<float>`` embeddings:

- ``cosine_topk``       brute-force exact top-k: cross join against a
                        (broadcast) query set, JVM-side expression math,
                        rank window. The correctness baseline — and exactly
                        reproducible against a SQL oracle (double-cast dot
                        products are bit-identical across engines).
- ``cosine_topk_lsh``   random-hyperplane LSH: 'sketch → bucket equi-join →
                        exact re-rank inside buckets'. Candidate generation
                        is an equi-join, so the 100 TB path never broadcasts
                        or crosses the full corpus; recall is tunable via
                        plane count / multi-probe and is self-tested against
                        brute force (tests/test_similarity.py).

Sketching uses a vectorized pandas UDF (one numpy matmul per Arrow batch) —
the documented exception to the no-Python rule: 64-dim float math per row is
where built-in expressions stop being the fast path. Exact scoring stays in
expressions for oracle comparability.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from .topk import top_k_per_group


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ with per-element double promotion, sequential accumulation —
    bit-identical to DuckDB's list_dot_product on DOUBLE[]."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def norm_expr(a: Column | str) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10, *,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbours per query vector.

    ``queries`` is small (it's a query set) → broadcast; the corpus side
    streams through map-side scoring with no shuffle until the final
    per-query top-k (which WindowGroupLimit keeps partial).
    Ties broken by neighbour id for determinism.

    Norms are projected once per row on each side BEFORE the join (same
    sequential-fold bits as computing them per pair, 3× fewer flops).
    """
    q = queries.select(F.col(query_id_col).alias("_qid"),
                       F.col(vec_col).alias("_qv"),
                       norm_expr(vec_col).alias("_qn"))
    scored = (
        emb.withColumn("_n", norm_expr(vec_col))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            (dot_expr(vec_col, "_qv") / (F.col("_n") * F.col("_qn")))
            .alias("cosine"),
        )
    )
    return top_k_per_group(scored, [query_id_col], "cosine", k,
                           tie_break=["neighbor_id"])


# --------------------------------------------------------------------------
# LSH-bucketed variant
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).randn(n_planes, dim)


def _bucket_udf(planes: np.ndarray):
    @F.pandas_udf(IntegerType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())              # (batch, dim)
        signs = (m @ planes.T) > 0                 # (batch, n_planes)
        return pd.Series(signs.dot(1 << np.arange(planes.shape[0])).astype(np.int32))
    return bucket


def with_lsh_bucket(df: DataFrame, vec_col: str, *, dim: int,
                    n_planes: int = 12, seed: int = 42,
                    out_col: str = "_bucket") -> DataFrame:
    """Attach the random-hyperplane bucket id (sign-bit sketch packed into an
    int). Same (dim, n_planes, seed) ⇒ same buckets — so a corpus can be
    bucketed once at ingest and queries sketched at query time."""
    return df.withColumn(out_col, _bucket_udf(_hyperplanes(dim, n_planes, seed))(F.col(vec_col)))


def cosine_topk_lsh(emb: DataFrame, queries: DataFrame, k: int = 10, *,
                    dim: int, n_planes: int = 12, seed: int = 42,
                    multi_probe_hamming: int = 1,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, exact cosine re-rank
    inside candidates.

    ``multi_probe_hamming`` expands each query to all buckets within that
    hamming distance of its own (probing 1+n_planes buckets at distance ≤1) —
    the standard recall knob that avoids adding independent hash tables.
    """
    corpus = with_lsh_bucket(emb.withColumn("_n", norm_expr(vec_col)),
                             vec_col, dim=dim, n_planes=n_planes, seed=seed)
    q = with_lsh_bucket(
        queries.select(F.col(query_id_col).alias("_qid"),
                       F.col(vec_col).alias("_qv"),
                       norm_expr(vec_col).alias("_qn")),
        "_qv", dim=dim, n_planes=n_planes, seed=seed)

    if multi_probe_hamming >= 1:
        # probe own bucket + all buckets within the hamming budget
        masks = [0] + [1 << i for i in range(n_planes)]
        if multi_probe_hamming >= 2:
            masks += [(1 << i) | (1 << j)
                      for i in range(n_planes) for j in range(i + 1, n_planes)]
        probes = F.array(*[F.col("_bucket").bitwiseXOR(F.lit(m)) for m in masks])
        q = q.select("_qid", "_qv", "_qn", F.explode(probes).alias("_bucket"))

    scored = (
        corpus.join(q, "_bucket")
        .filter(F.col(id_col) != F.col("_qid"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            (dot_expr(vec_col, "_qv") / (F.col("_n") * F.col("_qn")))
            .alias("cosine"),
        )
        .groupBy(query_id_col, "neighbor_id")     # multi-probe may duplicate
        .agg(F.first("cosine").alias("cosine"))
    )
    return top_k_per_group(scored, [query_id_col], "cosine", k,
                           tie_break=["neighbor_id"])


# --------------------------------------------------------------------------
# IVF (inverted-file) variant: learned coarse quantizer instead of random
# hyperplanes — cells adapt to the corpus distribution, so probing few cells
# keeps recall that data-oblivious LSH needs many probes for.
# --------------------------------------------------------------------------

def train_ivf_centroids(emb: DataFrame, vec_col: str = "embedding", *,
                        n_centroids: int = 16, sample_rows: int = 20_000,
                        iters: int = 10, seed: int = 42) -> np.ndarray:
    """Spherical k-means on a bounded sample → (n_centroids, dim) unit rows.

    The sample (≤ ``sample_rows``) is the only driver-side materialization —
    centroid training touches a constant-size subset regardless of corpus
    size; assignment of the full corpus stays distributed. At 100 TB this is
    the standard IVF recipe (train coarse quantizer on a sample, broadcast
    the codebook).
    """
    n = emb.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample = np.stack(
        emb.sample(fraction=frac, seed=seed)
           .limit(sample_rows)
           .select(vec_col).toPandas()[vec_col].to_numpy())
    x = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    c = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                c[j] = m / (np.linalg.norm(m) or 1.0)
    return c


def _cell_udf(centroids: np.ndarray, nprobe: int):
    @F.pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ centroids.T                              # (batch, C)
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))
    return cells


def cosine_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 10, *,
                    centroids: np.ndarray, nprobe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k via an IVF index: corpus rows live in their single
    nearest cell, queries probe their ``nprobe`` nearest cells, exact cosine
    re-ranks inside the probed cells.

    Candidate generation is an equi-join on the cell id — the corpus is
    scanned once, shuffled once by cell, and only ~nprobe/C of it meets each
    query. The codebook is driver-held numpy broadcast inside the UDF closure
    (KBs — not data-sized).
    """
    corpus = emb.withColumn("_n", norm_expr(vec_col)).withColumn(
        "_cell", _cell_udf(centroids, 1)(F.col(vec_col)).getItem(0))
    q = queries.select(F.col(query_id_col).alias("_qid"),
                       F.col(vec_col).alias("_qv"),
                       norm_expr(vec_col).alias("_qn"))
    q = q.withColumn("_cell", F.explode(_cell_udf(centroids, nprobe)(F.col("_qv"))))

    scored = (
        corpus.join(q, "_cell")
        .filter(F.col(id_col) != F.col("_qid"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            (dot_expr(vec_col, "_qv") / (F.col("_n") * F.col("_qn")))
            .alias("cosine"),
        )
    )
    return top_k_per_group(scored, [query_id_col], "cosine", k,
                           tie_break=["neighbor_id"])


def quantize_embeddings(emb: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        bits: int = 8) -> DataFrame:
    """Symmetric per-vector scalar quantization to ``bits``-bit integers —
    the storage/bandwidth lever for 100 TB embedding stores (int8 cuts the
    shuffle and cache footprint 4x vs float32; exact re-rank reads the
    original vectors for the survivors only, mirroring the
    prefilter-then-verify pattern used throughout).

    scale = max|x_i| (double); q_i = floor(x_i / scale * L) with
    L = 2^(bits-1) - 1, so q ∈ [-L, L] (x = ±scale lands exactly on ±L).
    All-zero vectors quantize to zeros with scale 0. floor over IEEE doubles
    is engine-exact — the whole operator is oracle-reproducible, unlike
    round-based schemes (HALF_UP vs banker's rounding diverges).
    """
    if not 2 <= bits <= 31:
        raise ValueError("bits must be in [2, 31]")
    levels = (1 << (bits - 1)) - 1
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        v, lambda x: F.when(scale == 0.0, F.lit(0)).otherwise(
            F.floor(x.cast("double") / scale * levels)).cast("int"))
    return emb.select(F.col(id_col), scale.alias("scale"), q.alias("qvec"))


def dequantize_expr(qvec: Column | str, scale: Column | str, *,
                    bits: int = 8) -> Column:
    """Reconstruction q_i * scale / L as array<double>; per-element error is
    bounded by scale/L (floor truncates at most one level) — asserted in
    tests/test_similarity.py."""
    levels = (1 << (bits - 1)) - 1
    qc = F.col(qvec) if isinstance(qvec, str) else qvec
    sc = F.col(scale) if isinstance(scale, str) else scale
    return F.transform(qc, lambda x: x.cast("double") * sc / levels)


def cosine_topk_sq8(emb: DataFrame, queries: DataFrame, k: int = 10, *,
                    overfetch: int = 4, bits: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id") -> DataFrame:
    """Quantized-prefilter top-k (the FAISS SQ8-then-rerank pattern): score
    every pair on the int8 sketches, keep ``k·overfetch`` candidates per
    query, then re-rank the survivors with the exact float cosine.

    Cosine is scale-invariant, so the prefilter needs NO dequantization:
    cos≈ = Σqa·qb / (√Σqa² · √Σqb²) over the integer codes — the per-vector
    scales cancel. At 100 TB this is the bandwidth lever: the hot scan
    touches the 4×-smaller int8 column; full float vectors are fetched only
    for the k·overfetch survivors (here: a join back on the id).

    Approximate stage ⇒ registered rows-only; recall vs the exact operator
    is asserted in tests/test_similarity.py (int8 on unit-ish vectors
    perturbs cosines by ~1e-2, so modest overfetch recovers exact top-k).
    """
    cq = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col, bits=bits)
    qq = quantize_embeddings(
        queries.select(F.col(query_id_col).alias("_qid"),
                       F.col(vec_col).alias(vec_col)),
        id_col="_qid", vec_col=vec_col, bits=bits)

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b),
                       lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    c = cq.select(F.col(id_col), F.col("qvec").alias("_qc"),
                  F.sqrt(int_dot("qvec", "qvec").cast("double")).alias("_nc"))
    qside = qq.select("_qid", F.col("qvec").alias("_qq"),
                      F.sqrt(int_dot("qvec", "qvec").cast("double")).alias("_nq"))
    approx = (
        c.crossJoin(F.broadcast(qside))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(F.col("_qid"), F.col(id_col).alias("neighbor_id"),
                (int_dot("_qc", "_qq").cast("double")
                 / (F.col("_nc") * F.col("_nq"))).alias("_approx"))
    )
    cand = top_k_per_group(approx, ["_qid"], "_approx", k * overfetch,
                           tie_break=["neighbor_id"]).select("_qid", "neighbor_id")
    return _exact_rerank(cand, emb, queries, k, id_col=id_col,
                         vec_col=vec_col, query_id_col=query_id_col)


def _exact_rerank(cand: DataFrame, emb: DataFrame, queries: DataFrame,
                  k: int, *, id_col: str, vec_col: str,
                  query_id_col: str) -> DataFrame:
    """Second stage of the approximate top-k operators: join the full
    vectors back for the (``_qid``, ``neighbor_id``) candidates only,
    score the exact cosine, keep the top ``k`` per query (ties by
    neighbour id) — ``cosine_topk``'s output schema."""
    full_c = emb.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("_v"),
                        norm_expr(vec_col).alias("_n"))
    full_q = queries.select(F.col(query_id_col).alias("_qid"),
                            F.col(vec_col).alias("_qv"),
                            norm_expr(vec_col).alias("_qn"))
    exact = (
        cand.join(full_c, "neighbor_id").join(F.broadcast(full_q), "_qid")
        .select(F.col("_qid").alias(query_id_col), "neighbor_id",
                (dot_expr("_v", "_qv") / (F.col("_n") * F.col("_qn")))
                .alias("cosine"))
    )
    return top_k_per_group(exact, [query_id_col], "cosine", k,
                           tie_break=["neighbor_id"])


# --------------------------------------------------------------------------
# PQ (product quantization) variant: the FAISS-IVFPQ memory lever. Vectors
# compress to m sub-codes (m bytes at ksub<=256) — 32x smaller than float32
# at m=8 — and queries score candidates with ADC lookup tables instead of
# touching float vectors at all; exact re-rank reads floats only for the
# k·overfetch survivors.
# --------------------------------------------------------------------------

def train_pq_codebooks(emb: DataFrame, vec_col: str = "embedding", *,
                       m: int = 8, ksub: int = 16,
                       sample_rows: int = 20_000, iters: int = 10,
                       seed: int = 42) -> np.ndarray:
    """Per-subspace k-means on a bounded sample → (m, ksub, dsub) codebook.

    Like train_ivf_centroids, the sample is the only driver-side
    materialization (constant-size regardless of corpus scale); the
    codebook itself is m·ksub·dsub floats — KBs, broadcast in UDF
    closures. Plain L2 k-means per subspace (PQ quantizes raw
    coordinates; cosine handling happens at scoring time via the
    reconstructed norms)."""
    n = emb.count()
    frac = min(1.0, sample_rows / max(n, 1))
    x = np.stack(
        emb.sample(fraction=frac, seed=seed).limit(sample_rows)
           .select(vec_col).toPandas()[vec_col].to_numpy()).astype(np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        xs = x[:, j * dsub:(j + 1) * dsub]
        c = xs[rng.choice(len(xs), size=min(ksub, len(xs)), replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for t in range(len(c)):
                members = xs[assign == t]
                if len(members):
                    c[t] = members.mean(0)
        books.append(c)
    return np.stack(books)                       # (m, ksub, dsub)


def pq_encode(emb: DataFrame, books: np.ndarray, *,
              vec_col: str = "embedding",
              out_col: str = "pq_codes") -> DataFrame:
    """Attach the m-byte PQ code array: per subspace, the index of the
    nearest codeword. One numpy pass per Arrow batch; the corpus never
    shuffles."""
    m, ksub, dsub = books.shape

    @F.pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        mtx = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(mtx), m), np.int32)
        for j in range(m):
            xs = mtx[:, j * dsub:(j + 1) * dsub]
            d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return emb.withColumn(out_col, enc(F.col(vec_col)))


def cosine_topk_pq(emb: DataFrame, queries: DataFrame, k: int = 10, *,
                   books: np.ndarray, overfetch: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k via PQ + ADC (asymmetric distance computation),
    then exact re-rank of the k·overfetch survivors.

    Per query, the dot product against ANY corpus vector's reconstruction
    is a sum of m table lookups: LUT[j][code_j] = q_sub_j · codeword. The
    LUT stack for the whole query set is (Q, m, ksub) doubles — KBs,
    shipped in the UDF closure like the codebook. The hot scan therefore
    touches ONLY the m-byte code column (32x less bandwidth than float32
    vectors at m=8), emits per-query approximate cosines via one numpy
    gather per Arrow batch, and the float vectors are read back just for
    survivors. Queries are collected driver-side to build LUTs — the same
    'query set is metadata-sized' assumption cosine_topk's broadcast
    already makes."""
    m, ksub, dsub = books.shape
    qrows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    # (Q, m, ksub): LUT[q, j, t] = q_sub · codeword_t  ; plus reconstructed
    # sub-norms (m, ksub) for the denominator.
    lut = np.einsum("qjd,jtd->qjt",
                    qmat.reshape(len(qids), m, dsub), books)
    sub_sq = (books ** 2).sum(-1)                # (m, ksub)
    qnorm = np.linalg.norm(qmat, axis=1)         # (Q,)

    @F.pandas_udf("array<double>")
    def adc_scores(codes: pd.Series) -> pd.Series:
        c = np.stack(codes.to_numpy())           # (B, m) int
        b = len(c)
        j_idx = np.arange(m)[None, :]
        # reconstructed norm per row: sqrt(Σ_j ||codeword||²)
        rnorm = np.sqrt(sub_sq[j_idx, c].sum(1))         # (B,)
        rnorm = np.maximum(rnorm, 1e-12)
        out = np.empty((b, len(qids)))
        for qi in range(len(qids)):
            dots = lut[qi][j_idx, c].sum(1)              # (B,)
            out[:, qi] = dots / (rnorm * max(qnorm[qi], 1e-12))
        return pd.Series(list(out))

    coded = pq_encode(emb.select(id_col, vec_col), books, vec_col=vec_col)
    scored = (coded.select(id_col,
                           F.posexplode(adc_scores(F.col("pq_codes")))
                           .alias("_qidx", "_approx")))
    qmap = F.array(*[F.lit(q) for q in qids])
    scored = (scored.withColumn("_qid", qmap[F.col("_qidx")])
              .filter(F.col(id_col) != F.col("_qid")))
    cand = top_k_per_group(scored.select("_qid",
                                         F.col(id_col).alias("neighbor_id"),
                                         "_approx"),
                           ["_qid"], "_approx", k * overfetch,
                           tie_break=["neighbor_id"]) \
        .select("_qid", "neighbor_id")
    return _exact_rerank(cand, emb, queries, k, id_col=id_col,
                         vec_col=vec_col, query_id_col=query_id_col)


# --------------------------------------------------------------------------
# Cross-row embedding pooling: chunk vectors → one document vector. The
# standard aggregation step after chunked embedding inference (RAG stores,
# doc-level semantic dedup over chunk embeddings).
# --------------------------------------------------------------------------

def pool_embeddings(df: DataFrame, group_col: str, *,
                    vec_col: str = "embedding",
                    weight_col: str | None = None,
                    normalize: bool = False,
                    out_col: str = "pooled") -> DataFrame:
    """(group, pooled, n_vecs): element-wise (weighted) mean of each
    group's vectors, optionally L2-normalized.

    Spark-first: posexplode the vectors, aggregate per (group, element
    position) — partial sums combine map-side, so the exchange carries
    (groups × dim) rows, never the raw vectors — then reassemble the array
    in position order. Handles ragged inputs by construction (each
    position averages over the vectors that have it). Per-position sums
    promote to double before adding; intra-group addition ORDER is not
    guaranteed (the float caveat shared with every distributed mean), so
    this registers rows-only, with numpy-recompute parity (to float
    tolerance) pytest-pinned.
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ex = df.select(F.col(group_col).alias("_g"), w.alias("_w"),
                   F.posexplode(F.col(vec_col)).alias("_p", "_x"))
    per_pos = (ex.groupBy("_g", "_p")
               .agg((F.sum(F.col("_x").cast("double") * F.col("_w"))
                     / F.sum("_w")).alias("_m")))
    pooled = (per_pos.groupBy("_g")
              .agg(F.array_sort(F.collect_list(F.struct("_p", "_m")))
                   .alias("_pm"))
              .select("_g", F.transform("_pm", lambda s: s["_m"])
                      .alias(out_col)))
    # n_vecs counts the vectors that actually POOLED (non-null, non-empty)
    # so downstream weighted merges of centroids stay correct; groups with
    # no poolable vector have no mean and are absent from the output.
    counts = (df.filter(F.size(F.col(vec_col)) > 0)
              .groupBy(F.col(group_col).alias("_g"))
              .agg(F.count(F.lit(1)).alias("n_vecs")))
    out = pooled.join(counts, "_g").withColumnRenamed("_g", group_col)
    if normalize:
        nrm = F.sqrt(F.aggregate(F.col(out_col), F.lit(0.0),
                                 lambda a, x: a + x * x))
        out = out.withColumn(
            out_col, F.when(nrm > 0, F.transform(out_col, lambda x: x / nrm))
                      .otherwise(F.col(out_col)))
    return out.select(group_col, out_col, "n_vecs")


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (dimensionality reduction)
# --------------------------------------------------------------------------

def _jl_matrix(dim: int, out_dim: int, seed: int) -> np.ndarray:
    """Deterministic sparse-sign JL matrix (Achlioptas 2003): entries
    ±1/√out_dim with equal probability — dot products are preserved in
    expectation with variance O(1/out_dim), and the ±1 structure keeps
    the matmul branch-free."""
    rs = np.random.RandomState(seed)
    return (rs.randint(0, 2, size=(dim, out_dim)).astype(np.float64) * 2
            - 1) / np.sqrt(out_dim)


def project_embeddings(emb: DataFrame, *, dim: int, out_dim: int,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       seed: int = 42,
                       out_col: str = "proj") -> DataFrame:
    """(id, proj): JL-project every embedding to ``out_dim`` dims — the
    cheap front-end for candidate generation / clustering / sketching
    when the native dimension makes exact scoring the bottleneck.

    One Arrow-batched pass (numpy matmul against the broadcast (d, k)
    matrix — KBs), no shuffle; same (dim, out_dim, seed) ⇒ identical
    projection on any engine, so a corpus projected at ingest and
    queries projected at query time land in the same space. Numpy
    parity + distortion bounds pinned in tests/test_similarity.py.
    """
    mat = _jl_matrix(dim, out_dim, seed)

    @F.pandas_udf("array<double>")
    def proj(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)   # (batch, d)
        return pd.Series(list(m @ mat))                    # (batch, k)

    return emb.select(F.col(id_col), proj(F.col(vec_col)).alias(out_col))


def cosine_topk_jl(emb: DataFrame, queries: DataFrame, k: int = 10, *,
                   dim: int, out_dim: int = 16, rerank_factor: int = 4,
                   seed: int = 42, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k via project-then-rerank: score all pairs in the
    ``out_dim``-dim JL space (out_dim/dim of the exact flops), keep
    ``rerank_factor·k`` candidates per query, then EXACT cosine re-rank
    of just those on the full vectors — the classic two-stage retrieval
    memory/flops trade. Same output schema as ``cosine_topk``; recall
    vs exact is pinned in tests/test_similarity.py.

    Scale shape: the candidate stage is a map-side broadcast scan over
    the PROJECTED corpus (8·out_dim B/row instead of 8·dim); the re-rank
    touches full vectors for only rerank_factor·k·|Q| rows via one
    semi-join-shaped equi-join.
    """
    pc = project_embeddings(emb, dim=dim, out_dim=out_dim, id_col=id_col,
                            vec_col=vec_col, seed=seed)
    pq = project_embeddings(
        queries.select(F.col(query_id_col).alias("_qid"),
                       F.col(vec_col).alias("_qv")),
        dim=dim, out_dim=out_dim, id_col="_qid", vec_col="_qv", seed=seed)
    cand = (
        pc.crossJoin(F.broadcast(
            pq.select("_qid", F.col("proj").alias("_qp"),
                      norm_expr("proj").alias("_qn"))))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(F.col("_qid"), F.col(id_col).alias("neighbor_id"),
                (dot_expr("proj", "_qp")
                 / (norm_expr("proj") * F.col("_qn"))).alias("_approx")))
    cand = top_k_per_group(cand, ["_qid"], "_approx", rerank_factor * k,
                           tie_break=["neighbor_id"]) \
        .select("_qid", "neighbor_id")
    return _exact_rerank(cand, emb, queries, k, id_col=id_col,
                         vec_col=vec_col, query_id_col=query_id_col)


# --------------------------------------------------------------------------
# Oracle-exact EXPRESSION TWINS of the approximate-index building blocks.
#
# The production sketch paths (numpy matmuls in pandas UDFs) are rows-only
# by nature: a numpy batched dot and a SQL sequential fold can round a sum
# differently, and one ulp near a sign/rank boundary flips a bucket or a
# candidate. These twins compute the SAME mathematical objects (same
# hyperplanes / JL matrix / codebook values) through the sequential-fold
# ``dot_expr`` that DuckDB's ``list_dot_product`` matches bit-for-bit — so
# an end-to-end recall evaluation built on them is HASH-EXACT against a SQL
# oracle (round-6 VERDICT item 7). They are certification instruments, not
# the scale path: the numpy forms stay the production encoders, and tests
# pin twin≡numpy agreement on the driver corpus.
# --------------------------------------------------------------------------

def _vec_sql(v) -> str:
    """Literal DOUBLE array as SQL text: a ``D``-suffixed literal parses
    JVM-side with correct rounding (round-trip pinned in tests). The eval
    twins build their trees as SQL STRINGS because the Column-DSL form
    costs one py4j round trip per node — at thousands of literal/lambda
    nodes the pure driver-side construction dominated the whole eval
    query (measured ~15s build vs ~5s execution at sf0.1)."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in v) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`dot_expr` — the identical sequential
    fold, so values are bit-equal to both the Column form and DuckDB's
    ``list_dot_product``."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
            f"CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)")


def _lit_vec(v) -> Column:
    """Literal array<double> as ONE Literal node: ``F.lit`` ships the
    IEEE doubles directly (bit-identical to parsing the %.17e text —
    that format round-trips exactly), vs the SQL-text form whose
    CreateArray carries one node per element through analysis. Round-12
    measurement: the pq ADC LUTs built from per-element nodes cost
    ~1.9 s of Catalyst analysis per ann_recall_eval build."""
    return F.lit([float(x) for x in v])


def _lit_vec2(vv) -> Column:
    """Literal array<array<double>> as ONE Literal node (see _lit_vec)."""
    return F.lit([[float(x) for x in v] for v in vv])


def lsh_bucket_expr(vec_col: str, planes: "np.ndarray") -> Column:
    """Random-hyperplane bucket id via literal planes + sequential-fold
    dots — the oracle-exact twin of ``_bucket_udf``: bit i is
    ``1[v · plane_i > 0]``, packed little-endian like the numpy path.
    ``vec_col`` is a COLUMN NAME (the twins build SQL text — see
    ``_vec_sql`` — so a Column object cannot be interpolated)."""
    assert isinstance(vec_col, str), "twins take a column NAME"
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_col, _vec_sql(p))} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return F.expr(f"CAST(({terms}) AS INT)")


def project_expr(vec_col: str, mat: "np.ndarray") -> Column:
    """JL projection as an array of ``out_dim`` sequential-fold dots
    against the literal (dim, out_dim) matrix — the oracle-exact twin of
    ``project_embeddings``'s numpy matmul (identical matrix values; the
    twin pins the summation order both engines share). ``vec_col`` is a
    column NAME (SQL-text twin)."""
    assert isinstance(vec_col, str), "twins take a column NAME"
    return F.expr("array(" + ",".join(
        _dot_sql(vec_col, _vec_sql(mat[:, c]))
        for c in range(mat.shape[1])) + ")")


def _seq_dot(a, b) -> float:
    """Driver-side mirror of ``dot_expr`` on two literal vectors: the
    SAME left-to-right fold over doubles, bit-identical to the engine
    folds — inlining the result skips a per-row interpreted fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _seq_sq(v) -> float:
    """``dot_expr(v, v)`` of a literal vector, same bits."""
    return _seq_dot(v, v)


def _seq_norm(v) -> float:
    """``norm_expr`` of a literal vector, same bits (sqrt of the
    sequential square fold)."""
    import math
    return math.sqrt(_seq_sq(v))


def nearest_seeds_expr(vec_col: str, seeds: list, nprobe: int, *,
                       norm_col: str | None = None) -> Column:
    """Top-``nprobe`` seed ids by cosine (ties → lowest id), as an
    array<long> — the deterministic coarse quantizer the eval query uses
    in place of the float-iterative k-means codebook: ``seeds`` is a
    driver-collected list of (sid, vector). Sorting structs of
    (cosine, −sid) descending reproduces ORDER BY cosine DESC, sid ASC
    exactly; every float op is a sequential fold, one sqrt and one
    division — bit-portable (seed norms fold driver-side via
    :func:`_seq_norm`, same bits)."""
    # Pass ``norm_col`` when the frame already carries the SAME
    # sqrt-of-fold norm expression: the inline form re-evaluates the
    # interpreted 64-element fold once PER SEED per row — the re-fold
    # cost pq_encode_expr's projection boundary exists to avoid. The
    # twins build SQL text, so vec_col/norm_col are column NAMES.
    assert isinstance(vec_col, str), "twins take a column NAME"
    n = norm_col or f"sqrt({_dot_sql(vec_col, vec_col)})"
    structs = ",".join(
        f"named_struct('cosine', {_dot_sql(vec_col, _vec_sql(v))}"
        f" / ({n} * {_seq_norm(v)!r}D), 'negsid', CAST({-int(sid)} AS BIGINT))"
        for sid, v in seeds)
    return F.expr(
        f"transform(slice(reverse(array_sort(array({structs}))), 1, "
        f"{nprobe}), s -> -s.negsid)")


def pq_encode_expr(df: DataFrame, vec_col: str, codebook: list, dsub: int,
                   *, out_col: str = "_code") -> DataFrame:
    """Append the PQ code array via literal codewords: per subspace j,
    the index of the nearest codeword by the EXPANDED squared distance
    ``(‖x_j‖² − 2·x_j·c) + ‖c‖²`` (ties → lowest index). Same minimizer
    as Σ(x−c)² in real arithmetic; the expanded form is what both
    engines evaluate, so float near-ties stay mirrored. ``‖x_j‖²``
    lands in its own projection first (these folds are interpreted —
    CodegenFallback — so without the boundary each of the ksub codeword
    structs would re-fold it: measured 8.3s → ~2s on the eval corpus),
    and ``‖c‖²`` folds driver-side (:func:`_seq_sq`, same bits)."""
    m = len(codebook)

    def sub(j: int) -> str:
        return f"slice({vec_col}, {j * dsub + 1}, {dsub})"

    sq_cols = {f"_sqx{j}": F.expr(_dot_sql(sub(j), sub(j)))
               for j in range(m)}
    d = df.withColumns(sq_cols)
    codes = []
    for j, words in enumerate(codebook):
        structs = ",".join(
            f"named_struct('d2', (_sqx{j} - 2.0D * "
            f"{_dot_sql(sub(j), _vec_sql(w))}) + {_seq_sq(w)!r}D, "
            f"'t', CAST({t} AS BIGINT))"
            for t, w in enumerate(words))
        codes.append(F.expr(f"array_min(array({structs})).t"))
    return d.withColumn(out_col, F.array(*codes)).drop(*sq_cols.keys())


def pq_adc_expr(code_col: Column | str, qid_col: Column | str,
                queries: list, codebook: list, dsub: int) -> Column:
    """ADC approximate cosine of a PQ-coded row against the query joined
    on ``qid_col``: ``(Σ_j LUT[qid][j][code_j]) / (rnorm · qnorm)`` with
    LEFT-ASSOCIATIVE sums over j (the order the SQL oracle mirrors term
    by term). ``queries`` is the driver-collected [(qid, vector)] — the
    LUTs (q_sub · codeword), codeword self-dots and query norms all fold
    driver-side through :func:`_seq_dot` (bit-identical to the engine
    folds), turning the per-pair cost into pure lookups; the 1e-12
    guards match the numpy path."""
    code = F.col(code_col) if isinstance(code_col, str) else code_col
    qid = F.col(qid_col) if isinstance(qid_col, str) else qid_col
    m = len(codebook)
    lut_entries, qn_entries = [], []
    for q_id, qv in queries:
        lut = _lit_vec2([[_seq_dot(qv[j * dsub:(j + 1) * dsub], w)
                          for w in codebook[j]] for j in range(m)])
        lut_entries += [F.lit(int(q_id)), lut]
        qn_entries += [F.lit(int(q_id)),
                       F.lit(max(_seq_norm(qv), 1e-12))]
    row_lut = F.create_map(*lut_entries)[qid]
    qn = F.create_map(*qn_entries)[qid]
    dots, sqs = [], []
    for j in range(m):
        idx = (code[j] + 1).cast("int")
        dots.append(F.element_at(F.element_at(row_lut, j + 1), idx))
        sqs.append(F.element_at(_lit_vec([_seq_sq(w) for w in codebook[j]]),
                                idx))
    dot = dots[0]
    for d in dots[1:]:
        dot = dot + d
    sq = sqs[0]
    for s in sqs[1:]:
        sq = sq + s
    rnorm = F.greatest(F.sqrt(sq), F.lit(1e-12))
    return dot / (rnorm * qn)


def assign_nearest_seed(emb: DataFrame, seeds: DataFrame, *,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        seed_id_col: str = "seed_id") -> DataFrame:
    """Deterministic nearest-seed assignment by cosine — the oracle-exact
    twin of ``kmeans.kmeans_assign`` (whose trained centroids are float
    means and therefore rows-only): every vector maps to its closest seed
    vector, ties to the LOWEST seed id. Returns (id, seed_id, cosine).

    100 TB shape: the seed set collects to the driver ONCE (codebook-sized
    — k·d floats, the same bound kmeans_fit already accepts) and is
    inlined as an array-of-structs literal, so the assignment is a pure
    map-side expression: ZERO shuffles, zero joins — each row folds its
    argmax over the k seeds in-row via ``array_max`` on (cosine, -seed_id)
    structs. Cosine uses the sequential-fold ``dot_expr`` — bit-identical
    to DuckDB's ``list_dot_product``, so the whole operator is
    SQL-oracle-reproducible.
    """
    rows = seeds.select(F.col(seed_id_col).cast("long").alias("_sid"),
                        F.col(vec_col).alias("_sv")).collect()
    if not rows:
        raise ValueError("need at least one seed")
    seed_arr = F.array(*[
        F.struct(
            F.lit(int(r["_sid"])).alias("sid"),
            F.array(*[F.lit(float(x)) for x in r["_sv"]]).alias("v"),
        )
        for r in sorted(rows, key=lambda r: r["_sid"])
    ])
    n = norm_expr(vec_col)
    scored = F.transform(
        seed_arr,
        lambda s: F.struct(
            (dot_expr(vec_col, s["v"]) / (n * norm_expr(s["v"])))
            .alias("cosine"),
            (-s["sid"]).alias("negsid"),
        ))
    best = F.array_max(scored)
    return emb.select(
        F.col(id_col),
        (-best["negsid"]).cast("long").alias(seed_id_col),
        best["cosine"].alias("cosine"))


def signbit_signatures(emb: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", dim: int = 64,
                       n_blocks: int = 8) -> DataFrame:
    """Sign-bit (binary hyperplane) signatures: bit i of the signature is
    ``1[v_i > 0]``, packed into ``n_blocks`` little-endian words of
    ``dim / n_blocks`` bits each (columns ``w0..w{n_blocks-1}``).

    This is the standard axis-aligned special case of random-hyperplane
    LSH (Charikar 2002) — and unlike the random-plane variant
    (``with_lsh_bucket``) it is ORACLE-EXACT: a float comparison against
    zero on the stored values is bit-portable across engines, and the
    packing is pure integer arithmetic. It therefore anchors the
    otherwise rows-only embedding near-dup family the same way the
    md5-affine scheme anchors MinHash.

    100 TB shape: a zero-shuffle, zero-join map expression (one codegen'd
    CASE chain per word); signatures are dim/8 bytes per row — the only
    thing later stages shuffle, never the float vectors.
    """
    if dim % n_blocks:
        raise ValueError("dim must divide evenly into n_blocks")
    bits = dim // n_blocks
    if bits > 62:
        raise ValueError("block width must fit a signed 64-bit word")
    words = []
    for j in range(n_blocks):
        w: Column = F.lit(0)
        for t in range(bits):
            w = w + F.when(
                F.element_at(F.col(vec_col), j * bits + t + 1) > F.lit(0.0),
                F.lit(1 << t)).otherwise(F.lit(0))
        words.append(w.cast("long").alias(f"w{j}"))
    return emb.select(F.col(id_col), *words)


def signbit_hamming_pairs(emb: DataFrame, *, id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int = 64,
                          n_blocks: int = 8,
                          max_hamming: int = 17) -> DataFrame:
    """Near-duplicate pairs by sign-bit Hamming distance, found by
    multi-index exact-match blocking (Norouzi et al., "Fast Search in
    Hamming Space with Multi-Index Hashing"): candidates share at least
    one of the ``n_blocks`` signature words verbatim, then the EXACT
    Hamming distance over all words filters to ``<= max_hamming``.

    Pigeonhole guarantee: any pair with hamming < n_blocks shares a word,
    so recall is total below that radius and algorithm-defined (documented,
    oracle-mirrored) above it — the same contract as the banded MinHash
    join. Returns (id_a, id_b, hamming).

    100 TB shape: the blocked self-join shuffles only (block, word, id)
    postings — 16 bytes/row × n_blocks — never the vectors; per-bucket
    fan-out is bounded by the word width (2^bits buckets per block index;
    widen blocks or concatenate word pairs as n grows, trading the
    guaranteed radius down exactly as Norouzi prescribes).
    """
    sig = signbit_signatures(emb, id_col=id_col, vec_col=vec_col,
                             dim=dim, n_blocks=n_blocks)
    wcols = [f"w{j}" for j in range(n_blocks)]
    posts = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(c) for c in wcols])).alias("_j", "_w"))
    cand = (posts.alias("a")
            .join(posts.alias("b"), ["_j", "_w"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    left = sig.select(F.col(id_col).alias("id_a"),
                      *[F.col(c).alias(f"a_{c}") for c in wcols])
    right = sig.select(F.col(id_col).alias("id_b"),
                       *[F.col(c).alias(f"b_{c}") for c in wcols])
    ham: Column = F.lit(0)
    for c in wcols:
        ham = ham + F.bit_count(
            F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
    return (cand.join(left, "id_a").join(right, "id_b")
            .select("id_a", "id_b", ham.cast("long").alias("hamming"))
            .where(F.col("hamming") <= F.lit(max_hamming)))
