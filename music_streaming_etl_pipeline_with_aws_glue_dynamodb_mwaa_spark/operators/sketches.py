"""Mergeable sketch columns (DataSketches HLL, built into Spark ≥3.5) —
the pre-aggregation pattern that makes 100 TB distinct-count rollups
cheap: store a BINARY sketch per (fine-grained group), merge sketches to
any coarser grain later WITHOUT touching raw rows again.

Exact distinct counts don't re-aggregate (distinct-of-union ≠ sum of
distincts), so a lake of daily exact counts can never answer "monthly
uniques". A lake of daily SKETCHES can: ``hll_union_agg`` is associative
and preserves the error envelope (merging never degrades the bound below
the target lgK), so the monthly roll-up costs |days×groups| sketch merges —
no fact scan, no giant shuffle. Estimate error is the standard HLL ±~1.6%
at lgK=12 (tunable), self-tested in tests/test_sketches.py against exact
distinct counts. Note the merged estimate is not guaranteed BIT-identical
to a direct sketch of the union — the union gadget can take a different
sparse→dense representation path — but both sit inside the same bound.

All JVM expressions (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate`); engine-deterministic for fixed input (the sketch
is hash-based, no randomness) but not oracle-portable (DuckDB's HLL is a
different implementation). Round 11 therefore added the PORTABLE
register-table HLL below (§HLL-as-a-table) — the certification surface
(daily_genre_kpis_approx, events_profile_approx, events_daily/
monthly_users_sketch*) rides it oracle-exactly, while these binary
columns remain the compactness-optimal production alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_sketches(df: DataFrame, keys: list[str], value_col: str, *,
                      lg_k: int = 12,
                      sketch_col: str = "sketch") -> DataFrame:
    """One HLL sketch per key group over ``value_col`` — the storable,
    mergeable form of count-distinct. One hash agg (map-side partials
    merge sketches, not rows)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias(sketch_col))


def merge_sketches(df: DataFrame, keys: list[str], *,
                   sketch_col: str = "sketch",
                   estimate_col: str | None = None) -> DataFrame:
    """Roll sketches up to a coarser grain (drop some key columns, merge
    the rest). ``estimate_col`` additionally materializes the distinct
    estimate as a long."""
    out = df.groupBy(*keys).agg(
        F.hll_union_agg(F.col(sketch_col)).alias(sketch_col))
    if estimate_col:
        out = out.withColumn(estimate_col,
                             F.hll_sketch_estimate(F.col(sketch_col)))
    return out


def estimate(df: DataFrame, *, sketch_col: str = "sketch",
             estimate_col: str = "n_distinct_est") -> DataFrame:
    """Attach the HLL cardinality estimate for each sketch row."""
    return df.withColumn(estimate_col,
                         F.hll_sketch_estimate(F.col(sketch_col)))


# --------------------------------------------------------------------------
# Count-min sketch AS A TABLE — (depth, width) bucket counts built with the
# engine-portable md5 bucket hash (operators/sampling.py idiom), so unlike
# the binary HLL blobs these ARE oracle-comparable integers. Mergeable by
# construction: CMS(A ∪ B) = cellwise CMS(A) + CMS(B) (one groupBy-sum),
# the same no-rescan rollup property as the HLL columns above. Point
# estimate = min over the d probed cells — the classic ≥-truth bound.
# --------------------------------------------------------------------------

def _cms_bucket(key, row: int, width: int):
    """Portable bucket: first 8 md5 hex digits of 'key:row' mod width —
    DuckDB mirror: ``('0x' || substr(md5(k || ':' || row), 1, 8))::BIGINT
    % width``."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(k.cast("string"), F.lit(f":{row}")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                  F.lit(width))


def cms_table(df: DataFrame, key_col: str, *, depth: int = 4,
              width: int = 256, weight_col: str | None = None) -> DataFrame:
    """Build the count-min sketch of ``key_col`` (optionally weighted) as
    a (row, bucket, n) table — depth×width rows, exact longs.

    One pass: each input row contributes to ``depth`` cells via a
    per-row-seeded md5 bucket (the stacked projection is a map-side
    explode of d structs); the groupBy collapses map-side, so the
    exchange carries ≤ depth·width partials per task regardless of input
    size — the whole point of a CMS at 100 TB.
    """
    w = F.lit(1).cast("long") if weight_col is None \
        else F.col(weight_col).cast("long")
    cells = F.array(*[
        F.struct(F.lit(r).alias("row"),
                 _cms_bucket(key_col, r, width).alias("bucket"))
        for r in range(depth)])
    return (df.select(F.explode(cells).alias("_c"), w.alias("_w"))
            .groupBy(F.col("_c.row").alias("row"),
                     F.col("_c.bucket").alias("bucket"))
            .agg(F.sum("_w").alias("n")))


def cms_merge(*tables: DataFrame) -> DataFrame:
    """Merge CMS tables built with the SAME (depth, width): cellwise sum."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionAll(t)
    return out.groupBy("row", "bucket").agg(F.sum("n").alias("n"))


def cms_estimate(cms: DataFrame, probes: DataFrame, key_col: str, *,
                 depth: int = 4, width: int = 256) -> DataFrame:
    """Point-frequency estimates for ``probes[key_col]``: probe the d
    cells, take the min — estimate ≥ true count always, ≤ true + εN with
    the usual (depth, width) guarantees. The CMS is depth·width rows →
    broadcast to the probe side; one join, no shuffle of the probes."""
    probed = probes.select(F.col(key_col)).distinct().select(
        key_col,
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     _cms_bucket(key_col, r, width).alias("bucket"))
            for r in range(depth)])).alias("_c"))
    joined = (probed
              .join(F.broadcast(cms),
                    (F.col("_c.row") == cms["row"])
                    & (F.col("_c.bucket") == cms["bucket"]), "left")
              .select(key_col, F.coalesce(F.col("n"), F.lit(0)).alias("_n")))
    return joined.groupBy(key_col).agg(F.min("_n").alias("est_count"))


# --------------------------------------------------------------------------
# Bloom filter AS A TABLE — (word_idx, bits) rows of 63-bit words built
# with the same portable md5 bucket hash as the CMS, so the filter AND its
# membership verdicts are oracle-exact integers (63-bit words because
# DuckDB range-checks 1<<63; Spark's shiftleft would wrap silently — the
# 0..62 shift range is portable). This is the classic 100 TB pre-join
# prune: ship a KB-scale filter to the probe side and drop the bulk of a
# fact scan BEFORE the shuffle a semi-join would need; false positives
# (never negatives) are re-checked by the exact join that follows.
# Mergeable by construction: bloom(A ∪ B) = wordwise OR.
# --------------------------------------------------------------------------

_BLOOM_WORD = 63


def _bloom_pos(key, i: int, m_bits: int):
    """Portable bit position for hash function ``i``: first 8 md5 hex
    digits of 'i:key' mod m_bits — DuckDB mirror:
    ``('0x' || substr(md5(i || ':' || k), 1, 8))::BIGINT % m_bits``."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(f"{i}:"), k.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                  F.lit(m_bits))


def bloom_build(df: DataFrame, key_col: str, *, m_bits: int = 1008,
                k: int = 4) -> DataFrame:
    """(word_idx, bits): the m_bits-wide Bloom filter over ``key_col`` as
    ≤ m_bits/63 rows of OR-folded 63-bit words. One explode (k rows per
    key) + one m/63-row hash agg — map-side combined, the exchange
    carries at most m/63 rows per task regardless of input size."""
    if m_bits % _BLOOM_WORD:
        raise ValueError(f"m_bits must be a multiple of {_BLOOM_WORD}")
    pos = F.explode(F.array(*[
        _bloom_pos(key_col, i, m_bits) for i in range(k)])).alias("_pos")
    return (df.select(pos)
            .select(F.expr(f"_pos div {_BLOOM_WORD}")
                    .alias("word_idx"),
                    F.expr(f"shiftleft(1L, CAST(_pos % {_BLOOM_WORD} "
                           f"AS INT))").alias("_m"))
            .groupBy("word_idx")
            .agg(F.bit_or("_m").alias("bits")))


def bloom_probe(candidates: DataFrame, bloom: DataFrame, key_col: str, *,
                m_bits: int = 1008, k: int = 4) -> DataFrame:
    """``candidates`` + ``in_bloom`` (true ⇒ maybe present — no false
    negatives by construction). The filter is ≤ m_bits/63 rows →
    broadcast; each candidate explodes to its k (word, mask) probes, one
    broadcast join, all-bits-set roll-up. The candidate side never
    shuffles — the exact shape that lets a 100 TB fact scan drop
    non-matching rows before any exchange."""
    probes = candidates.select(F.col(key_col)).distinct().select(
        key_col,
        F.explode(F.array(*[
            _bloom_pos(key_col, i, m_bits) for i in range(k)]))
        .alias("_pos"))
    probes = probes.select(
        key_col,
        F.expr(f"_pos div {_BLOOM_WORD}").alias("word_idx"),
        F.expr(f"shiftleft(1L, CAST(_pos % {_BLOOM_WORD} AS INT))")
        .alias("_m"))
    joined = (probes.join(F.broadcast(bloom), "word_idx", "left")
              .select(key_col,
                      ((F.coalesce(F.col("bits"), F.lit(0))
                        .bitwiseAND(F.col("_m"))) != 0).alias("_hit")))
    return (joined.groupBy(key_col)
            .agg(F.min("_hit").alias("in_bloom")))


# --------------------------------------------------------------------------
# HyperLogLog AS A TABLE — (group, register, max-rho) rows built with the
# portable md5 hash, the distinct-count member of the sketch-as-a-table
# family above (CMS = counts, Bloom = membership, HLL = cardinality).
# Unlike the binary DataSketches columns at the top of this module, every
# cell is an exact integer and the estimate is a closed-form expression
# over exact integers + driver-injected double literals — so the whole
# pipeline (build → merge → estimate) is oracle-exact in DuckDB and in a
# pure-Python replay (round-11: promotes the HLL query family from
# rows-only). Mergeable by construction and EXACTLY so: registers(A ∪ B)
# = cellwise max — merged-then-estimated is bit-identical to
# estimate-of-union, a property the binary DataSketches union does NOT
# guarantee (its sparse→dense path can differ). Trade vs the binary
# sketch: ≤ 2^lg_k rows per group at rest instead of one compact blob —
# the right cost when estimates must be reproducible across engines.
#
# Hash: slot j = first 8 md5 hex digits mod m (the _cms_bucket idiom);
# rho = leading-zero count + 1 of a SEPARATE 60-bit slice (md5 hex digits
# 9..23) via the engine-portable length(bin(w)) trick — float log2 would
# misround exactly at powers of two. Estimate (Flajolet–Fuin–Gandouet–
# Meunier with the standard linear-counting small-range correction):
#
#     Z        = Σ_j 2^(-min(M_j, rho_cap))        (empty register → 2^0)
#     E_raw    = alpha_m · m² / Z
#     E        = m·ln(m/V)  if V > 0 and E_raw ≤ 2.5m   (V = empty count)
#              = E_raw      otherwise
#
# Portability of every float op: Z is carried as the exact integer
# Σ 2^(rho_cap − min(M, rho_cap)) (≤ m·2^rho_cap = 2^36 at the defaults —
# exact in int64 AND double), alpha_m·m²·2^rho_cap is ONE driver-computed
# Python-float literal, E_raw is ONE correctly-rounded IEEE division, and
# the ln(m/V) values for the m−1 possible V are driver-computed literals
# broadcast-joined in (the literal-ln recipe from the round-8/9 agreement
# evals) — no engine libm anywhere. rho_cap=24 saturates a register only
# past ~2^36 distincts per group at lg_k=12 (100 TB-of-64-bit-keys
# territory); raise rho_cap and the Z sum stays exact while
# m·2^rho_cap < 2^53.
# --------------------------------------------------------------------------

import math as _math


def _hll_slot_of_h(h, lg_k: int):
    """Register index from a ready md5-hex column: first 8 hex digits
    mod 2^lg_k — DuckDB mirror ``('0x' || substr(md5(v), 1, 8))::BIGINT
    % m``. When lg_k is a multiple of 4 (the default 12 is), the low
    lg_k bits of the 8-digit value ARE its last lg_k/4 hex digits, so
    one small ``conv`` replaces conv(8 digits)+pmod — bit-identical
    (pmod of a power of two = low-bit mask = the trailing hex digits;
    600k-row equality measured in round 12), ~20% cheaper per row."""
    if lg_k % 4 == 0 and 0 < lg_k <= 28:
        n = lg_k // 4
        return F.conv(F.substring(h, 9 - n, n), 16, 10).cast("long")
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                  F.lit(1 << lg_k))


def _hll_rho_of_t(t):
    """rho from the ZERO-LTRIMMED 60-bit hex slice ``t =
    ltrim('0', substr(h, 9, 15))``: with z = 15 − length(t) leading zero
    digits and d = first digit of t, bitlength(w) = 4·length(t) −
    (4 − bitlength(d)), so 61 − bitlength(w) = 65 − 4·length(t) −
    bitlength(d); the all-zero w (t = '') maps to 61. Bit-identical to
    the conv(15 hex)+bin+length form (same DuckDB mirror ``CASE WHEN
    w = 0 THEN 61 ELSE 61 - length(bin(w)) END``) but never materializes
    the 60-bit integer or its binary string — measured 1.8× cheaper on
    the 600k-row fact pass, 0 mismatches. md5 hex is lowercase, so the
    single-digit bitlength is three ordered string compares."""
    d = F.substring(t, 1, 1)
    bitlen_d = (F.when(d >= F.lit("8"), F.lit(4))
                .when(d >= F.lit("4"), F.lit(3))
                .when(d >= F.lit("2"), F.lit(2))
                .otherwise(F.lit(1)))
    return (F.when(t == F.lit(""), F.lit(61))
            .otherwise(F.lit(65) - F.length(t) * F.lit(4) - bitlen_d)
            ).cast("int")


def _hll_t_of_h(h):
    """The ltrimmed 60-bit hex slice feeding :func:`_hll_rho_of_t` —
    projected ONCE per row (it is consumed three times in the rho
    expression; a shared column guarantees single evaluation on the
    non-CSE interpreted/fallback paths too)."""
    return F.expr(f"ltrim('0', substring({h}, 9, 15))") \
        if isinstance(h, str) else F.ltrim(F.substring(h, 9, 15), F.lit("0"))


def hll_register_table(df: DataFrame, keys: list[str], value_key, *,
                       lg_k: int = 12) -> DataFrame:
    """(keys..., j, rho_max): the portable HLL register table of
    ``value_key`` (a string-canonical Column or column name) per key
    group. NULL keys are excluded (a sketch only ever sees inserted
    values — same contract as the pinned GK path). One hash agg; the
    exchange carries ≤ 2^lg_k partials per group per task regardless of
    input size (map-side max-combine), the same no-rescan shape as
    cms_table."""
    k = F.col(value_key) if isinstance(value_key, str) else value_key
    # hash ONCE per row: slot and rho are slices of the same digest, and
    # Catalyst does not CSE the two md5 calls across the grouping key and
    # the aggregate expression (measured: 5 md5 sites in the plan, i.e.
    # recomputed through both partial and final stages); the ltrimmed
    # rho slice is likewise projected once (_hll_t_of_h)
    return (df.select(*keys, k.cast("string").alias("_v"))
            .filter(F.col("_v").isNotNull())
            .select(*keys, F.md5(F.col("_v")).alias("_h"))
            .select(*keys, F.col("_h"), _hll_t_of_h(F.col("_h")).alias("_t"))
            .select(*keys, _hll_slot_of_h(F.col("_h"), lg_k).alias("j"),
                    _hll_rho_of_t(F.col("_t")).alias("_rho"))
            .groupBy(*keys, "j")
            .agg(F.max("_rho").alias("rho_max")))


def hll_merge_register_tables(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Roll registers up to a coarser grain: cellwise max — the EXACT
    merge (registers(A ∪ B) = max, associative + idempotent), so any
    merge tree gives bit-identical estimates."""
    return (regs.groupBy(*keys, "j")
            .agg(F.max("rho_max").alias("rho_max")))


def hll_lc_literals(lg_k: int) -> list[tuple[int, float]]:
    """(V, m·ln(m/V)) for every possible empty-register count V in
    [1, m) — the driver-computed linear-counting literals shared by the
    Spark plan (broadcast join) and the DuckDB oracle (VALUES table), so
    no engine libm is ever consulted."""
    m = 1 << lg_k
    return [(v, m * _math.log(m / v)) for v in range(1, m)]


def hll_estimate_scale_constant(lg_k: int, rho_cap: int) -> float:
    """alpha_m · m² · 2^rho_cap as ONE Python float — E_raw is then a
    single IEEE division of this literal by the exact integer Z_scaled.
    (The 2^rho_cap factor is a power-of-two multiply: exact, so this
    equals the textbook alpha_m·m²/Z bit for bit.)"""
    m = 1 << lg_k
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << rho_cap)


def hll_estimate_registers(regs: DataFrame, keys: list[str], *,
                           lg_k: int = 12, rho_cap: int = 24,
                           out_col: str = "n_est") -> DataFrame:
    """Cardinality estimate per key group from a (portable) register
    table — every arithmetic step is exact-integer or a single
    correctly-rounded IEEE op on driver-injected literals (see the
    section comment), so the output double is reproducible bit-for-bit
    across Spark, DuckDB, and the pure-Python replay."""
    m = 1 << lg_k
    kk = hll_estimate_scale_constant(lg_k, rho_cap)
    agg = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(F.expr(
            f"shiftleft(1L, CAST({rho_cap} - least(rho_max, {rho_cap}) "
            f"AS INT))")).alias("_zp"))
    agg = agg.select(
        *keys,
        (F.lit(m) - F.col("_present")).alias("_v0"),
        (F.col("_zp")
         + (F.lit(m) - F.col("_present")) * F.lit(1 << rho_cap))
        .alias("_z"))
    lc = regs.sparkSession.createDataFrame(
        hll_lc_literals(lg_k), "v0 long, lc double")
    e_raw = F.lit(kk) / F.col("_z").cast("double")
    est = (F.when((F.col("_v0") > 0) & (e_raw <= F.lit(2.5 * m)),
                  F.col("lc"))
           .otherwise(e_raw))
    return (agg.join(F.broadcast(lc), agg["_v0"] == lc["v0"], "left")
            .select(*keys, est.alias(out_col)))


def hll_distinct_estimates(df: DataFrame, keys: list[str], value_key, *,
                           lg_k: int = 12, rho_cap: int = 24,
                           out_col: str = "n_est") -> DataFrame:
    """build → estimate in one call (the common single-grain shape)."""
    return hll_estimate_registers(
        hll_register_table(df, keys, value_key, lg_k=lg_k),
        keys, lg_k=lg_k, rho_cap=rho_cap, out_col=out_col)


# --------------------------------------------------------------------------
# Fused exact-measures + register pipeline (round 12, guide §2.4: remove
# a whole fact pass). The r11 promoted queries computed their exact
# aggregates and their register table as TWO subtrees over the same fact
# scan/join; since the register grain (keys..., j) refines the report
# grain (keys...), both fold into ONE pass: level 1 aggregates by
# (keys..., j) carrying the exact measures' partials next to rho_max
# (the exchange still bounded by groups·(2^lg_k + 1) partial rows —
# null value_keys land on j = NULL), level 2 combines the measures
# (associative-exact BIGINT sums/counts) and runs the register estimate.
# Output is bit-identical to the two-pass form: same registers, same
# estimate arithmetic, same NULL semantics (a group whose value_key is
# entirely NULL has zero present registers → NULL estimate, exactly the
# left-join miss of the two-pass shape).
# --------------------------------------------------------------------------

def hll_fused_level1(df: DataFrame, keys: list[str], value_key, *,
                     lg_k: int = 12,
                     measure_aggs: list | None = None) -> DataFrame:
    """Level-1 grain of the fused pipeline: (keys..., j) rows carrying
    ``rho_max`` plus the caller's exact-measure partial aggregates
    (which must be associative — sums/counts/min/max of the pre-agg
    columns). ``value_key`` NULLs map to j = NULL (the sketch only sees
    inserted values; the measures still see every row)."""
    k = F.col(value_key) if isinstance(value_key, str) else value_key
    pre = (df.withColumn("_h", F.md5(k.cast("string")))
           .withColumn("_t", _hll_t_of_h(F.col("_h")))
           .withColumn("j", _hll_slot_of_h(F.col("_h"), lg_k))
           .withColumn("_rho", _hll_rho_of_t(F.col("_t"))))
    return (pre.groupBy(*keys, "j")
            .agg(F.max("_rho").alias("rho_max"), *(measure_aggs or [])))


def hll_fused_estimates(lvl1: DataFrame, keys: list[str], *,
                        lg_k: int = 12, rho_cap: int = 24,
                        out_col: str = "n_est",
                        measure_aggs: list | None = None) -> DataFrame:
    """Level 2 of the fused pipeline: combine the caller's measure
    partials and fold the register estimate (same exact-integer Z and
    driver-injected LC literals as :func:`hll_estimate_registers`, so
    the estimate is bit-identical). Returns (keys..., measures...,
    out_col)."""
    m = 1 << lg_k
    kk = hll_estimate_scale_constant(lg_k, rho_cap)
    agg = lvl1.groupBy(*keys).agg(
        *(measure_aggs or []),
        F.count("j").alias("_present"),
        F.sum(F.when(F.col("j").isNotNull(), F.expr(
            f"shiftleft(1L, CAST({rho_cap} - least(rho_max, {rho_cap}) "
            f"AS INT))"))).alias("_zp"))
    measure_cols = [c for c in agg.columns
                    if c not in set(keys) | {"_present", "_zp"}]
    agg = agg.select(
        *keys, *measure_cols,
        (F.lit(m) - F.col("_present")).alias("_v0"),
        (F.col("_zp")
         + (F.lit(m) - F.col("_present")) * F.lit(1 << rho_cap))
        .alias("_z"))
    lc = lvl1.sparkSession.createDataFrame(
        hll_lc_literals(lg_k), "v0 long, lc double")
    e_raw = F.lit(kk) / F.col("_z").cast("double")
    est = (F.when((F.col("_v0") > 0) & (e_raw <= F.lit(2.5 * m)),
                  F.col("lc"))
           .otherwise(e_raw))
    return (agg.join(F.broadcast(lc), agg["_v0"] == lc["v0"], "left")
            .select(*keys, *measure_cols, est.alias(out_col)))
