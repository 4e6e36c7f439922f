"""Distribution statistics and anomaly flags over numeric measures —
per-group moments, z-score outliers, exact interpolated percentiles.

A pipeline uses these for data-quality monitoring (is today's value
distribution drifting?), outlier quarantine, and threshold tuning. The
reference computes only sum/avg KPIs (``REF/glue_jobs/transform.py``);
this extends the aggregation surface.

Hash-exactness design (the whole point of this module's shape):

- the measure is converted to EXACT INTEGER cents first
  (``floor(x*100 + 0.5)`` — floor is engine-portable; banker's-vs-half-up
  ``round`` is not);
- every aggregate is an integer sum/count (associative — partial
  aggregation order can't perturb it);
- every derived double is a FIXED, explicit op tree over those exact
  integers: one cast, one subtraction, one division, one ``sqrt`` — each
  individually deterministic under IEEE 754 (sqrt is correctly rounded by
  spec, unlike ``ln``/``exp``, which differ across libm implementations),
  so Spark and DuckDB produce identical bits when the oracle SQL writes
  the SAME tree.
- variance numerator ``n·Σx² − (Σx)²`` stays in exact int64: with cent
  values ≤ ~2×10⁶ that overflows only past ~10⁹ rows per group — document
  the bound, don't silently lose precision (at that scale switch the two
  sums to DECIMAL(38,0)).

Plans: z-scores ride ONE window shuffle (no join-back of a stats table);
percentiles ride the same exchange with an ordered window; the moments
table is a plain partial+final hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from . import ids


def cents(col: Column | str, *, scale: int = 100) -> Column:
    """Exact integer (value × scale) — floor(x·s + 0.5) is bit-portable
    across engines; HALF_UP vs banker's ``round`` is not."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * scale + F.lit(0.5)).cast("long")


def _var_stddev(n: Column, s: Column, ss: Column) -> tuple[Column, Column]:
    """Sample variance/stddev from exact (n, Σx, Σx²): integer numerator,
    one division, one sqrt — the portable tree."""
    var = ((n * ss - s * s).cast("double")
           / (n * (n - 1)).cast("double"))
    return var, F.sqrt(var)


def group_moments(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-group (n, sum_cents, sumsq_cents, mean, variance, stddev) —
    integers exact, doubles derived via the portable tree (NULL variance
    for single-row groups rather than a division by zero)."""
    c = cents(value_col)
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("sum_cents"),
        F.sum(c * c).alias("sumsq_cents"),
    )
    var, sd = _var_stddev(F.col("n"), F.col("sum_cents"), F.col("sumsq_cents"))
    guard = F.col("n") > 1
    return agg.select(
        *keys, "n", "sum_cents", "sumsq_cents",
        (F.col("sum_cents").cast("double") / F.col("n").cast("double"))
        .alias("mean_cents"),
        F.when(guard, var).alias("var_cents"),
        F.when(guard, sd).alias("stddev_cents"),
    )


def zscore_flags(df: DataFrame, keys: list[str], value_col: str, *,
                 z_threshold: float = 3.0) -> DataFrame:
    """Every row + its within-group z-score + an ``is_anomaly`` flag.

    The group moments come from an UNORDERED window over the same hash
    partitioning (one shuffle total) — no stats-table join-back. z is
    computed over exact cents in the portable tree, so the column is
    oracle-hashable; the flag is a comparison of identical doubles."""
    w = Window.partitionBy(*keys)
    c = cents(value_col)
    n = F.count(F.lit(1)).over(w)
    s = F.sum(c).over(w)
    ss = F.sum(c * c).over(w)
    mean = s.cast("double") / n.cast("double")
    _, sd = _var_stddev(n, s, ss)
    z = (c.cast("double") - mean) / sd
    return (df
            .withColumn("z", F.when(n > 1, z))
            .withColumn("is_anomaly",
                        F.coalesce(F.abs(F.col("z")) > z_threshold,
                                   F.lit(False))))


def group_percentiles(df: DataFrame, keys: list[str], value_col: str, *,
                      ps: tuple[float, ...] = (0.5, 0.95)) -> DataFrame:
    """Per-group linear-interpolated percentiles of the exact cent values
    (the ``percentile_cont``/numpy 'linear' definition) — computed from an
    EXPLICIT rank formula so the oracle can run the identical tree:

        pos = (n-1)·p;  lo = floor(pos);  frac = pos − lo
        pct = v[lo] + (v[lo+1 or lo] − v[lo]) · frac

    One ordered window per group (rank + count ride the same sort);
    interpolation arithmetic is double-exact on integer inputs ≤ 2⁵³.
    Built-in ``percentile``/``quantile_cont`` are NOT used — their
    internal summation order is engine-specific; this formula is not."""
    c = cents(value_col)
    wo = Window.partitionBy(*keys).orderBy(c.asc())
    wn = Window.partitionBy(*keys)
    base = df.select(*keys, c.alias("_c"),
                     F.row_number().over(wo).alias("_rn"),
                     F.count(F.lit(1)).over(wn).alias("_n"))
    # vlo/vhi are conditional aggregates over the group; frac is per-row
    # but group-constant (depends only on n) — fold all in one agg pass
    pos_exprs = []
    for p in ps:
        pos = (F.col("_n") - 1).cast("double") * F.lit(float(p))
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        frac = pos - F.floor(pos)
        vlo = F.max(F.when(F.col("_rn") == lo + 1, F.col("_c"))).cast("double")
        vhi = F.max(F.when(F.col("_rn") == hi + 1, F.col("_c"))).cast("double")
        name = f"p{int(p * 100)}_cents"
        pos_exprs.append((vlo + (vhi - vlo) * F.max(frac)).alias(name))
    return (base.groupBy(*keys)
            .agg(F.max("_n").alias("n"), *pos_exprs))


#: distinct-keys-per-partition bound under which the pinned GK path's
#: ObjectHashAggregate is guaranteed to stay on the hash (insert-order-
#: preserving) path — see group_percentiles_approx's contract note. 2^20
#: groups per task is far past any certification query while still being
#: a real bound (a pathological billion-group pinned call would fall
#: back rather than OOM the hashmap).
_GK_PINNED_FALLBACK_THRESHOLD = 1 << 20


def group_percentiles_approx(df: DataFrame, keys: list[str], value_col: str,
                             *, ps: tuple[float, ...] = (0.5, 0.95),
                             accuracy: int = 10_000,
                             pinned: bool = False) -> DataFrame:
    """The 100 TB percentile path: Greenwald-Khanna ``percentile_approx``
    sketches — mergeable partial aggregates, no per-group sort, rank error
    ≤ 1/accuracy.

    ``pinned=True`` (round 10) makes the sketch DETERMINISTIC and hence
    replay-oracle-certifiable (pyref.GKReplay): hash-repartition on the
    group keys puts each group in exactly ONE partition (one aggregation
    buffer, so the order-sensitive partial-sketch merge never runs) and
    ``sortWithinPartitions`` feeds each buffer its values ascending (the
    insert order only matters past the 50000-row head buffer, but pinning
    it makes the contract size-independent). Cost vs the free-form path:
    one extra shuffle + in-partition sort, and per-group parallelism drops
    to one task per group — the right trade for a CERTIFICATION query;
    production aggregation keeps the default mergeable no-sort plan.
    Default (pinned=False) stays engine-specific → rows-only.

    Pinned NULL contract (round-10 ADVICE): the sketch only ever sees
    non-null values, so the pinned path filters ``value IS NOT NULL`` up
    front — ``n`` then counts sketch inserts exactly and all-null groups
    emit nothing, mirroring pyref.events_gk_percentiles_oracle (which
    skips nulls and empty groups). The free-form path keeps the
    ANALYZE-style total row count.

    Pinned determinism contract, SELF-ENFORCED since round 12 (VERDICT
    r11 item 7; previously a documented-but-unasserted caveat): the
    single-buffer contract rides ObjectHashAggregate's hash path, whose
    sort-based fallback (after ``spark.sql.objectHashAggregate.
    sortBased.fallbackThreshold`` = 128 distinct keys per partition by
    default) re-sorts rows by GROUPING KEY only — within-group ascending
    order of ``_c`` is then no longer guaranteed, which silently breaks
    replay once any group exceeds the 50000-row GK head buffer. The
    pinned path now RAISES the session threshold to ``_GK_PINNED_
    FALLBACK_THRESHOLD`` whenever it is lower, so the hash path (and the
    insert order the replay oracle assumes) holds for any realistic
    certification group count. Deliberately NOT restored after the call:
    the setting is read at action time, not plan time, and the returned
    frame is lazy. Memory trade is documented and safe here — the
    fallback exists to bound per-task hashmap group counts, and
    certification queries group by low-cardinality keys; production
    aggregation uses pinned=False and keeps the stock threshold."""
    c = cents(value_col)
    if pinned:
        spark = df.sparkSession
        conf_key = ("spark.sql.objectHashAggregate.sortBased."
                    "fallbackThreshold")
        try:
            cur = int(spark.conf.get(conf_key, "128"))
        except ValueError:  # pragma: no cover — unparsable override
            cur = 0
        if cur < _GK_PINNED_FALLBACK_THRESHOLD:
            spark.conf.set(conf_key, str(_GK_PINNED_FALLBACK_THRESHOLD))
        df = (df.filter(F.col(value_col).isNotNull())
              .select(*keys, c.alias("_c"))
              .repartition(*[F.col(k) for k in keys])
              .sortWithinPartitions(*keys, "_c"))
        c = F.col("_c")
    aggs = [F.percentile_approx(c, float(p), accuracy)
            .cast("double").alias(f"p{int(p * 100)}_cents") for p in ps]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"), *aggs)


def group_corr(df: DataFrame, keys: list[str], x_col: str, y_col: str, *,
               out_col: str = "corr") -> DataFrame:
    """Per-group Pearson correlation of the exact cent values, computed
    through the PORTABLE op tree (built-in ``corr`` streams doubles in
    partition order — not reproducible across engines or partitionings):

        mean_x = Σx/n;  cov = Σxy/n − mean_x·mean_y
        var_x  = Σx²/n − mean_x²;  r = cov / (√var_x · √var_y)

    Every input sum is an exact int64 (associative); every derived step is
    an individually correctly-rounded IEEE op (div, mul, sub, sqrt) — the
    oracle runs the identical tree, bit for bit. Per-group sums of x², y²
    and x·y stay exact while n·max(cent)² < 2⁶³ (~3×10¹⁶ cent-products per
    group at 10⁷-cent values); past that switch the three product sums to
    DECIMAL(38,0), as with group_moments. Zero-variance groups yield NULL.
    """
    x, y = cents(x_col), cents(y_col)
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"), F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    mx = F.col("_sx").cast("double") / n
    my = F.col("_sy").cast("double") / n
    cov = F.col("_sxy").cast("double") / n - mx * my
    vx = F.col("_sxx").cast("double") / n - mx * mx
    vy = F.col("_syy").cast("double") / n - my * my
    r = cov / (F.sqrt(vx) * F.sqrt(vy))
    return agg.select(*keys, "n",
                      F.when((vx > 0) & (vy > 0), r).alias(out_col))


def group_ols(df: DataFrame, keys: list[str], x_col: Column | str,
              y_col: Column | str, *, y_scale: int = 100) -> DataFrame:
    """Per-group simple linear regression (OLS of y on x) through the
    portable op tree — the per-entity TREND operator (is this user's
    spend rising?, is this sensor drifting?).

    ``x_col`` must already be an exact integer (a day index, an epoch
    second); ``y_col`` is scaled to cents. All five sums are exact int64,
    then:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)      — ONE division
        intercept = (Σy − slope·Σx) / n                     — rounded ops

    (built-in ``regr_slope`` streams doubles in partition order — not
    reproducible across engines; this tree is, bit for bit). Groups with
    n < 2 or zero x-variance yield NULL slope/intercept. Exactness bound:
    n·max|x·y_cents| < 2⁶³ per group, same envelope as group_corr.
    """
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("long")
    y = cents(y_col, scale=y_scale)
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"), F.sum(x * y).alias("_sxy"),
    )
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
    den = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
    slope = num.cast("double") / den.cast("double")
    intercept = ((F.col("_sy").cast("double")
                  - slope * F.col("_sx").cast("double"))
                 / F.col("n").cast("double"))
    valid = den > 0
    return agg.select(
        *keys, "n",
        F.when(valid, slope).alias("slope_cents"),
        F.when(valid, intercept).alias("intercept_cents"))


def winsorized_mean(df: DataFrame, keys: list[str], value_col: str, *,
                    p_lo: float = 0.05, p_hi: float = 0.95) -> DataFrame:
    """Per-group winsorized mean: clamp each value to the group's
    [p_lo, p_hi] NEAREST-RANK percentiles (rank ``ceil(p·n)``, an exact
    integer cent — interpolated percentiles would make the clamp bounds
    doubles and the clamped sum order-dependent), then average.

    One ordered window gives rank + count; two conditional-max windows on
    the SAME exchange extract the bounds; the final roll-up sums exact
    clamped integers — one IEEE division total. The robust-mean aggregate
    for monitoring dashboards where a fat tail would drown the signal.
    """
    c = cents(value_col)
    wo = Window.partitionBy(*keys).orderBy(c.asc())
    wn = Window.partitionBy(*keys)
    rn = F.row_number().over(wo)
    n = F.count(F.lit(1)).over(wn)
    base = df.select(*keys, c.alias("_c"), rn.alias("_rn"), n.alias("_n"))
    lo_rank = F.ceil(F.lit(p_lo) * F.col("_n")).cast("long")
    hi_rank = F.ceil(F.lit(p_hi) * F.col("_n")).cast("long")
    lo = F.max(F.when(F.col("_rn") == F.greatest(lo_rank, F.lit(1)),
                      F.col("_c"))).over(wn)
    hi = F.max(F.when(F.col("_rn") == hi_rank, F.col("_c"))).over(wn)
    clamped = F.greatest(F.least(F.col("_c"), hi), lo)
    return (base
            .select(*keys, clamped.alias("_w"))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("_w").alias("wsum_cents"))
            .withColumn("winsorized_mean_cents",
                        F.col("wsum_cents").cast("double")
                        / F.col("n").cast("double")))


def rolling_time_agg(df: DataFrame, keys: list[str], ts_col: str,
                     value_col: str, *, window_seconds: int,
                     out_prefix: str = "w") -> DataFrame:
    """Per-ROW trailing time-range aggregates: count and exact-cent sum of
    the key's rows inside ``[ts − window_seconds, ts]`` — the rolling
    7-day-volume / velocity feature every fraud, engagement, and
    rate-limit model wants, leakage-free (the frame never looks forward).

    ONE window on one key exchange with a RANGE frame over epoch seconds —
    Spark's range frame demands a numeric ordering column, and epoch
    seconds also makes the frame arithmetic engine-portable (an INTERVAL
    frame would drag in calendar semantics). Ties share the frame (RANGE
    includes peers) in every engine. All aggregates are integer
    count/sum — hash-exact.

    At 100 TB this beats the self-join formulation (events ⋈ events ON
    ts BETWEEN) outright: one exchange + one sort vs an O(rows × window
    density) join explosion.
    """
    epoch = F.unix_timestamp(F.col(ts_col))
    w = (Window.partitionBy(*keys).orderBy(epoch)
         .rangeBetween(-window_seconds, 0))
    c = cents(value_col)
    return df.select(
        *df.columns,
        F.count(F.lit(1)).over(w).alias(f"{out_prefix}_n"),
        F.sum(c).over(w).alias(f"{out_prefix}_sum_cents"))


def loo_mean(df: DataFrame, keys: list[str], value_col: str, *,
             out_col: str = "loo_mean_cents") -> DataFrame:
    """Leave-one-out target encoding: each row gets the mean of its
    GROUP'S value EXCLUDING the row itself — (Σ − x)/(n − 1), NULL for
    singleton groups. The leakage-safe categorical encoding (plain target
    encoding leaks each row's own label into its feature; LOO removes
    exactly that term).

    One unordered window over one key exchange — no stats-table join-back.
    Numerator and count are exact integers; the encoding is one IEEE
    division, so the column is hash-portable.
    """
    c = cents(value_col)
    wn = Window.partitionBy(*keys)
    s = F.sum(c).over(wn)
    n = F.count(F.lit(1)).over(wn)
    return df.select(
        *df.columns,
        F.when(n > 1, (s - c).cast("double") / (n - 1).cast("double"))
        .alias(out_col))


def mad_outliers(df: DataFrame, keys: list[str], value_col: str, *,
                 k: float = 3.0) -> DataFrame:
    """Median-absolute-deviation outlier flags, integer-exact: per group
    take the LOW MEDIAN of the cent values (rank ``(n+1) div 2`` — an
    actual data point, so it stays integer; the interpolated median would
    leak doubles into every downstream comparison), deviations
    ``|x − med|``, the low median of THOSE (= MAD), and flag rows with
    ``dev > k·MAD``. The robust alternative to z-scores when the tail
    itself is what's being hunted (outliers inflate stddev and mask
    themselves; the median and MAD don't move).

    Two ordered window passes on the SAME key exchange (second pass
    re-sorts within partitions, no new shuffle). With k rational
    (default 3) the flag compares integers — fully hash-portable.
    """
    c = cents(value_col)
    wo = Window.partitionBy(*keys).orderBy(c.asc())
    wn = Window.partitionBy(*keys)
    base = df.select(
        *df.columns, c.alias("_c"),
        F.row_number().over(wo).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"))
    med = F.max(F.when(F.col("_rn") == F.floor((F.col("_n") + 1) / 2),
                       F.col("_c"))).over(wn)
    dev = base.select(*df.columns, "_n",
                      F.abs(F.col("_c") - med).alias("_dev"),
                      F.col("_c").alias("value_cents"),
                      med.alias("median_cents"))
    wo2 = Window.partitionBy(*keys).orderBy(F.col("_dev").asc())
    wn2 = Window.partitionBy(*keys)
    mad = F.max(F.when(F.col("_rn2") == F.floor((F.col("_n") + 1) / 2),
                       F.col("_dev"))).over(wn2)
    return (dev
            .withColumn("_rn2", F.row_number().over(wo2))
            .withColumn("mad_cents", mad)
            .withColumn("is_outlier",
                        F.col("_dev").cast("double")
                        > F.lit(float(k)) * F.col("mad_cents"))
            .drop("_rn2", "_n", "_dev"))


def sliding_distinct_count(df: DataFrame, entity_col: str, ts_col: str, *,
                           window_days: int = 30) -> DataFrame:
    """EXACT rolling N-day distinct entities per day (MAU/WAU) —
    ``(report_day, active)`` for every day in the observed range.

    A RANGE-frame ``countDistinct`` window is unsupported (and would hold
    per-frame state anyway), and re-scanning 30 days per report day is 30
    fact scans. The scalable exact formulation inverts it: dedup to
    (entity, active_day) — the only fact-sized pass — then each active day
    CONTRIBUTES to the ≤ ``window_days`` report days it falls inside
    (an in-row integer ``sequence`` explode: bounded ×window_days blowup
    of the already-deduped table), and one distinct-agg per report day
    finishes. Two key shuffles total, both on collapsed tables; day
    arithmetic stays in integer epoch-days so the explode is a pure int
    range. The approximate path at lake scale is the HLL daily-sketch
    rollup (operators/sketches.py) — same answer shape, no explode.
    """
    epoch = F.lit("1970-01-01")
    act = (df.select(F.col(entity_col).alias("_e"),
                     F.datediff(F.to_date(ts_col), epoch).alias("_d"))
           .distinct())
    # the bound comes from the DEDUPED frame (max active day ≡ max event
    # day) — materializing act keeps this a single fact-sized pass: the
    # 1-row bound and the explode both read the collapsed table.
    act = materialize(act)
    bounds = act.agg(F.max("_d").alias("_mx"))
    slots = act.select(
        "_e", F.explode(F.sequence(
            F.col("_d"), F.col("_d") + F.lit(window_days - 1))).alias("_s"))
    return (slots.crossJoin(F.broadcast(bounds))
            .filter(F.col("_s") <= F.col("_mx"))
            .groupBy("_s")
            .agg(F.countDistinct("_e").alias("active"))
            .select(F.date_add(F.to_date(epoch), F.col("_s").cast("int"))
                    .alias("report_day"), "active"))


def decayed_sum(df: DataFrame, keys: list[str], value_col: str,
                ts_col: str, *, horizon_days: int = 30) -> DataFrame:
    """Exponential time-decay score per key (half-life = 1 day):
    ``score = Σ value·2^(−age_days)`` over the trailing horizon.

    The float form is order-dependent under parallel summation, so the
    roll-up happens in EXACT integer space: each event contributes
    ``value_cents · 2^(horizon − age)`` (a bit-shift of exact longs,
    age ∈ [0, horizon]), summed as BIGINT, and the score is ONE IEEE
    division by 2^horizon at the end — hash-identical on any engine, any
    partitioning. Overflow envelope: cents ≤ 10^6 · 2^30 ≈ 10^15 per row,
    ~10^3 rows/key at test scale → well inside int64; a larger horizon
    trades to DECIMAL(38,0), same playbook as group_corr.
    One scan, one key shuffle (partial aggs map-side).
    """
    mx = df.agg(F.max(F.to_date(ts_col)).alias("_mx"))
    scaled = F.lit(2 ** horizon_days).cast("long")
    out = (df.crossJoin(F.broadcast(mx))
           .withColumn("_age", F.datediff(F.col("_mx"), F.to_date(ts_col)))
           .filter(F.col("_age").between(0, horizon_days))
           .withColumn("_w", F.expr(
               f"shiftleft(CAST(1 AS BIGINT), "
               f"CAST({int(horizon_days)} - _age AS INT))"))
           .groupBy(*keys)
           .agg(F.sum(cents(value_col) * F.col("_w"))
                .alias("decay_scaled")))
    return out.select(
        *keys, "decay_scaled",
        (F.col("decay_scaled").cast("double") / scaled.cast("double"))
        .alias("decay_score"))


def daily_ohlc(df: DataFrame, group_cols: list[str], ts_col: str,
               tie_col: str, value_col: str) -> DataFrame:
    """Open/high/low/close resampling in exact integer cents — the
    grouped time-series downsample (finance OHLC, telemetry rollup, LLM
    usage-metering) per group key (typically entity × day).

    First/last are NOT min/max of the value: they are the value at the
    extremal (ts, tie) position. Expressed as ONE hash aggregate — no
    window, no sort — via lexicographic struct min/max: ``min(struct(ts,
    tie, v)).v`` is the open, ``max(...).v`` the close; (ts, tie) is a
    total order so the result is deterministic and engine-portable.
    Partial aggregation applies (struct min/max combine associatively), so
    at 100 TB this is one map-side-combined exchange on the group key."""
    v = cents(value_col)
    first = F.min(F.struct(F.col(ts_col), F.col(tie_col), v.alias("v")))
    last = F.max(F.struct(F.col(ts_col), F.col(tie_col), v.alias("v")))
    return (df.groupBy(*group_cols)
            .agg(first.getField("v").alias("open_cents"),
                 F.max(v).alias("high_cents"),
                 F.min(v).alias("low_cents"),
                 last.getField("v").alias("close_cents"),
                 F.count(F.lit(1)).alias("n_events")))


def zscore_apply(df: DataFrame, params: DataFrame, keys: list[str],
                 value_col: str) -> DataFrame:
    """Apply TRAIN-FITTED normalization parameters to another frame — the
    leakage-free feature-transform pattern: ``params`` is a
    ``group_moments`` table fitted on the training split only; this
    broadcast-joins it on the (k-row) key and appends
    ``z = (cents - mean) / stddev``. Groups absent from the fit (inner
    join) drop — an unseen category at apply time is a modeling decision,
    not a silent 0. The z tree is the same portable
    subtract-one-division shape ``events_value_anomalies`` already
    hash-certifies."""
    c = cents(value_col)
    out = df.join(
        F.broadcast(params.select(*keys, "mean_cents", "stddev_cents")),
        keys)
    z = ((c.cast("double") - F.col("mean_cents"))
         / F.col("stddev_cents"))
    return out.withColumn("z", z)


def concentration_coverage(df: DataFrame, key_col: str, weight: Column, *,
                           num: int = 4, den: int = 5) -> DataFrame:
    """Pareto-principle readout: the smallest set of keys (taken in
    descending weight order, key asc on ties) whose weight covers at
    least ``num/den`` of the total — "how many customers make 80 % of
    revenue". One row: (n_keys, n_covering, covered_weight,
    total_weight, covered_share, target_num, target_den).

    The threshold test is the cross-multiplied INTEGER comparison
    cum·den ≥ total·num (no float ratio ever feeds a comparison); a key
    belongs to the covering prefix iff the PREVIOUS cumulative weight
    had not yet reached the target. ``covered_share`` is the single
    final IEEE division — hash-exact.

    Plan: one key aggregation, then the descending-weight running total
    rides the two-phase ``ids.global_cumsums_with_totals``
    (range-partition on the NEGATED weight — exact for BIGINT — + key
    tie-break; k partition sums to the driver) instead of a single-task
    ``sum() OVER (ORDER BY)``; the total falls out of the driver-side
    prefix as a literal (no totals job); one scalar roll-up. No
    unpartitioned window at key grain — the plan survives 10⁹+ keys.
    """
    per_key = (df.groupBy(key_col).agg(F.sum(weight).alias("_w"))
               .withColumn("_nw", -F.col("_w")))
    c, (tot,) = ids.global_cumsums_with_totals(
        per_key, ["_nw", key_col], ["_w"], ["_cum"])
    marked = c.select(
        "_w", "_cum", F.lit(tot).cast("bigint").alias("_tot"),
        (((F.col("_cum") - F.col("_w")) * den)
         < F.lit(tot * num)).alias("_covering"))
    return marked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("_covering").cast("bigint")).alias("n_covering"),
        F.max(F.when(F.col("_covering"), F.col("_cum")))
        .alias("covered_weight"),
        F.max("_tot").alias("total_weight"),
        (F.max(F.when(F.col("_covering"), F.col("_cum"))).cast("double")
         / F.max("_tot").cast("double")).alias("covered_share"),
        F.lit(num).cast("bigint").alias("target_num"),
        F.lit(den).cast("bigint").alias("target_den"))


def weighted_median(df: DataFrame, keys: list[str], val_col: str,
                    weight: Column) -> DataFrame:
    """Exact per-key lower weighted median: the smallest value v such
    that the cumulative weight of rows with value ≤ v reaches half the
    total — 2·cum ≥ total as an INTEGER comparison (weights are exact
    longs; no float quantile interpolation). Returns (keys, median,
    total_weight).

    Plan: per-(key, value) weight aggregation, ordered cumulative window
    + per-key total on the same key exchange, then a rank-1 window over
    the qualifying rows → WindowGroupLimit. Unweighted exact percentiles
    live in ``group_percentiles``; this is their weighted sibling.
    """
    per_val = (df.groupBy(*keys, val_col)
               .agg(F.sum(weight).alias("_w")))
    w = Window.partitionBy(*keys).orderBy(val_col)
    cum = F.sum("_w").over(w.rowsBetween(Window.unboundedPreceding, 0))
    tot = F.sum("_w").over(
        Window.partitionBy(*keys).rowsBetween(Window.unboundedPreceding,
                                              Window.unboundedFollowing))
    q = (per_val.select(*keys, val_col, cum.alias("_cum"),
                        tot.alias("_tot"))
         .filter(F.col("_cum") * 2 >= F.col("_tot")))
    pick = Window.partitionBy(*keys).orderBy(F.col(val_col).asc())
    return (q.withColumn("_rk", F.row_number().over(pick))
            .filter(F.col("_rk") == 1)
            .select(*keys, F.col(val_col).alias("median"),
                    F.col("_tot").alias("total_weight")))


def abc_classes(df: DataFrame, key_col: str, weight: Column, *,
                a_num: int = 4, a_den: int = 5,
                b_num: int = 19, b_den: int = 20) -> DataFrame:
    """ABC (Pareto) classification: keys in descending weight order are
    'A' while the cumulative share is within a_num/a_den (default 80 %),
    'B' within b_num/b_den (default 95 %), else 'C' — the inventory-
    prioritization classifier. Class boundaries are the cross-multiplied
    INTEGER tests cum·den ≤ total·num evaluated on the PREVIOUS row's
    cumulative (a key whose prefix had not yet crossed the band belongs
    to the band), so membership is deterministic and hash-exact; the
    emitted share is one final division. Same two-phase posture as
    ``concentration_coverage``: the descending-weight running total is
    ``ids.global_cumsums_with_totals`` over the negated weight (+ key
    tie-break); the total falls out of the driver-side prefix as a
    literal — no key-grain global window, no totals job, anywhere in
    the plan."""
    per_key = (df.groupBy(key_col).agg(F.sum(weight).alias("weight"))
               .withColumn("_nw", -F.col("weight")))
    c, (tot,) = ids.global_cumsums_with_totals(
        per_key, ["_nw", key_col], ["weight"], ["cum_weight"])
    prev_cum = F.col("cum_weight") - F.col("weight")
    cls = (F.when(prev_cum * a_den < F.lit(tot * a_num), "A")
           .when(prev_cum * b_den < F.lit(tot * b_num), "B")
           .otherwise("C"))
    return c.select(key_col, "weight", "cum_weight",
                    (F.col("cum_weight").cast("double")
                     / F.lit(float(tot))).alias("cum_share"),
                    cls.alias("abc_class"))


def autocorrelation(daily: DataFrame, keys: list[str], order_col: str,
                    val_col: str, *, max_lag: int = 7) -> DataFrame:
    """Per-key autocorrelation r_k for lags 1..max_lag over an ordered
    exact-long series, INTEGER-exact until the final division: with
    dev_t = n·x_t − S (n rows, S = Σx — both per-key window scalars, so
    dev is a BIGINT with the mean cleared), r_k = Σ dev_t·dev_{t+k} /
    Σ dev_t² — numerator and denominator exact longs, ONE division out.
    The seasonality/memory diagnostic a forecaster reads before picking
    lags. Overflow envelope: |dev| < ~3·10⁹ (n·max|x|), products under
    2⁶³ — series of ~10⁵ daily points of ~10⁴-unit values fit.

    Plan: one key-ordered window pass computes dev and its max_lag
    shifted copies, one aggregation forms all numerators + the
    denominator, then an in-row unpivot (no second scan).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    tot = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    n = F.count(F.lit(1)).over(tot)
    s = F.sum(val_col).over(tot)
    dev = (n * F.col(val_col) - s)
    d = daily.withColumn("_dev", dev).withColumn("_n", n)
    for k in range(1, max_lag + 1):
        d = d.withColumn(f"_dev{k}", F.lag("_dev", k).over(w))
    agg = d.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        F.sum(F.col("_dev") * F.col("_dev")).alias("_den"),
        *[F.sum(F.col("_dev") * F.col(f"_dev{k}")).alias(f"_num{k}")
          for k in range(1, max_lag + 1)])
    stack = F.expr("stack({}, {})".format(
        max_lag, ", ".join(f"CAST({k} AS BIGINT), _num{k}"
                           for k in range(1, max_lag + 1)))) \
        .alias("lag", "num")
    return (agg.select(*keys, "n", "_den", stack)
            .select(*keys, "n", "lag",
                    F.col("num").alias("scaled_cov"),
                    F.col("_den").alias("scaled_var"),
                    (F.col("num").cast("double")
                     / F.col("_den").cast("double")).alias("r")))


def ks_two_sample(df: DataFrame, group_col: str, val_col: str, *,
                  group_a, group_b) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, INTEGER-exact argmax:
    D = max over values of |F_a − F_b| is located by maximizing the
    cross-multiplied |c_a·n_b − c_b·n_a| (exact longs — no float CDF is
    ever compared), then ONE division by n_a·n_b emits D. One row:
    (n_a, n_b, ks_at_value, scaled_max, ks_d); ties on the max take the
    smallest value. The nonparametric sibling of ``welch_t`` — detects
    any distributional difference, not just a mean shift.

    Plan: per-value conditional counts (the only fact-sized exchange),
    then BOTH cumulative CDFs ride one two-phase
    ``ids.global_cumsums_with_totals`` over the merged value order —
    range-partition + k partition sums to the driver, never a
    single-task ``sum() OVER (ORDER BY)`` (the r5 VERDICT scale flag).
    n_a/n_b fall out of the driver-side prefix as literals (no totals
    job, no cross-join), the argmax is a scalar max + an equality probe
    against the broadcast max — no global window anywhere, every stage
    partition-parallel. The cumulative frame is value-grain and feeds
    two branches, so it is localCheckpoint'd once (distinct measure
    values — bounded by the value domain, not the row count).
    """
    per_val = (df.groupBy(F.col(val_col).alias("v"))
               .agg(F.count(F.when(F.col(group_col) == group_a, 1))
                    .alias("_ca"),
                    F.count(F.when(F.col(group_col) == group_b, 1))
                    .alias("_cb")))
    cum, (n_a, n_b) = ids.global_cumsums_with_totals(
        per_val, ["v"], ["_ca", "_cb"], ["ca", "cb"])
    scored = materialize(cum.withColumn("_scaled",
                                        F.abs(F.col("ca") * F.lit(n_b)
                                              - F.col("cb") * F.lit(n_a))))
    smax = scored.agg(F.max("_scaled").alias("_smax"))
    return (scored.join(F.broadcast(smax),
                        F.col("_scaled") == F.col("_smax"))
            .agg(F.lit(n_a).cast("bigint").alias("n_a"),
                 F.lit(n_b).cast("bigint").alias("n_b"),
                 F.min("v").alias("ks_at_value"),
                 F.max("_scaled").alias("scaled_max"),
                 (F.max("_scaled").cast("double")
                  / F.lit(float(n_a * n_b))).alias("ks_d")))


def equidepth_histogram(df: DataFrame, val_col: str, uniq_col: str, *,
                        n_buckets: int = 12) -> DataFrame:
    """EXACT equi-depth histogram: rows split into ``n_buckets`` ANSI
    ntile buckets by value (unique column as tie-break → total order),
    then per-bucket (bucket, n, lo, hi) — the boundary table an
    optimizer or a drift monitor keeps per column. Unlike
    ``approx_percentile`` the boundaries are exact and deterministic,
    so the table is oracle-hashable.

    Plan: ``ids.global_ntile`` (two-phase range partition — row-grain
    input, NO single-task window) + one bucket aggregation. At 100 TB
    the range shuffle is the same cost a global sort would pay, but
    fully parallel.
    """
    b = ids.global_ntile(df.select(val_col, uniq_col),
                         [val_col, uniq_col], n_buckets,
                         out_col="bucket")
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(val_col).alias("lo"),
                 F.max(val_col).alias("hi")))


def lorenz_table(df: DataFrame, key_col: str, weight: Column, *,
                 n_bins: int = 10) -> DataFrame:
    """Lorenz-curve table: keys ranked ASCENDING by total weight into
    ``n_bins`` ANSI ntile bins (key tie-break), each bin reporting
    (bin, n_keys, bin_weight, cum_weight, cum_share) — the inequality
    readout behind every Gini chart ("the bottom 50 % of customers
    carry 4 % of revenue"). Complements ``user_spend_gini`` (the
    scalar) with the plottable curve, and ``concentration_coverage``
    (top-down prefix) with the bottom-up bins.

    Exactness: weights are exact longs, bin assignment is
    ``ids.global_ntile`` over a total order, cum_share is the ONE IEEE
    division. Plan: key aggregation → two-phase ntile at KEY grain →
    bin aggregation → a cumsum window over ``n_bins`` CONSTANT rows.
    """
    per_key = df.groupBy(key_col).agg(F.sum(weight).alias("_w"))
    b = ids.global_ntile(per_key, ["_w", key_col], n_bins, out_col="bin")
    g = (b.groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n_keys"),
              F.sum("_w").alias("bin_weight")))
    cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    return g.select(
        "bin", "n_keys", "bin_weight",
        F.sum("bin_weight").over(cum).cast("long").alias("cum_weight"),
        (F.sum("bin_weight").over(cum).cast("double")
         / F.sum("bin_weight").over(tot).cast("double"))
        .alias("cum_share"))


def period_drift_table(df: DataFrame, period_a: Column,
                       bucket_col: str) -> DataFrame:
    """Distribution-drift monitor between two row populations (period A
    = rows where ``period_a`` is true, period B = the rest) over a
    bucketed measure: per bucket, both counts, both totals, the
    cross-multiplied integer drift magnitude
    ``scaled_diff = |c_a·n_b − c_b·n_a|`` and both share doubles — the
    integer CORE of a PSI/L1 drift dashboard (PSI's ln factor is not
    hash-portable; the shares and the exact scaled L1 are, and the L1
    distance is Σ scaled_diff / (n_a·n_b) client-side — one division
    per bucket here). Buckets with rows in only one period still appear
    (full outer semantics via the grid of observed buckets).

    Plan: one (period, bucket) aggregation (the only fact-sized
    exchange), a broadcast 1-row totals join, arithmetic projections.
    An empty period yields NULL shares (guarded division), not a
    raise — a drift monitor must survive a window with no traffic.
    """
    g = (df.groupBy(bucket_col)
         .agg(F.sum(F.when(period_a, 1).otherwise(0)).alias("c_a"),
              F.sum(F.when(period_a, 0).otherwise(1)).alias("c_b")))
    tots = g.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    j = g.crossJoin(F.broadcast(tots))
    return j.select(
        bucket_col, "c_a", "c_b", "n_a", "n_b",
        F.abs(F.col("c_a") * F.col("n_b")
              - F.col("c_b") * F.col("n_a")).alias("scaled_diff"),
        F.when(F.col("n_a") > 0,
               F.col("c_a").cast("double") / F.col("n_a").cast("double"))
        .alias("share_a"),
        F.when(F.col("n_b") > 0,
               F.col("c_b").cast("double") / F.col("n_b").cast("double"))
        .alias("share_b"))
