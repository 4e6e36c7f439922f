"""Interval algebra over keyed spans — merge overlapping/adjacent
intervals into islands, and per-key coverage roll-ups.

The reference has no interval surface (its only temporal op is
``to_date`` bucketing, `REF/glue_jobs/transform.py:19`); this is the
extension analogue every activity / availability / PII-span pipeline
needs: "collapse [start, end] spans per key into maximal disjoint
islands" (user activity windows, redaction-span normalization before
masking, sensor uptime, ad-exposure windows).

Spark-first shape — the classic gaps-and-islands formulation, ONE
exchange total:

- window 1 (per key, ordered by start, end): running max of *previous*
  rows' ends; a row starts a NEW island iff its start exceeds that
  running max by more than ``max_gap``;
- window 2 (same spec): running sum of the new-island flags = island id;
- final groupBy(key, island) → min(start), max(end), count — hash
  partitioning on ``keys`` (a subset of the group keys) already
  satisfies the aggregation's clustering, so both windows and the
  roll-up ride the single key exchange.

All comparisons are on the raw column values (longs / timestamps) —
no floats, fully oracle-comparable.

At 100 TB: the exchange is keyed by ``keys``; a single pathological key
with billions of spans serializes in one task — the standard mitigation
is pre-merging per (key, coarse time bucket) then re-merging bucket
boundaries, which composes from this same operator applied twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize


def merge_intervals(df: DataFrame, keys: list[str], start_col: str,
                    end_col: str, *, max_gap: Column | int = 0) -> DataFrame:
    """Collapse per-key intervals into maximal islands.

    Intervals are treated as closed; two spans merge when the next start
    is within ``max_gap`` of the furthest end seen so far (``max_gap=0``
    ⇒ touching spans merge). ``max_gap`` may be an int (for numeric
    span columns) or a Column (e.g. ``F.expr("INTERVAL 5 MINUTES")`` for
    timestamps).

    Returns one row per island: keys, ``span_start``, ``span_end``,
    ``n_spans`` — ordered deterministically only if the caller sorts.
    """
    gap = F.lit(max_gap) if isinstance(max_gap, int) else max_gap
    w = Window.partitionBy(*keys).orderBy(F.col(start_col), F.col(end_col))
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(
        prev_max_end.isNull()
        | (F.col(start_col) > prev_max_end + gap), 1).otherwise(0)
    flagged = df.withColumn("_new", new_island)
    island = F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    return (flagged.withColumn("_island", island)
            .groupBy(*keys, "_island")
            .agg(F.min(start_col).alias("span_start"),
                 F.max(end_col).alias("span_end"),
                 F.count(F.lit(1)).alias("n_spans"))
            .drop("_island"))


def interval_coverage(df: DataFrame, keys: list[str], start_col: str,
                      end_col: str, *, max_gap: Column | int = 0,
                      length: "callable | None" = None) -> DataFrame:
    """Per-key coverage summary of the merged islands: island count,
    total spans, and summed island length. ``length`` maps
    (span_start, span_end) → a numeric Column; default is end − start
    (numeric spans). For timestamps pass e.g.
    ``lambda s, e: F.unix_micros(e) - F.unix_micros(s)``.
    """
    merged = merge_intervals(df, keys, start_col, end_col, max_gap=max_gap)
    if length is None:
        def length(s, e):          # noqa: E731 — simple default
            return e - s
    span_len = length(F.col("span_start"), F.col("span_end"))
    # groupBy(keys) reuses the merge's key exchange (same subset rule)
    return (merged
            .withColumn("_len", span_len)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.sum("n_spans").alias("n_spans"),
                 F.sum("_len").alias("covered")))


def concurrency_histogram(df: DataFrame, start_col: str, end_col: str, *,
                          length: "callable | None" = None,
                          scaled: bool = False) -> DataFrame:
    """Sweep-line load profile over half-open ``[start, end)`` intervals:
    how much wall-clock time the system spent at each concurrency level.

    The classic plane sweep as DataFrame ops: every interval emits a
    ``+1`` boundary at its start and a ``-1`` at its end; boundaries are
    totally ordered by (time, delta) — the ``-1`` sorts first, so an
    interval ending exactly when another starts never counts as
    overlapping (half-open semantics). A running sum over that order is
    the concurrency level holding from each boundary until the next;
    zero-length segments (coincident boundaries) are dropped, then one
    groupBy rolls the timeline up to (level, total_us, n_segments).

    Timestamps compare exactly and durations are long microsecond sums —
    fully oracle-hashable. ``length`` maps (seg_start, seg_end) → a
    numeric Column; default is microseconds between timestamps (pass
    ``lambda s, e: e - s`` for numeric span columns).

    Default path: the running sum is ONE global window (all boundaries
    through a single task) — exact and fine for dashboard-sized interval
    sets. ``scaled=True`` is the lake path: range-partition the
    boundaries on (time, delta) into ``spark.sql.shuffle.partitions``
    ranges, per-partition delta sums + head timestamps to the driver
    (k rows), prefix-sum into level offsets, then each partition folds
    its own rows with the NEXT partition's head as the final segment end
    (the ``ids.global_cumsum`` plan plus a boundary handoff) — identical
    output, certified against the same oracle, with no single-task
    stage. The scaled path computes
    durations natively (timestamps are converted to unix micros
    JVM-side first); ``length`` applies to the default path only.
    """
    starts = df.select(F.col(start_col).alias("_t"),
                       F.lit(1).cast("bigint").alias("_d"))
    ends = df.select(F.col(end_col).alias("_t"),
                     F.lit(-1).cast("bigint").alias("_d"))
    bounds = starts.unionByName(ends)
    if scaled:
        return _concurrency_histogram_scaled(bounds)
    w = Window.orderBy("_t", "_d")
    level = F.sum("_d").over(w.rowsBetween(Window.unboundedPreceding, 0))
    nxt = F.lead("_t").over(w)
    segs = (bounds
            .withColumn("level", level)
            .withColumn("_next", nxt)
            .filter(F.col("_next").isNotNull()
                    & (F.col("_next") > F.col("_t"))))
    if length is None:
        def length(s, e):          # noqa: E731 — timestamp default
            return F.unix_micros(e) - F.unix_micros(s)
    dur = length(F.col("_t"), F.col("_next"))
    return (segs.groupBy("level")
            .agg(F.sum(dur).alias("total_us"),
                 F.count(F.lit(1)).alias("n_segments"))
            .orderBy("level"))


def value_runs(df: DataFrame, keys: list[str], order_col: str,
               val_col: str, *,
               tiebreak: list[str] | None = None) -> DataFrame:
    """Run-length encoding of a keyed ordered stream: maximal runs of
    consecutive IDENTICAL ``val_col`` values — the value-change twin of
    ``merge_intervals``'s time-gap islands (streak analytics, state-dwell
    times, repeated-token compression).

    Same gaps-and-islands skeleton, but the new-island flag fires on
    value CHANGE (null-safe ``lag`` comparison) instead of a time gap:
    two windows + one roll-up on a single key exchange. Returns (keys,
    ``val_col``, run_start, run_end, run_len) with run boundaries taken
    from ``order_col``. Pass ``tiebreak`` when ``order_col`` isn't
    unique per key — runs are order-dependent.
    """
    order = [F.col(order_col), *map(F.col, tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    # first row of a key (row_number 1) or a null-safe value change
    changed = ~F.lag(val_col).over(w).eqNullSafe(F.col(val_col))
    first = F.row_number().over(w) == 1
    flagged = df.withColumn("_new",
                            F.when(first | changed, 1).otherwise(0))
    island = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (flagged.withColumn("_island", island)
            .groupBy(*keys, "_island", val_col)
            .agg(F.min(order_col).alias("run_start"),
                 F.max(order_col).alias("run_end"),
                 F.count(F.lit(1)).alias("run_len"))
            .drop("_island"))


def _concurrency_histogram_scaled(bounds: DataFrame) -> DataFrame:
    """Two-phase sweep (the 100 TB path of ``concurrency_histogram``):
    no global window — a range exchange on the boundary order, one
    k-row driver job (per-partition delta sum + head time + count),
    broadcast offsets, then a partition-local Arrow fold whose last
    segment closes at the next partition's head boundary.

    Exactness: levels are offset[pid] + local integer cumsum — integer
    addition is order-free across the partition split, and a (time,
    delta) tie group split across partitions only produces zero-length
    segments on the boundary rows, which both paths drop; so the output
    is bit-identical to the single-window form for ANY partition count
    (pytest sweeps partition counts; the registered twin query shares
    the window form's oracle).
    """
    from typing import Iterator

    import pandas as pd

    if bounds.schema["_t"].dataType.typeName().startswith("timestamp"):
        bounds = bounds.select(F.unix_micros("_t").alias("_t"), "_d")
    parts = int(bounds.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    b = materialize(bounds.repartitionByRange(parts, F.col("_t"), F.col("_d"))
                    .sortWithinPartitions("_t", "_d")
                    .withColumn("_pid", F.spark_partition_id()))
    stats = (b.groupBy("_pid")
             .agg(F.sum("_d").alias("s"), F.min("_t").alias("h"))
             .collect())
    pids = sorted(r["_pid"] for r in stats)
    by_pid = {r["_pid"]: r for r in stats}
    offsets, acc = {}, 0
    for pid in pids:
        offsets[pid] = acc
        acc += by_pid[pid]["s"]
    next_head = {pid: (by_pid[pids[i + 1]]["h"] if i + 1 < len(pids)
                       else None)
                 for i, pid in enumerate(pids)}

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow may split one partition into several batches: a batch's
        # last boundary closes at the NEXT batch's first time, so it is
        # held pending until that time (or the next PARTITION's head, at
        # iterator end) is known.
        run, pid = 0, None
        pend_t = pend_level = None
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["_pid"].iat[0])
            t = pdf["_t"].astype("int64").reset_index(drop=True)
            level = (offsets[pid] + run
                     + pdf["_d"].astype("int64").cumsum()
                     .reset_index(drop=True))
            if pend_t is not None and int(t.iloc[0]) > pend_t:
                yield pd.DataFrame({"level": [pend_level],
                                    "_dur": [int(t.iloc[0]) - pend_t]})
            if len(t) > 1:
                dur = (t.shift(-1) - t).iloc[:-1]
                keep = dur > 0
                yield pd.DataFrame(
                    {"level": level.iloc[:-1][keep].astype("int64"),
                     "_dur": dur[keep].astype("int64")})
            pend_t, pend_level = int(t.iloc[-1]), int(level.iloc[-1])
            run += int(pdf["_d"].astype("int64").sum())
        if pend_t is not None:
            tail = next_head[pid]
            if tail is not None and tail > pend_t:
                yield pd.DataFrame({"level": [pend_level],
                                    "_dur": [tail - pend_t]})

    segs = b.mapInPandas(fold, "level long, _dur long")
    return (segs.groupBy("level")
            .agg(F.sum("_dur").alias("total_us"),
                 F.count(F.lit(1)).alias("n_segments"))
            .orderBy("level"))
