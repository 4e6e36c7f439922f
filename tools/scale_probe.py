"""sf1 scale probe for the headline chain (round-5 VERDICT item 6).

The driver ships testdata at sf{0.001,0.01,0.1} only, so this tool
materializes an sf1-equivalent lake (10× rows) by replicating the sf0.1
``lineitem``/``part`` tables with key offsets — fact keys (user, order)
shift per replica so distinct-key cardinalities really grow 10×, and
``p_partkey``/``l_partkey`` shift in lockstep so the streams⋈songs join
fans out over a 10×-larger dimension exactly like a true scale-up —
then times the flagship chain at BOTH scales and reports the blowup
ratio per query. A plan that is secretly single-task or
shuffle-degenerate shows up as a super-linear (>12×) ratio long before
a real cluster would reveal it; a healthy plan lands near the data
ratio (≤ ~10× plus constant overheads).

Writes ONE JSON line (also to ``BENCH_SF1_r{N}.json`` via the round
driver convention):  {"metric": "sf1_scale_probe", "queries":
{name: {"sf0.1": s, "sf1": s, "ratio": r}}, ...}

The generated lake lives under .scale_probe/sf1 inside the repo
(gitignored) and is rebuilt only when absent — delete the dir to force
regeneration after a testdata refresh.

Usage:  python tools/scale_probe.py [--out BENCH_SF1_rN.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.materialize import scope  # noqa: E402
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import (  # noqa: E402
    get_spark,
)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(REPO, ".scale_probe", "sf1")
COPIES = 10
#: the reference-surface chain the probe certifies (VERDICT r5 item 6),
#: plus the round-6 two-phase rewrites — the queries whose sf0.1 cost
#: DELIBERATELY grew because the single-task window they replaced
#: cannot scale; this probe is the
#: evidence side of that trade (their ratio at 10x data should track
#: the data, not a single task's sort) — plus, round 7 (VERDICT r6
#: item 3), the five most expensive operators in the suite: the
#: pair-generating / iterative ops where superlinearity would actually
#: hide. Their inputs are replica-DECORRELATED (see ensure_sf1) so 10x
#: data means 10x the pair/cluster structure, not a quadratic
#: dup-explosion the operator is not being graded on.
CHAIN = ["daily_genre_kpis", "top_songs_per_genre", "kv_genre_kpi_items",
         "pipeline_e2e_kpis",
         "customer_rfm_segments", "ab_purchase_ks",
         "orders_revenue_8020", "events_value_equidepth",
         "neardup_containment_pairs", "semantic_dedup_survivors",
         "shared_ngram_pairs_docs", "dedup_clusters",
         "part_order_pagerank"]
#: super-linear alarm: 10× data should cost ≤ ~12× wall (ratio includes
#: constant per-query overhead, so a small margin over 10 is normal)
BLOWUP = 12.0


#: (table, key-shift columns, repartition, decorrelating tweak tag)
_TABLES = {
    "part": ({"p_partkey": "p"}, 8, None),
    "lineitem": ({"l_partkey": "p", "l_suppkey": "s", "l_orderkey": "o"},
                 32, None),
    "orders": ({"o_orderkey": "o", "o_custkey": "c"}, 16, None),
    "events": ({"event_id": "e", "user_id": "u"}, 16, None),
    "documents": ({"doc_id": "d"}, 16, "doc"),
    "embeddings": ({"vec_id": "v"}, 8, "emb"),
}


def ensure_lake(spark: SparkSession, src: str, dst: str, copies: int,
                tables: list[str], marker_name: str, *,
                doc_suffix: str = "r") -> str:
    """Materialize a ``copies``× replica lake of ``tables`` from ``src``
    into ``dst`` (key offsets in lockstep, similarity columns
    decorrelated per replica — see the comment below). Composable WITH A
    CAVEAT: a second-level build MUST pass a distinct ``doc_suffix`` —
    with the same letter, level-2 copy j of a level-1 ORIGINAL
    (``tok`` → ``tok_r{j}``) collides exactly with level-2 copy 0 of
    level-1 replica j (``tok_r{j}`` unchanged), planting 2·(copies−1)
    exact-twin corpus slices (measured: +99,216 directed containment
    pairs = 9 × 11,024 at 100×, a ~3× result-pair overstatement). The
    embedding circular-shift has the same composition hazard (total
    shift i+j collides across (i,j) splits), so a level-2 build of
    ``embeddings`` is refused rather than silently correlated."""
    if doc_suffix != "r" and "embeddings" in tables:
        raise ValueError("second-level embedding replication would "
                         "correlate replicas (shift i+j collides); "
                         "extend the shift scheme before enabling this")
    # Single-level hazard too (round-8 ADVICE): the circular shift is
    # i % (dim-1), so replica 63 (126, …) would get a ZERO shift and
    # become a verbatim correlated embedding copy.
    if "embeddings" in tables and copies > 63:
        raise ValueError("embedding replication caps at 63 copies: the "
                         "circular shift is i % 63, so replica 63 would "
                         "be a verbatim (correlated) copy")
    marker = os.path.join(dst, marker_name)
    if os.path.exists(marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    dfs = {t: spark.read.parquet(os.path.join(src, f"{t}.parquet"))
           for t in tables}
    offs: dict[str, int] = {}

    def _off(key: str, df, col: str) -> None:
        if key not in offs:
            offs[key] = df.agg(F.max(col)).collect()[0][0] + 1

    for t, (shifts, _, _) in _TABLES.items():
        if t in dfs:
            for col, key in shifts.items():
                _off(key, dfs[t], col)

    # Replica DECORRELATION for similarity-bearing columns: a verbatim
    # copy of every document/embedding would make each row ~COPIES-way
    # near-duplicate of its clones, so pair counts grow ~COPIES² — a
    # quadratic DATA explosion that would read as operator superlinearity.
    # Instead each replica keeps its INTERNAL similarity structure and is
    # decorrelated from the others: documents get a per-replica token
    # suffix (disjoint shingle spaces → per-replica pair structure
    # mirrors the original exactly), embeddings get a per-replica
    # circular shift (norms and within-replica cosines preserved bit-for
    # -bit; across replicas shifted random vectors decorrelate).
    def tweak_doc(d, i):
        if i == 0:
            return d
        return d.withColumn(
            "text", F.array_join(F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.concat(t, F.lit(f"_{doc_suffix}{i}"))), " "))

    def tweak_emb(d, i):
        if i == 0:
            return d
        dim = 64
        v = F.col("embedding")
        return d.withColumn(
            "embedding",
            F.concat(F.slice(v, (i % (dim - 1)) + 1, dim - (i % (dim - 1))),
                     F.slice(v, 1, i % (dim - 1))))

    tweaks = {"doc": tweak_doc, "emb": tweak_emb, None: None}

    def rep(df, shifts: dict[str, str], tweak=None):
        out = None
        for i in range(copies):
            d = df
            for col, key in shifts.items():
                d = d.withColumn(col, F.col(col) + F.lit(i * offs[key]))
            if tweak is not None:
                d = tweak(d, i)
            out = d if out is None else out.unionByName(d)
        return out

    for t in tables:
        shifts, parts, tag = _TABLES[t]
        rep(dfs[t], shifts, tweak=tweaks[tag]) \
            .repartition(max(parts, parts * copies // COPIES)) \
            .write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))
    with open(marker, "w") as fh:
        fh.write(f"src={src} copies={copies}\n")
    return dst


def ensure_sf1(spark: SparkSession) -> str:
    # _BUILT_v2: + documents/embeddings (round 7)
    return ensure_lake(spark, SRC, DST, COPIES, list(_TABLES), "_BUILT_v2")


def stream_probe(spark: SparkSession, sf1: str, *,
                 n_files: int = 10, tag: str = "sf1") -> dict:
    """Streaming-path scale probe (round-10 VERDICT item 8 — the only
    execution mode that had no scale measurement): materialize an
    ``n_files`` date-sliced CSV backlog from the sf1 lake's lineitem
    (≈10× the bench fixture's volume per file count), drain it through
    Pipeline.run_streaming (Trigger.AvailableNow, maxFilesPerTrigger=1 →
    one micro-batch per file, the reference's granularity), and record
    per-batch wall + input rows plus checkpoint/state sizes. Healthy =
    per-batch wall stays flat across the drain (state is the file-source
    offset log — O(files seen), never row-scaled) and scales ~linearly
    with per-file rows vs the sf0.1 e2e fixture."""
    import glob as _glob
    import shutil as _shutil

    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans.pipeline import (
        Pipeline, PipelineConfig,
    )
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog as _cat
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import io as _io

    fix = os.path.join(REPO, ".scale_probe", f"stream_{tag}")
    _shutil.rmtree(fix, ignore_errors=True)
    base = os.path.join(fix, "lake")
    raw = os.path.join(base, "raw", "streams")
    os.makedirs(raw, exist_ok=True)
    streams = _cat.streams_from_lineitem(
        _cat.load_table(spark, sf1, "lineitem"))
    # n_files date-disjoint slices over the observed listen_time span —
    # ntile over the distinct dates would shuffle; a fixed calendar
    # partition of the span is deterministic and driver-free
    lo, hi = streams.agg(F.min("listen_time"), F.max("listen_time")).first()
    bounds = [lo + (hi - lo) * i / n_files for i in range(1, n_files)]
    edges = [None, *bounds, None]
    row_counts = []
    for i in range(n_files):
        part = streams
        if edges[i] is not None:
            part = part.filter(F.col("listen_time") >= edges[i])
        if edges[i + 1] is not None:
            part = part.filter(F.col("listen_time") < edges[i + 1])
        tmp = os.path.join(fix, f"_slice{i}")
        _io.write_csv(part.coalesce(1), tmp)
        (srcf,) = _glob.glob(os.path.join(tmp, "part-*.csv"))
        _shutil.move(srcf, os.path.join(raw, f"batch_{i:02d}.csv"))
        _shutil.rmtree(tmp)
    songs = _cat.songs_from_part(_cat.load_table(spark, sf1, "part"))
    _io.write_csv(songs, os.path.join(base, "raw", "songs"))

    pipe = Pipeline(spark, PipelineConfig(base_dir=base))
    walls: list[dict] = []
    inner = pipe.process_stream_batch

    def timed_batch(df, epoch_id):
        t0 = time.perf_counter()
        n_rows = df.count()
        inner(df, epoch_id)
        walls.append({"epoch": int(epoch_id), "rows": int(n_rows),
                      "secs": round(time.perf_counter() - t0, 3)})

    pipe.process_stream_batch = timed_batch
    t0 = time.perf_counter()
    pipe.run_streaming()
    total = round(time.perf_counter() - t0, 3)

    def _du(path: str) -> int:
        tot = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    tot += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return tot

    ckpt = os.path.join(base, "checkpoints", "pipeline")
    secs = [w["secs"] for w in walls]
    return {
        "n_files": n_files,
        "total_secs": total,
        "batches": walls,
        "batch_secs_first": secs[0] if secs else None,
        "batch_secs_median": sorted(secs)[len(secs) // 2] if secs else None,
        "batch_secs_last": secs[-1] if secs else None,
        "checkpoint_bytes": _du(ckpt),
        "kv_store_bytes": _du(os.path.join(base, "kv")),
        "note": ("state = file-source offset log only (O(files), not "
                 "rows); flat per-batch wall across the drain = no "
                 "accumulating state cost"),
    }


def _run(spark: SparkSession, fn, sf_dir: str) -> None:
    """Build and run one query in its own materialize scope, so its
    dedup postings take the columnar route past the size threshold and
    its stored frames are released before the next run."""
    with scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _time(spark: SparkSession, fn, sf_dir: str, n: int = 2) -> float:
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        _run(spark, fn, sf_dir)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> int:
    # --out is position-independent like every other flag (round-12
    # ADVICE: the old first-pair-only parse silently ignored
    # '--quick --out X')
    out_path = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--out" and i + 1 < len(argv):
            out_path = argv[i + 1]
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]
    # --quick (round 11): skip the CHAIN ratio sweep and normalization
    # (unchanged code paths re-certified in the previous round's file)
    # and run only the explicitly requested probes — used when a round
    # adds targeted probes (--stream10) on top of a
    # still-valid prior full sweep.
    quick = "--quick" in sys.argv
    spark = get_spark("scale-probe")
    sf1 = ensure_sf1(spark)
    qs = entrymod.queries()
    result: dict[str, dict[str, float]] = {}
    worst = 0.0
    normalization = None
    if not quick:
        # warm both lakes' footers AND each query's codegen/fixtures
        # once, untimed — otherwise the first-measured scale eats all
        # the JIT warm-up and the ratio reads <1× (observed: 0.58× on a
        # 10× input)
        for d in (SRC, sf1):
            for t in ("part", "lineitem", "orders", "events", "documents",
                      "embeddings"):
                spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
            for name in CHAIN:
                _run(spark, qs[name], d)

    for name in (() if quick else CHAIN):
        t_small = _time(spark, qs[name], SRC)
        t_big = _time(spark, qs[name], sf1)
        ratio = round(t_big / max(t_small, 1e-9), 2)
        worst = max(worst, ratio)
        result[name] = {"sf0.1": t_small, "sf1": t_big, "ratio": ratio}
        print(f"# {name}: {t_small:.2f}s -> {t_big:.2f}s ({ratio:.1f}x)",
              file=sys.stderr)

    # Output-growth normalization for the pair-generating worst case
    # (round-7 VERDICT item 3): a wall ratio alone can't distinguish
    # "the data grew more pairs" (intended under decorrelated replicas)
    # from "the operator went superlinear per unit of work" — record the
    # measured candidate/result pair counts at both scales so the ratio
    # is attributable, plus the per-candidate cost ratio (~1 = the
    # operator scales with its work; ≫1 = real superlinearity).
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import dedup  # noqa: E402
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog as _cat  # noqa: E402

    def _containment_counts(sf_dir: str) -> dict[str, int]:
        docs = _cat.load_table(spark, sf_dir, "documents")
        with scope():
            cand, _sh = dedup.containment_candidates(docs, "doc_id", "text",
                                                     n=3, threshold=0.8)
            c = cand.count()
            r = qs["neardup_containment_pairs"](spark, sf_dir).count()
        return {"candidate_pairs": int(c), "result_pairs": int(r)}

    if not quick:
        n0 = _containment_counts(SRC)
        n1 = _containment_counts(sf1)
        t0 = result["neardup_containment_pairs"]["sf0.1"]
        t1 = result["neardup_containment_pairs"]["sf1"]
        normalization = {
            "query": "neardup_containment_pairs",
            "sf0.1": n0, "sf1": n1,
            "candidate_growth": round(n1["candidate_pairs"]
                                      / max(n0["candidate_pairs"], 1), 2),
            "result_growth": round(n1["result_pairs"]
                                   / max(n0["result_pairs"], 1), 2),
            "wall_ratio": result["neardup_containment_pairs"]["ratio"],
            "per_candidate_cost_ratio": round(
                (t1 / max(n1["candidate_pairs"], 1))
                / (t0 / max(n0["candidate_pairs"], 1)), 2),
        }
        print(f"# normalization: {normalization}", file=sys.stderr)

    # Optional second scale point (round-7 VERDICT item 6): 100× total
    # (10× on top of the sf1 lake, documents+lineitem only — the two
    # worst-ratio operators' inputs) to pin the growth exponent a single
    # 10× point cannot distinguish. Exponent = log(t_hi/t_lo)/log(10)
    # per decade; healthy ≈ ≤ 1 + lg(shuffle log factor).
    probe100 = None
    if "--probe100" in sys.argv:
        import math
        import shutil
        free_gb = shutil.disk_usage(REPO).free / (1 << 30)
        if free_gb < 10:
            probe100 = {"skipped": f"only {free_gb:.1f} GiB free"}
        else:
            dst100 = os.path.join(REPO, ".scale_probe", "sf10")
            # _BUILT_v2: level-distinct "q" suffix (the "r"-suffix
            # composition collision is documented on ensure_lake)
            sf10 = ensure_lake(spark, sf1, dst100, 10,
                               ["documents", "lineitem"], "_BUILT_v2",
                               doc_suffix="q")
            for t in ("documents", "lineitem"):
                spark.read.parquet(os.path.join(sf10, f"{t}.parquet")).count()
            probe100 = {"queries": {}}
            # dedup_clusters joined round 9 (VERDICT r8 item 7): transitive
            # closure is the likeliest superlinear candidate left — CC
            # round count grows with component diameter, so a second
            # decade pins whether the sf1 2.07x was constant overhead or
            # real growth.
            for name in ("neardup_containment_pairs", "part_order_pagerank",
                         "dedup_clusters"):
                _run(spark, qs[name], sf10)      # untimed warm
                t10 = _time(spark, qs[name], sf10,
                            n=1)
                t1q = result[name]["sf1"]
                probe100["queries"][name] = {
                    "sf1": t1q, "sf10": t10,
                    "ratio_10x": round(t10 / max(t1q, 1e-9), 2),
                    "exponent_sf1_to_sf10": round(
                        math.log(t10 / max(t1q, 1e-9)) / math.log(10), 2),
                    "exponent_sf0.1_to_sf1": round(
                        math.log(t1q / max(result[name]["sf0.1"], 1e-9))
                        / math.log(10), 2),
                }
                print(f"# probe100 {name}: {t1q:.2f}s -> {t10:.2f}s",
                      file=sys.stderr)
            n10 = _containment_counts(sf10)
            probe100["containment_counts_sf10"] = n10
            probe100["per_candidate_cost_ratio_sf1_to_sf10"] = round(
                (probe100["queries"]["neardup_containment_pairs"]["sf10"]
                 / max(n10["candidate_pairs"], 1))
                / (t1 / max(n1["candidate_pairs"], 1)), 2)

            # dedup_clusters attribution (round 9): the CC itself runs the
            # bounded driver union-find at every probe scale (edge counts
            # ≪ the 1M valve), so any wall growth lives in the jaccard
            # candidate generator — normalize by its measured candidate
            # count exactly like containment.
            def _jaccard_counts(sf_dir: str) -> dict[str, int]:
                docs = _cat.load_table(spark, sf_dir, "documents")
                with scope():
                    cand, _sh = dedup.jaccard_candidates(
                        docs, "doc_id", "text", n=3, threshold=0.8)
                    c = cand.count()
                    r = qs["dedup_clusters"](spark, sf_dir).count()
                return {"candidate_pairs": int(c), "cluster_rows": int(r)}

            j1 = _jaccard_counts(sf1)
            j10 = _jaccard_counts(sf10)
            probe100["jaccard_counts"] = {"sf1": j1, "sf10": j10}
            # Round-10 attribution of the PageRank second-decade residual
            # (VERDICT r9 item 6) — measured stage walls, fresh JVMs; the
            # full experiment record lives on graph.BROADCAST_NODES_MAX.
            probe100["pagerank_attribution"] = {
                "note": ("the sf1->sf10 exponent is the documented "
                         "broadcast->shuffled plan transition at "
                         "BROADCAST_NODES_MAX=2M (sf1 1.67M nodes, sf10 "
                         "16.7M nodes / 120M links): per-round wall 2.5s "
                         "broadcast at sf1 vs 43-50s shuffled at sf10 "
                         "(round 0 ~180s, first links-shuffle "
                         "materialization). Alternatives measured WORSE "
                         "on the full query at sf10 (fresh JVMs): "
                         "links.repartition(src).persist() exchange "
                         "elision 841.9s; forced broadcast past the cap "
                         "872.1s; current shuffled path 297.6s. Physical "
                         "execution on one box, not algorithmic "
                         "superlinearity — every logical count grows "
                         "10x/decade."),
                "stage_walls_fresh_jvm": {
                    "sf1_round_secs": [3.12, 3.22, 2.40, 2.18, 2.49],
                    "sf10_round_secs": [181.99, 46.81, 49.59, 43.72],
                    "sf10_setup_secs": {"edges_distinct": 1.53,
                                        "links_ckpt": 7.11},
                },
                "alternatives_sf10_full_query_secs": {
                    "shuffled_current": 297.6,
                    "repartition_persist_links": 841.9,
                    "forced_broadcast": 872.1,
                },
            }
            probe100["jaccard_per_candidate_cost_ratio_sf1_to_sf10"] = round(
                (probe100["queries"]["dedup_clusters"]["sf10"]
                 / max(j10["candidate_pairs"], 1))
                / (probe100["queries"]["dedup_clusters"]["sf1"]
                   / max(j1["candidate_pairs"], 1)), 2)

    stream = None
    if "--stream" in sys.argv:
        stream = stream_probe(spark, sf1)
        print(f"# stream probe: {stream['total_secs']}s / "
              f"{stream['n_files']} micro-batches, per-batch "
              f"first/median/last = {stream['batch_secs_first']}/"
              f"{stream['batch_secs_median']}/{stream['batch_secs_last']}s",
              file=sys.stderr)

    def _ensure_sf10(with_part: bool = False):
        dst100 = os.path.join(REPO, ".scale_probe", "sf10")
        lake = ensure_lake(spark, sf1, dst100, 10,
                           ["documents", "lineitem"], "_BUILT_v2",
                           doc_suffix="q")
        part_p = os.path.join(lake, "part.parquet")
        if with_part and not os.path.exists(part_p):
            # replicate the songs dim in LOCKSTEP with the lake's
            # lineitem: the original sf10 build shifted l_partkey by
            # i·(max(sf1.l_partkey)+1), so part must use the SAME offset
            # — max(p_partkey)+1 would desynchronize if the max part key
            # never appeared in lineitem (checked below).
            li_max = spark.read.parquet(os.path.join(sf1,
                                                     "lineitem.parquet")) \
                .agg(F.max("l_partkey")).first()[0]
            part = spark.read.parquet(os.path.join(sf1, "part.parquet"))
            p_max = part.agg(F.max("p_partkey")).first()[0]
            if li_max != p_max:
                raise RuntimeError(
                    f"sf10 part replication would desynchronize: "
                    f"max(l_partkey)={li_max} != max(p_partkey)={p_max}")
            off = li_max + 1
            out = None
            for i in range(10):
                d = part.withColumn("p_partkey",
                                    F.col("p_partkey") + F.lit(i * off))
                out = d if out is None else out.unionByName(d)
            out.repartition(8).write.mode("overwrite").parquet(part_p)
        return lake

    # Second stream decade (round-11, VERDICT r10 item 8): the SAME
    # 10-file drain over the sf10 lake — each micro-batch is 10x wider,
    # so a flat per-batch wall here certifies the streaming path's cost
    # is per-batch rows, not accumulated state, across two decades.
    stream10 = None
    if "--stream10" in sys.argv:
        stream10 = stream_probe(spark, _ensure_sf10(with_part=True),
                                tag="sf10")
        print(f"# stream10 probe: {stream10['total_secs']}s / "
              f"{stream10['n_files']} micro-batches, per-batch "
              f"first/median/last = {stream10['batch_secs_first']}/"
              f"{stream10['batch_secs_median']}/"
              f"{stream10['batch_secs_last']}s", file=sys.stderr)

    # Register-table HLL scale probe (round-12, VERDICT r11 item 2): the
    # r11 promotion pays 3.5-4x at sf0.1 on the claim that the exchange
    # carries <= groups * 2^lg_k register partials AT SCALE, vs every
    # distinct (group, value) pair for exact countDistinct. Verify it:
    # the daily + monthly-rollup distinct-user queries, three ways
    # (portable register table / binary hll_sketch_agg / exact
    # countDistinct), at sf0.1, sf1 and sf10 (events replicated to a
    # third decade below), one FRESH JVM per (scale, variant) with the
    # UI enabled so shuffle read/write bytes are recorded alongside
    # wall — growth of the register path's shuffle should track GROUPS,
    # the exact path's should track distinct pairs.
    hll = None
    if "--hll" in sys.argv:
        import subprocess

        ev10_dir = os.path.join(REPO, ".scale_probe", "sf10")
        ev10 = os.path.join(ev10_dir, "events.parquet")
        if not os.path.exists(ev10):
            # replicate events into the sf10 lake in LOCKSTEP with the
            # decade-2 convention (_ensure_sf10's part replication):
            # shift keys by i * (max(sf1 key) + 1)
            sf1ev = spark.read.parquet(os.path.join(sf1, "events.parquet"))
            e_max, u_max = sf1ev.agg(F.max("event_id"),
                                     F.max("user_id")).first()
            out = None
            for i in range(10):
                d = (sf1ev
                     .withColumn("event_id",
                                 F.col("event_id") + F.lit(i * (e_max + 1)))
                     .withColumn("user_id",
                                 F.col("user_id") + F.lit(i * (u_max + 1))))
                out = d if out is None else out.unionByName(d)
            out.repartition(32).write.mode("overwrite").parquet(ev10)
        prog = r"""
import json, sys, time, urllib.request
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import sketches

spark = get_spark("hll-probe", extra_conf={"spark.ui.enabled": "true"})
variant = %(variant)r
ev = catalog.load_table(spark, %(sf_dir)r, "events") \
    .withColumn("day", F.to_date("ts"))
ev.count()   # warm footers


def build():
    if variant == "register":
        daily = sketches.hll_distinct_estimates(
            ev, ["day"], F.col("user_id"), out_col="n")
        regs = sketches.hll_register_table(ev, ["day"], F.col("user_id"))
        monthly = sketches.hll_estimate_registers(
            sketches.hll_merge_register_tables(
                regs.withColumn("month", F.trunc("day", "month")),
                ["month"]),
            ["month"], out_col="n")
    elif variant == "binary":
        daily = sketches.estimate(
            sketches.distinct_sketches(ev, ["day"], "user_id"),
            estimate_col="n").select("day", "n")
        monthly = sketches.merge_sketches(
            sketches.distinct_sketches(ev, ["day"], "user_id")
            .withColumn("month", F.trunc("day", "month")),
            ["month"], estimate_col="n").select("month", "n")
    else:
        daily = ev.groupBy("day").agg(
            F.countDistinct("user_id").alias("n"))
        monthly = ev.withColumn("month", F.trunc("day", "month")) \
            .groupBy("month").agg(F.countDistinct("user_id").alias("n"))
    return {"daily": daily, "monthly": monthly}


def shuffle_totals():
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    st = json.load(urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages"))
    return (sum(s.get("shuffleWriteBytes", 0) or 0 for s in st),
            sum(s.get("shuffleReadBytes", 0) or 0 for s in st))


res = {}
for name, df in build().items():
    df.write.format("noop").mode("overwrite").save()   # untimed JIT warm
    w0, r0 = shuffle_totals()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    secs = round(time.perf_counter() - t0, 3)
    w1, r1 = shuffle_totals()
    res[name] = {"secs": secs, "shuffle_write_bytes": w1 - w0,
                 "shuffle_read_bytes": r1 - r0}
print("HLL_PROBE_JSON:" + json.dumps(res))
"""
        scales = [("sf0.1", SRC), ("sf1", sf1), ("sf10", ev10_dir)]
        hll = {}
        for tag, d in scales:
            for variant in ("register", "binary", "exact"):
                print(f"# hll probe: {tag}/{variant} (fresh JVM) ...",
                      file=sys.stderr)
                r = subprocess.run(
                    [sys.executable, "-c",
                     prog % {"repo": REPO, "sf_dir": d,
                             "variant": variant}],
                    cwd=REPO, capture_output=True, text=True, timeout=3600)
                payload = None
                for ln in r.stdout.splitlines():
                    if ln.startswith("HLL_PROBE_JSON:"):
                        payload = json.loads(ln.split(":", 1)[1])
                hll.setdefault(tag, {})[variant] = payload
                print(f"# hll probe {tag}/{variant}: {payload} "
                      f"(rc={r.returncode})", file=sys.stderr)

    line = json.dumps({
        "metric": "sf1_scale_probe", "unit": "sec",
        "copies": COPIES, "queries": result,
        "normalization": normalization,
        **({"probe100": probe100} if probe100 is not None else {}),
        **({"stream_sf1": stream} if stream is not None else {}),
        **({"stream_sf10": stream10} if stream10 is not None else {}),
        **({"hll_three_way": hll} if hll is not None else {}),
        "worst_ratio": worst, "blowup_gate": BLOWUP,
        "superlinear": sorted(n for n, r in result.items()
                              if r["ratio"] > BLOWUP),
    })
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    spark.stop()
    return 1 if worst > BLOWUP else 0


if __name__ == "__main__":
    raise SystemExit(main())
