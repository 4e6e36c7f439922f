"""The workloads: inputs, one measured pass, correctness checks, metrics.

One process, one driver thread, Spark ``local[SPARK_GRAFT_CPUS]``, closed
loop: the whole input backlog is present when a pass starts.

Run protocol (``run``):
1. generate the inputs from the seed (untimed);
2. build the session once, which launches the JVM, then rebuild it
   (stop, ``get_spark``) half of ``SETUPS`` times;
3. one untimed warm-up on the last session: both drivers drain a second
   lake of ``WARM_UP_FILES`` files (ingest), or the oracle-checked pass
   over the query list (query_mix);
4. measured passes on fresh copies of the inputs until ``seconds`` have
   passed (at least ``min_passes``); every pass is checked against the
   oracle;
   with ``trace`` on, instead: a traced pass whose spans and Spark event
   log give the per-layer metrics, then an untraced pass;
5. the other half of the rebuilds; ``setup_s`` is the median rebuild.
"""

from __future__ import annotations

import functools
import json
import os
import random
import shutil
import time

import gen
import host
import layers
import spans
import oracle
from stats import median

# Session rebuilds per run. A rebuild takes about 0.1 s and follows the
# host's speed over the few seconds around it, so rebuilds taken back to
# back agree with each other and not with those of another run. Half come
# before the workload and half after it, so that setup_s, their median,
# samples two stretches of the run. Each rebuild also pays about 0.5 s to
# stop the session before it, which the run budget (see README.md) has to
# hold. Rebuilding between the warm-up and the measured passes would hand
# the passes a session the warm-up has not warmed.
SETUPS = 8

WORKLOADS = {
    # Per-file fixed cost dominates: each small daily file re-validates the
    # full-size songs/users dimensions and pays job scheduling, ledger and
    # sqlite connects and the archive move. A pass drains the backlog with
    # Pipeline.run_all, then a fresh copy of it with Pipeline.run_streaming
    # (AvailableNow, one file per micro-batch: the same stages, with the
    # checkpoint in place of discovery and ledger). Both drivers share one
    # workload because the run budget (see README.md) holds two workloads
    # on 4 vCPU.
    "ingest_trickle": {"kind": "ingest", "min_passes": 1, "files": 2,
                       "rows_per_file": 400, "songs": 20_000, "users": 15_000},
    # Read side: registry queries over the ten-table lake, noop sink. Its
    # first measured pass still runs cold and takes about the run time, so
    # two passes always: a run measures the same thing when that pass ends
    # just before or just after ``seconds``.
    "query_mix": {"kind": "query", "min_passes": 2, "sf": 0.01},
}
DRIVERS = ("batch", "stream")
# The first file of a fresh JVM costs about three warm ones, so it is left
# out of the measurement. Later files keep getting faster for a few more
# files while the JIT catches up; a longer warm-up does not fit the run
# budget.
WARM_UP_FILES = 1

# The reference surface (queries_reference.py, less its near-copies: the
# approximate-distinct, corrupt-side and bad-side twins, the other two KV
# projections, the salted and skew-robust aggregation variants, the JSON
# extract, the plain scan) plus one query from each of four extension
# families (dedup, embedding search, sessions, TPC-H shapes). Sized so one
# pass takes about 8 s on 4 vCPU and a whole run, JVM start and oracle pass
# included, about 40 s.
QUERY_MIX = [
    "daily_genre_kpis", "top_songs_per_genre", "top_genres_per_day",
    "validate_split_good", "kv_genre_kpi_items", "latest_day_kpis",
    "csv_scan_roundtrip", "events_daily_agg",
    "dedup_exact_text", "ann_cosine_topk", "sessionize_events",
    "tpch_q3_shipping_priority",
]


class Run:
    """State of one benchmark run: work dir, session, inputs and record."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.spec = WORKLOADS[name]
        self.work = work
        self.spark = None
        self.record: dict = {"workload": name, "seed": seed, "seconds": seconds,
                             "trace": int(trace), "passes": [], "checks": [],
                             "setup_builds_s": [], "setup_stops_s": []}
        self.attempted = self.failed = 0
        self.t0 = time.perf_counter()

    # -- session ------------------------------------------------------------
    def extra_conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false"}
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    def start(self) -> None:
        """The first session build, which also launches the JVM, then the
        first half of the rebuilds."""
        from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import session

        os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", extra_conf=self.extra_conf())
        self.record["jvm_start_s"] = time.perf_counter() - t0
        self.record["spark_conf"] = dict(self.spark.sparkContext.getConf().getAll())
        self.rebuild(SETUPS // 2)

    def rebuild(self, n: int) -> None:
        """``n`` timed session rebuilds (stop, ``get_spark``)."""
        from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import session

        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.stop()
            self.record["setup_stops_s"].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench", extra_conf=self.extra_conf())
            self.record["setup_builds_s"].append(time.perf_counter() - t0)

    def mark(self, phase: str) -> None:
        """Record the run's elapsed time at the end of ``phase``."""
        self.record.setdefault("phase_end_s", {})[phase] = time.perf_counter() - self.t0

    def check(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
        self.record["checks"].append({"check": what, "ok": problem is None,
                                      "problem": problem})

    def fresh_copy(self, src: str, tag: str) -> str:
        dst = os.path.join(self.work, tag)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)   # copy2 keeps the ordered mtimes
        return dst


# -- ingest -------------------------------------------------------------------

def _ingest_inputs(run: Run) -> dict:
    """Write the measured lake and the warm-up lake; return the expected KV
    items of each, by lake directory."""
    spec = run.spec
    src, warm = (os.path.join(run.work, d) for d in ("src", "warm-src"))
    run.record["inputs"] = gen.write_raw_lake(
        src, run.seed, files=spec["files"], rows_per_file=spec["rows_per_file"],
        songs=spec["songs"], users=spec["users"])
    gen.write_raw_lake(warm, run.seed + 1_000_003, files=WARM_UP_FILES,
                       rows_per_file=50, songs=spec["songs"], users=spec["users"])
    expected = {d: oracle.expected_kv(os.path.join(d, "raw")) for d in (src, warm)}
    run.record["inputs"]["expected_kv_items"] = len(expected[src])
    run.record["inputs"]["expected_kv_digest"] = oracle.digest(expected[src])
    return expected


def _drain(run: Run, lake: str, driver: str) -> dict:
    """Drain one lake copy with one driver; return timings."""
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans import pipeline
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.streaming import filestream

    per_item: list[float] = []
    queries = []
    patch = spans.Patcher()
    orig_run_once = pipeline.Pipeline.run_once
    orig_start = filestream.run_available_now

    def timed_run_once(self):
        t0 = time.perf_counter()
        out = orig_run_once(self)
        if out is not None:
            per_item.append(time.perf_counter() - t0)
        return out

    def keep_query(*args, **kwargs):
        q = orig_start(*args, **kwargs)
        queries.append(q)
        return q

    patch.set(pipeline.Pipeline, "run_once", timed_run_once)
    patch.set(filestream, "run_available_now", keep_query)
    error = None
    try:
        t0 = time.perf_counter()
        try:
            pipe = pipeline.Pipeline(run.spark, pipeline.PipelineConfig(base_dir=lake))
            if driver == "batch":
                pipe.run_all()
            else:
                pipe.run_streaming()
        except Exception as e:  # noqa: BLE001 — a failed drain is a counted failure
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
    finally:
        patch.restore()
    progress = []
    for q in queries:
        progress += [p if isinstance(p, dict) else json.loads(p.json)
                     for p in q.recentProgress]
    progress = [p for p in progress if p.get("numInputRows", 0) > 0]
    if driver == "stream":
        per_item = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    return {"wall_s": wall, "per_item_s": per_item, "error": error,
            "progress": progress}


def _check_drain(run: Run, lake: str, driver: str, res: dict, files: int,
                 expected: set) -> int:
    """Count the drain's files as attempted and failed and check its outputs;
    return the number of KV items in its store."""
    run.attempted += files
    store = os.path.join(lake, "kv", "store.db")
    if res["error"]:
        run.failed += files
        run.check(f"{driver}:drain", res["error"])
        return 0
    if driver == "batch":
        import sqlite3
        con = sqlite3.connect(f"file:{store}?mode=ro", uri=True)
        try:
            status = [json.loads(r[0]).get("status") for r in con.execute(
                "SELECT item FROM kv_items WHERE tbl='ProcessedStreams'")]
        finally:
            con.close()
        done = sum(s == "processed" for s in status)
        run.failed += files - done
        run.check("batch:ledger", None if done == files == len(status)
                  else f"ledger statuses {status}")
        left = os.listdir(os.path.join(lake, "raw", "streams"))
        run.check("batch:raw_drained", None if not left else f"raw left: {left}")
    else:
        n = len(res["progress"])
        run.failed += max(files - n, 0)
        run.check("stream:micro_batches",
                  None if n == files else f"{n} batches for {files} files")
    got = oracle.kv_items(store)
    run.check(f"{driver}:kv_digest", None if got == expected else
              f"kv items differ: {len(got - expected)} unexpected, "
              f"{len(expected - got)} missing")
    return len(got)


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def lake_bytes(lake: str) -> dict[str, int]:
    """Bytes on disk per output area, after a sqlite WAL checkpoint."""
    import sqlite3
    store = os.path.join(lake, "kv", "store.db")
    if os.path.exists(store):
        con = sqlite3.connect(store)
        try:
            con.execute("PRAGMA wal_checkpoint(TRUNCATE)")
        finally:
            con.close()
    return {k: _du(os.path.join(lake, d)) for k, d in
            (("validated", "validated"), ("processed", "processed"),
             ("quarantine", "bad-records"), ("kv", "kv"))}


def _ingest_pass(run: Run, src: str, files: int, expected: set,
                 tracer=None) -> dict:
    """Drain a fresh copy of ``src`` with each driver in turn (the copies
    are made first, untimed); check and size both drains."""
    lakes = {d: run.fresh_copy(src, f"pass-{d}") for d in DRIVERS}
    root = tracer.open("pass") if tracer else None
    if root:   # micro-batches run on another thread: parent them here
        tracer.default_parent = root["id"]
    drains = {d: _drain(run, lakes[d], d) for d in DRIVERS}
    if root:
        tracer.default_parent = None
        tracer.close(root)
    res = {"wall_s": sum(r["wall_s"] for r in drains.values()),
           "per_item_s": [t for r in drains.values() for t in r["per_item_s"]],
           "progress": drains["stream"]["progress"], "root": root,
           "kv_items": 0, "bytes": dict.fromkeys(("validated", "processed",
                                                   "quarantine", "kv"), 0)}
    for d, lake in lakes.items():
        res["kv_items"] += _check_drain(run, lake, d, drains[d], files, expected)
        for k, v in lake_bytes(lake).items():
            res["bytes"][k] += v
        shutil.rmtree(lake, ignore_errors=True)
    run.record["passes"].append({
        "src": os.path.basename(src), "bytes": res["bytes"],
        **{d: {k: r[k] for k in ("wall_s", "per_item_s", "error")}
           for d, r in drains.items()}})
    return res


def _run_ingest(run: Run) -> dict:
    expected = _ingest_inputs(run)
    src, warm = (os.path.join(run.work, d) for d in ("src", "warm-src"))
    run.mark("inputs")
    run.start()
    run.mark("start")
    run.record["warm_up_s"] = _ingest_pass(run, warm, WARM_UP_FILES,
                                           expected[warm])["wall_s"]
    run.mark("warm_up")

    inputs = run.record["inputs"]
    one_pass = functools.partial(_ingest_pass, run, src, run.spec["files"],
                                 expected[src])
    raw_bytes = inputs["stream_csv_bytes"] * len(DRIVERS)
    if run.trace:
        return _traced(run, one_pass, raw_bytes=raw_bytes)
    passes = _measure(run, one_pass)
    run.record["write_amp"] = sum(passes[-1]["bytes"].values()) / raw_bytes
    return _end_to_end(run, passes, inputs["stream_rows"] * len(DRIVERS))


def _measure(run: Run, one_pass) -> list[dict]:
    """Passes until ``run.seconds`` have elapsed, at least the workload's
    ``min_passes``."""
    passes = []
    t_start = time.perf_counter()
    while (len(passes) < run.spec["min_passes"]
           or time.perf_counter() - t_start < run.seconds):
        passes.append(one_pass())
    run.mark("measure")
    return passes


def _end_to_end(run: Run, passes: list[dict], rows: int) -> dict:
    wall = median([p["wall_s"] for p in passes])
    per_item = [t for p in passes for t in p["per_item_s"]]
    run.record["item_samples"] = len(per_item)
    return {"wall_s": wall, "rows_per_s": rows / wall,
            "item_p50_s": median(per_item)}


def _traced(run: Run, one_pass, *, raw_bytes: int | None) -> dict:
    """The traced pass that gives the per-layer metrics, then an untraced
    pass; the traced wall over the untraced one is the tracing overhead.
    The traced pass comes first so that it sits where the measured pass of
    an untraced run does; what the JVM still warms up between the two
    passes counts as overhead, so the ratio errs high."""
    tracer = layers.make_tracer(run.spark)
    probe = layers.install(tracer, run.spark)
    try:
        res = one_pass(tracer)
    finally:
        probe.restore()
    untraced = one_pass()
    return layers.report(run, tracer, res, untraced["wall_s"], raw_bytes=raw_bytes)


# -- query_mix ------------------------------------------------------------------

def _query_pass(run: Run, registry: dict, order: list[str], lake: str,
                tracer=None) -> dict:
    per_q, errors = {}, 0
    root = tracer.open("pass") if tracer else None
    t0 = time.perf_counter()
    for name in order:
        q0 = time.perf_counter()
        try:
            if tracer:
                layers.traced_query(tracer, run.spark, registry[name], lake, name)
            else:
                df = registry[name](run.spark, lake)
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — counted; the oracle pass names it
            errors += 1
        per_q[name] = time.perf_counter() - q0
    wall = time.perf_counter() - t0
    if root:
        tracer.close(root)
    run.attempted += len(order)
    run.failed += errors
    run.record["passes"].append({"wall_s": wall, "per_query_s": per_q,
                                 "errors": errors})
    return {"wall_s": wall, "per_item_s": list(per_q.values()), "root": root}


def _run_queries(run: Run) -> dict:
    import __spark_entry__ as entry
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog

    lake = os.path.join(run.work, "lake")
    rows = gen.write_query_lake(lake, run.seed, run.spec["sf"])
    run.record["inputs"] = {"sf": run.spec["sf"], "table_rows": rows,
                            "queries": len(QUERY_MIX)}
    order = list(QUERY_MIX)
    random.Random(run.seed).shuffle(order)
    run.record["order"] = order
    registry = entry.queries()
    run.mark("inputs")
    run.start()
    run.mark("start")

    # warm-up: the untimed pass that checks every query against its oracle
    t0 = time.perf_counter()
    orc = oracle.QueryOracle(lake, list(catalog.TABLES), entry.oracle_sql())
    try:
        for name in order:
            try:
                df = registry[name](run.spark, lake)
                problem = orc.check(name, df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
                problem = f"{type(e).__name__}: {e}"
            run.check(f"query:{name}", problem)
    finally:
        orc.close()
    run.record["warm_up_s"] = time.perf_counter() - t0
    run.mark("warm_up")

    one_pass = functools.partial(_query_pass, run, registry, order, lake)
    if run.trace:
        return _traced(run, one_pass, raw_bytes=None)
    return _end_to_end(run, _measure(run, one_pass), sum(rows.values()))


def run(name: str, seed: int, seconds: float, trace: bool,
        work: str) -> tuple[Run, dict]:
    r = Run(name, seed, seconds, trace, work)
    r.record["host_before"] = host.snapshot()
    try:
        metrics = (_run_queries(r) if r.spec["kind"] == "query" else _run_ingest(r))
        if not trace:
            r.record["peak_rss_parts_mb"] = host.peak_rss_parts_mb(r.spark)
            metrics["peak_rss_mb"] = sum(r.record["peak_rss_parts_mb"].values())
        r.rebuild(SETUPS - SETUPS // 2)
        metrics["setup_s"] = median(r.record["setup_builds_s"])
        # per layer: the run's first get_spark, which also launches the JVM
        metrics["session.get_spark_s"] = r.record["jvm_start_s"]
    finally:
        r.record["host_after"] = host.snapshot()
        if r.spark is not None:
            host.shutdown(r.spark)
    return r, metrics
