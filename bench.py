"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the ``noop`` sink — a full evaluation of every
output column with zero write cost (a bare ``count()`` would let Catalyst
prune the computed columns and under-measure).

Protocol: the sample basis is **min over K interleaved fresh-JVM
batches**, not a within-JVM median. Ambient load inflates whole
stretches of a single long-lived JVM's pass, so a fresh-JVM min only
reads high when EVERY batch was hit at that query's slot — and a third,
targeted fresh-JVM batch re-runs exactly the queries whose first two
samples disagree >1.5x, so a single noisy stretch cannot survive into the
reported number. Each batch is a separate ``python bench.py --worker``
subprocess: one SparkSession, one warmup, one full pass, its own env
snapshot — what a real single-query deployment sees.

Each query's seconds split into two phases: ``build`` (the query
function: plan construction plus its eager driver actions, such as
checkpoints, collects and one-time fixture builds) and ``exec`` (the
noop write of the returned frame), each with the number of Spark jobs it
ran.

Output keys: ``queries`` = per-query min across batches (primary basis,
tagged ``basis: fresh_jvm_min``); ``phases`` = per query, the
``{build_s, exec_s, jobs_build, jobs_exec}`` record of the batch that gave
that min; ``batches`` = each batch's full per-query seconds, phases and
env block (auditable raw data); ``retried`` = the queries that drew the
targeted third batch. Restrict a run to some queries with
``SPARK_GRAFT_BENCH_ONLY=q1,q2``; compare two trees by running that in
each checkout.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Two batch samples disagreeing by more than this ratio mark the query
#: for the targeted third batch.
NOISY_RATIO = 1.5
#: ...unless the faster sample is already under this floor — sub-second
#: spread is JVM scheduling noise, and min-of-2 bounds it fine.
NOISY_FLOOR_SECS = 0.5


def _env_snapshot() -> dict:
    """Pre-session contention signals (taken BEFORE our own JVM exists)."""
    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        load_1m = None
    try:
        out = subprocess.run(["pgrep", "-c", "java"], capture_output=True,
                             text=True, timeout=5).stdout.strip()
        other_jvms = int(out) if out else 0
    except (OSError, ValueError, subprocess.TimeoutExpired):  # pragma: no cover
        other_jvms = None
    return {"load_avg_1m": load_1m, "other_jvms": other_jvms,
            "cpu_count": os.cpu_count()}


def _njobs(sc) -> int:
    """Jobs submitted so far, whatever their job group (Structured
    Streaming runs its micro-batches under its own group): the DAG
    scheduler's next job id. It counts at submission, so it needs no
    listener-bus event, and stays exact after Spark drops old jobs from
    its status store (``spark.ui.retainedJobs``)."""
    return sc._jsc.sc().dagScheduler().nextJobId()


def _worker(out_path: str) -> None:
    """ONE fresh-JVM batch: warmup, then a single timed pass over the
    registry (optionally restricted via $SPARK_GRAFT_BENCH_ONLY), with
    one materialize scope per query. Writes {queries, phases, env} JSON."""
    import __spark_entry__ as entrymod
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.materialize import scope
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env = _env_snapshot()
    spark = get_spark("bench")
    # Warm-up: JVM, codegen, parquet footers — not part of any measurement.
    # Through the catalog, not bare spark.read: events needs its session
    # conf and ts normalization (catalog.load_table).
    for t in ("part", "lineitem", "orders", "events", "documents",
              "embeddings"):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            catalog.load_table(spark, sf_dir, t).count()
    # ...and ONE untimed throwaway query action (round-8 VERDICT item 3):
    # table counts don't exercise whole-stage codegen / shuffle machinery,
    # so the first MEASURED query would otherwise absorb ~1.4 s of JVM
    # warm-up. Burn the flagship chain once before any clock starts.
    _wq = entrymod._ANCHORS[0] if getattr(entrymod, "_ANCHORS", None) \
        else next(iter(entrymod.queries()))
    _t0 = time.perf_counter()
    with scope():
        entrymod.queries()[_wq](spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()
    env["warmup_query"] = _wq
    env["warmup_secs"] = round(time.perf_counter() - _t0, 3)
    # ...and ONE untimed streaming drain (round-11, VERDICT r10 item 3):
    # the stateful-streaming machinery (micro-batch engine, state
    # stores, stream-stream join codegen) JITs independently of the
    # batch chain above — without this, the FIRST *_streamed query
    # measured in each fresh JVM absorbs the JIT (measured same-JVM
    # drains of the sf0.1 interval join: 20.5 → 13.1 → 6.0 s), which
    # dominated every round's flag list. A 256-row synthetic two-stream
    # interval join exercises exactly those code paths at zero data cost.
    _t0 = time.perf_counter()
    import shutil as _sh

    import pandas as _pd

    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.streaming import joins as _sj
    _warm_dir = tempfile.mkdtemp(prefix="bench_stream_warm_")
    try:
        spark.createDataFrame(_pd.DataFrame({
            "ts": _pd.date_range("2024-01-01", periods=256, freq="min"),
            "user_id": [i % 16 for i in range(256)],
            "event_id": list(range(256)),
            "value": [1.0] * 256,
        })).write.mode("overwrite").parquet(_warm_dir)
        _sch = spark.read.parquet(_warm_dir).schema

        def _wstream():
            return spark.readStream.schema(_sch).parquet(_warm_dir)

        # two drains through the MEMORY sink (what the registered
        # *_streamed queries use): the first compiles the cold paths,
        # the second catches the stragglers the first left interpreting
        for _wi in range(2):
            _wj = _sj.time_interval_join(
                _wstream(), _wstream().select("event_id", "ts", "user_id"),
                "user_id", lower_seconds=3600, upper_seconds=0)
            _q = (_wj.writeStream.format("memory")
                  .queryName(f"_bench_stream_warm_{_wi}")
                  .outputMode("append").trigger(availableNow=True).start())
            _q.awaitTermination()
            spark.catalog.dropTempView(f"_bench_stream_warm_{_wi}")
    finally:
        _sh.rmtree(_warm_dir, ignore_errors=True)
    env["warmup_stream_secs"] = round(time.perf_counter() - _t0, 3)
    # ...and ONE untimed Python-runtime exercise (round-11): the Arrow
    # pandas-UDF worker pool and the Python Data Source planner/reader
    # processes spin up on FIRST use (~2-7 s, measured on the kvstore
    # split probe: first datasource read 7.0 s, second 0.76 s in the
    # same JVM). r1-r7's long-lived single-JVM protocol amortized that
    # into whichever query ran first; fresh-JVM batches re-priced it
    # into every Python-path query's own slot. Warm both pools so the
    # measurement is the operator, not interpreter spin-up — exactly
    # what a real deployment's long-lived executors see.
    _t0 = time.perf_counter()
    from pyspark.sql.functions import pandas_udf as _pudf
    _bench_warm_py = _pudf(lambda s: s, "long")  # legacy-style SCALAR
    spark.range(64).select(_bench_warm_py("id").alias("v")) \
        .write.format("noop").mode("overwrite").save()
    try:
        from pyspark.sql.datasource import (
            DataSource as _DS,
            DataSourceReader as _DSR,
        )

        class _BenchWarmReader(_DSR):
            def read(self, partition):
                yield (1,)

        class _BenchWarmSource(_DS):
            @classmethod
            def name(cls):
                return "bench_warm_source"

            def schema(self):
                return "v int"

            def reader(self, schema):
                return _BenchWarmReader()

        spark.dataSource.register(_BenchWarmSource)
        spark.read.format("bench_warm_source").load() \
            .write.format("noop").mode("overwrite").save()
    except Exception:  # pragma: no cover — datasource API unavailable
        pass
    env["warmup_python_secs"] = round(time.perf_counter() - _t0, 3)

    items = list(entrymod.queries().items())
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")  # subset hook (also
    if only:                                         # the targeted batch)
        keep = set(only.split(","))
        items = [(n, f) for n, f in items if n in keep]

    sc = spark.sparkContext
    times: dict[str, float] = {}
    phases: dict[str, dict] = {}
    for name, fn in items:
        # One scope per query: on exit it releases every frame the build
        # materialized, so no query's stored blocks slow a later one
        # (measured round 12: 160 MB of leftover checkpoint blocks made
        # later Python-worker queries 1.3-1.8x slower in-suite). Job
        # counts are read outside the timed spans.
        with scope():
            sc.setJobDescription(f"bench:{name}:build")
            j0 = _njobs(sc)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build = time.perf_counter() - t0
            j1 = _njobs(sc)
            sc.setJobDescription(f"bench:{name}:exec")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_ = time.perf_counter() - t0
            j2 = _njobs(sc)
            del df
            sc.setJobDescription(None)
        times[name] = round(build + exec_, 3)
        phases[name] = {"build_s": round(build, 3), "exec_s": round(exec_, 3),
                        "jobs_build": j1 - j0, "jobs_exec": j2 - j1}
        # memory-sink temp views would otherwise accumulate across a
        # full pass (untimed)
        for t in spark.catalog.listTables():
            if t.name.startswith("_") and t.isTemporary:
                spark.catalog.dropTempView(t.name)
    env["load_avg_1m_end"] = round(os.getloadavg()[0], 2)
    with open(out_path, "w") as fh:
        json.dump({"queries": times, "phases": phases, "env": env}, fh)
    spark.stop()


def _spawn_batch(only: list[str] | None = None) -> dict:
    """Run one fresh-JVM batch in a subprocess; returns its JSON dict."""
    repo = os.path.dirname(os.path.abspath(__file__))
    fd, out = tempfile.mkstemp(prefix="bench_batch_", suffix=".json")
    os.close(fd)
    env = dict(os.environ)
    if only is not None:
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(only)
    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", out],
            env=env, cwd=repo, timeout=7200)
        if r.returncode != 0:
            raise RuntimeError(f"bench worker exited rc={r.returncode}")
        with open(out) as fh:
            return json.load(fh)
    finally:
        try:
            os.unlink(out)
        except OSError:
            pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    env = _env_snapshot()
    ncpu = env["cpu_count"] or 1
    if (env["other_jvms"] or 0) > 0 or (env["load_avg_1m"] or 0) > 0.5 * ncpu:
        print(f"[bench] WARNING contended box: {env} — timings suspect",
              file=sys.stderr)

    nbatches = int(os.environ.get("SPARK_GRAFT_BENCH_BATCHES", "2"))
    batches: list[dict] = []
    for i in range(nbatches):
        print(f"[bench] fresh-JVM batch {i + 1}/{nbatches} ...",
              file=sys.stderr)
        batches.append(_spawn_batch())

    samples: dict[str, list[float]] = {}
    # per query, the phase record of the batch with the min seconds: a
    # slower batch's record (say, one that built a cold fixture) is not it
    phases: dict[str, dict] = {}

    def _collect(b: dict) -> None:
        for n, s in b["queries"].items():
            if n not in samples or s < min(samples[n]):
                phases[n] = b["phases"][n]
            samples.setdefault(n, []).append(float(s))

    for b in batches:
        _collect(b)

    # Targeted third batch: queries whose batch samples disagree >1.5x
    # were measured through at least one noisy stretch — grant them one
    # more FRESH JVM so the min is backed by a quiet sample. Bounded by
    # the noisy count; on a quiet box this batch is empty.
    noisy = sorted(n for n, ss in samples.items()
                   if len(ss) >= 2 and max(ss) > NOISY_RATIO * min(ss)
                   and min(ss) >= NOISY_FLOOR_SECS)
    retried: dict[str, list[float]] = {}
    if noisy:
        print(f"[bench] targeted re-measure batch: {len(noisy)} "
              f"high-variance queries ...", file=sys.stderr)
        tb = _spawn_batch(only=noisy)
        batches.append(tb)
        _collect(tb)
        retried = {n: [round(s, 3) for s in samples[n]] for n in noisy}

    mins = {n: round(min(ss), 3) for n, ss in samples.items()}
    total = round(sum(mins.values()), 3)
    env["load_avg_1m_end"] = round(os.getloadavg()[0], 2)
    env["batch_loads"] = [b["env"].get("load_avg_1m") for b in batches]
    full = {
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "basis": "fresh_jvm_min",
        "queries": mins,
        "phases": phases,
        "batches": batches,
        "retried": retried,
        "sf": sf,
        "env": env,
    }
    # The driver keeps only the LAST ~2000 chars of stdout and parses the
    # final line as JSON; the full 300-query dict is ~25 KB, so the
    # COMPLETE results go to a RUN-STAMPED file (committed as
    # BENCH_LOCAL_r{N} via SPARK_GRAFT_BENCH_FULL_OUT) and stdout gets
    # ONE compact line — suite total, env, and the anchor chain's
    # per-query seconds (a stable cross-round basis; rotation rows churn
    # by design).
    stamp = time.strftime("%Y%m%d_%H%M%S")
    full_out = os.environ.get("SPARK_GRAFT_BENCH_FULL_OUT",
                              f"BENCH_LOCAL_{stamp}.json")
    with open(full_out, "w") as fh:
        fh.write(json.dumps(full) + "\n")
    import __spark_entry__ as entrymod
    anchors = [n for n in getattr(entrymod, "_ANCHORS", [])
               if n in mins] or list(mins)[:6]
    print(json.dumps({
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "basis": "fresh_jvm_min",
        "n_queries": len(mins),
        "n_batches": len(batches),
        "queries": {n: mins[n] for n in anchors},
        "full_results_file": os.path.basename(full_out),
        "sf": sf,
        "env": env,
    }))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        _worker(sys.argv[2])
    else:
        main()
