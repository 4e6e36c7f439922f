"""Per-query phase profiler for the optimization rounds (guide §1).

For each named registry query (default: the top-N by seconds from a
BENCH_LOCAL_*.json), in ONE fresh JVM after the same warmups bench.py
uses, record:

- ``build_secs``: wall of ``fn(spark, sf_dir)`` — query *construction*,
  which for multi-phase operators includes eager driver work
  (localCheckpoint materializations, ``count()``/``collect()`` folds,
  Catalyst analysis of big literal expressions);
- ``exec_secs``: wall of the noop-sink write of the returned frame
  (guide §1.4) — the part that scales with data;
- ``jobs_build`` / ``jobs_exec``: Spark job counts per phase (via the
  status tracker), separating driver-only stalls from task work;
- the ``formatted`` explain of the final frame (optional --plans DIR,
  one ``<query>_before.txt``-style file per query).

This split is the first decision point of the optimization loop: a
query whose wall is mostly ``build_secs`` with few jobs is driver-bound
(plan construction, py4j chatter, literal folding) and no amount of
shuffle tuning will move it; a query whose ``exec_secs`` dominates gets
the §2/§3 treatment.

Usage:
  python tools/profile_queries.py [--sf DIR] [--top N | --only a,b,c]
      [--bench BENCH_LOCAL.json] [--plans DIR] [--out OUT.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain_formatted(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _njobs(sc) -> int:
    """Jobs submitted so far: the newest job id + 1. Ids are sequential,
    so differences stay exact after Spark drops old jobs from its status
    store (``spark.ui.retainedJobs``, 1000 by default), where a count of
    the retained ids would fall."""
    return max(sc.statusTracker().getJobIdsForGroup(None) or [-1]) + 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--only", default=None)
    ap.add_argument("--bench", default="BENCH_LOCAL_r11.json")
    ap.add_argument("--plans", default=None)
    ap.add_argument("--out", default="/tmp/profile_queries.json")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import catalog

    qs = entrymod.queries()
    if args.only:
        names = [n for n in args.only.split(",") if n in qs]
    else:
        with open(args.bench) as fh:
            bench = json.load(fh)["queries"]
        names = [n for n, _ in sorted(bench.items(), key=lambda kv: -kv[1])
                 if n in qs][:args.top]

    spark = get_spark("profile")
    sc = spark.sparkContext
    for t in ("part", "lineitem", "orders", "events", "documents",
              "embeddings"):
        if os.path.exists(os.path.join(args.sf, f"{t}.parquet")):
            catalog.load_table(spark, args.sf, t).count()
    # same warmup spirit as bench.py: one throwaway query action
    next(iter(qs.values()))(spark, args.sf) \
        .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        sc.setJobDescription(f"profile:{name}:build")
        j0 = _njobs(sc)
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        t1 = time.perf_counter()
        j1 = _njobs(sc)
        sc.setJobDescription(f"profile:{name}:exec")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        j2 = _njobs(sc)
        sc.setJobDescription(None)
        rec = {"build_secs": round(t1 - t0, 3),
               "exec_secs": round(t2 - t1, 3),
               "total_secs": round(t2 - t0, 3),
               "jobs_build": j1 - j0, "jobs_exec": j2 - j1}
        out[name] = rec
        print(f"{name:42s} build {rec['build_secs']:7.2f}s "
              f"({rec['jobs_build']:3d} jobs)  exec {rec['exec_secs']:7.2f}s "
              f"({rec['jobs_exec']:3d} jobs)", flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(_explain_formatted(df))
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.name.startswith("_") and t.isTemporary:
                spark.catalog.dropTempView(t.name)

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"[profile] wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
