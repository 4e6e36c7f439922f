"""Pipeline-and-query benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process from the root of a checkout and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
full run record (inputs, host, Spark conf, passes, checks, spans) is written
to ``.perfbench_out/``. Everything the run writes stays inside the checkout.

Exits with code 2, printing no result, when the repo's package, the registry
entry module or ``tools/oracle_check.py`` cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
              "item_p50_s": "s", "peak_rss_mb": "MB"}
DRIVER_MEMORY = "2g"


def _configure_env(work: str) -> None:
    """Environment set for this process, Spark's JVM and its Python workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    try:
        import __spark_entry__  # noqa: F401
        import oracle_check  # noqa: F401
        import music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is missing: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    try:
        run, metrics = workloads.run(args.workload, args.seed, args.seconds,
                                     bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = workloads.layers.PER_LAYER if args.trace else END_TO_END
    result = {"correct": run.failed == 0 and run.attempted > 0,
              "attempted": run.attempted, "failed": run.failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as fh:
        json.dump({**run.record, "result": result}, fh, indent=1, default=str)
    print(f"perfbench: run record written to {out}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
