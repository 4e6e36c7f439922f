"""Steadiness report: run one workload under several seeds, one run at a
time, and print each end-to-end metric's median, quartiles and spread (the
quartile distance as a share of the median) next to its bound.

    python3 perfbench/steady.py --workload ingest_trickle --seeds 1-10
    python3 perfbench/steady.py --report runs.jsonl     # re-print saved runs

Each run's result line is appended to ``--out`` (JSON lines) so two sets of
runs can be compared afterwards (``--compare first.jsonl second.jsonl``:
second median against first, as a share of the first).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, quartiles, spread  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = _bench()["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "elapsed_s": elapsed, **result}


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def summarize(runs: list[dict]) -> list[dict]:
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    rows = []
    for wl in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == wl]
        for name in mine[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in mine]
            q1, q2, q3 = quartiles(vals)
            rows.append({"workload": wl, "metric": name, "n": len(vals),
                         "q1": q1, "median": q2, "q3": q3, "spread": spread(vals),
                         "bound": bounds.get(name)})
    return rows


def print_summary(runs: list[dict]) -> None:
    print(f"{'workload':16s} {'metric':14s} {'n':>3s} {'q1':>12s} {'median':>12s} "
          f"{'q3':>12s} {'spread':>8s} {'bound':>6s}  ok")
    for r in summarize(runs):
        ok = "" if r["bound"] is None else (
            "yes" if r["spread"] <= r["bound"] / 3 else
            "within" if r["spread"] <= r["bound"] else "NO")
        print(f"{r['workload']:16s} {r['metric']:14s} {r['n']:3d} {r['q1']:12.4f} "
              f"{r['median']:12.4f} {r['q3']:12.4f} {r['spread']:8.4f} "
              f"{r['bound'] if r['bound'] is not None else '':>6}  {ok}")
    by_wl: dict[str, list[float]] = {}
    for r in runs:
        by_wl.setdefault(r["workload"], []).append(r["elapsed_s"])
    for wl, el in sorted(by_wl.items()):
        print(f"# {wl}: {len(el)} runs, elapsed median {median(el):.1f} s, "
              f"max {max(el):.1f} s, all correct: "
              f"{all(r['correct'] for r in runs if r['workload'] == wl)}")


def compare(first: list[dict], second: list[dict]) -> None:
    better = {m["name"]: m["better"] for m in _bench()["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    a = {(r["workload"], r["metric"]): r["median"] for r in summarize(first)}
    for r in summarize(second):
        key = (r["workload"], r["metric"])
        if key not in a:
            continue
        change = (r["median"] - a[key]) / a[key]
        worse = change if better[r["metric"]] == "lower" else -change
        print(f"{key[0]:16s} {key[1]:14s} first {a[key]:12.4f} second "
              f"{r['median']:12.4f} worse by {worse:+.4f} (bound {bounds[key[1]]})"
              f"  {'ok' if worse <= bounds[key[1]] else 'NO'}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--report", nargs="*")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        compare(load(args.compare[0]), load(args.compare[1]))
        return 0
    if args.report:
        print_summary([r for p in args.report for r in load(p)])
        return 0
    seconds = args.seconds or _bench()["run_seconds"]
    runs = []
    for wl in args.workload or [w["name"] for w in _bench()["workloads"]]:
        for seed in _seeds(args.seeds):
            r = run_once(wl, seed, seconds)
            runs.append(r)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
            print(f"{wl} seed {seed}: {r['elapsed_s']:.1f} s, correct {r['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
    print_summary(runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
