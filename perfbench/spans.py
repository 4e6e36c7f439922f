"""In-memory span tracer, call-site patching and Spark event-log attribution.

Spans are recorded from the benchmark's side, around calls into the repo's
public functions: each wrapper replaces the function where its caller looks
it up (``patch_everywhere`` swaps every module attribute bound to the
function, so ``pipeline.write_dataframe`` is wrapped, not only
``kvstore.write_dataframe``).

Each span carries an id that is also set as the Spark local property
``perfbench.span`` while it is open, so every Spark job it launches records
the innermost open span in the event log. ``exec_by_span`` reads the log
after the run and sums task metrics per span subtree.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Spans as dicts: id, parent, name, start, end (epoch seconds), attrs."""

    def __init__(self, clock: Callable[[], float] = time.time):
        self.clock = clock
        self.spans: list[dict] = []
        self.default_parent: int | None = None   # parent for other threads
        self._local = threading.local()
        self._lock = threading.Lock()
        self._spark_context = None

    def bind_spark(self, sc) -> None:
        self._spark_context = sc

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1]["id"] if stack else self.default_parent
        with self._lock:
            span = {"id": len(self.spans), "parent": parent, "name": name,
                    "start": self.clock(), "end": None, "attrs": attrs}
            self.spans.append(span)
        stack.append(span)
        self._set_property(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = self.clock()
        stack = self._stack()
        stack.pop()
        self._set_property(stack[-1]["id"] if stack else self.default_parent)

    def _set_property(self, span_id: int | None) -> None:
        if self._spark_context is not None:
            self._spark_context.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self.open(name, **attrs)
        try:
            yield rec
        finally:
            self.close(rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = _union([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in children[s["id"]]])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def coverage(spans: list[dict], root_id: int, containers: set[str]) -> float:
    """Share of the root span's wall covered by named stage spans: one minus
    the self time of the root and of every container span (spans that only
    sequence stages, such as ``pipeline.run_once``) over the root's wall."""
    selfs = self_times(spans)
    root = spans[root_id]
    wall = root["end"] - root["start"]
    uncovered = selfs[root_id] + sum(selfs[s["id"]] for s in spans
                                     if s["name"] in containers)
    return 1.0 - uncovered / wall


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if s["name"] == name and not nested(s)]


def subtree_ids(spans: list[dict], root: dict) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    out, todo = set(), [root["id"]]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(children[i])
    return out


# -- patching -----------------------------------------------------------------

class Patcher:
    """Swaps attributes for wrappers and puts the originals back."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


def traced(tracer: Tracer, fn: Callable, namer: Callable[..., str] | str,
           on_result: Callable | None = None) -> Callable:
    """Wrap ``fn`` in a span; ``namer`` is the span name or a function of the
    call's arguments; ``on_result(span, result)`` may record counts."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        name = namer if isinstance(namer, str) else namer(*args, **kwargs)
        with tracer.span(name) as rec:
            result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, result)
            return result

    return wrapper


def patch_everywhere(patcher: Patcher, fn: Callable, wrapper: Callable,
                     prefixes: tuple[str, ...]) -> int:
    """Replace every module-level binding of ``fn`` in modules whose name
    starts with one of ``prefixes``; return how many bindings were swapped."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefixes):
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                patcher.set(mod, attr, wrapper)
                n += 1
    return n


# -- Spark event log ------------------------------------------------------------

EXEC_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "task_skew")


def read_event_log(path: str) -> dict:
    """Jobs (span id, interval, stages) and per-stage task metrics."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = {
                    "span": None if span is None else int(span),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "stages": list(ev.get("Stage IDs", []))}
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)})
    return {"jobs": jobs, "tasks": tasks}


def exec_totals(log: dict, span_ids: set[int]) -> dict[str, float]:
    """Sum task metrics of the jobs launched under ``span_ids``.
    ``task_skew`` is max over median task run time (0 without tasks)."""
    job_list = [j for j in log["jobs"].values() if j["span"] in span_ids]
    stage_ids = {s for j in job_list for s in j["stages"] if s in log["tasks"]}
    task_list = [t for s in stage_ids for t in log["tasks"][s]]
    out = {k: 0.0 for k in EXEC_KEYS}
    out.update(jobs=len(job_list), stages=len(stage_ids), tasks=len(task_list))
    for t in task_list:
        out["task_run_s"] += t["run_s"]
        out["task_cpu_s"] += t["cpu_s"]
        for k in ("gc_s", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[k] += t[k]
    if task_list:
        runs = sorted(t["run_s"] for t in task_list)
        mid = runs[len(runs) // 2]
        out["task_skew"] = runs[-1] / mid if mid > 0 else 1.0
    return out


def job_gap(log: dict, span: dict, span_ids: set[int]) -> float:
    """Driver gap: the span's wall not covered by any of its jobs."""
    intervals = [(max(j["start"], span["start"]), min(j["end"], span["end"]))
                 for j in log["jobs"].values()
                 if j["span"] in span_ids and j["end"] is not None]
    return (span["end"] - span["start"]) - _union(intervals)
