"""Host record, process memory and orderly shutdown of the Spark JVM."""

from __future__ import annotations

import os
import signal
import time

BENCH_ENV = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYTHONPATH", "TMPDIR",
             "SPARK_LOCAL_DIRS", "PYSPARK_PYTHON")


def _meminfo_mb(key: str) -> float | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(entry)] = (ppid, comm)
    return out


def _alive(pid: int) -> bool:
    """Running, not a zombie waiting for its new parent to reap it."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def descendants(pid: int) -> list[int]:
    procs = _processes()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, (pp, _) in procs.items() if pp == p]
        out += kids
        todo += kids
    return out


def snapshot() -> dict:
    mine = set(descendants(os.getpid()))
    jvms = [p for p, (_, comm) in _processes().items()
            if comm == "java" and p not in mine]
    return {"nproc": os.cpu_count(), "load_avg": list(os.getloadavg()),
            "mem_available_mb": _meminfo_mb("MemAvailable"),
            "mem_total_mb": _meminfo_mb("MemTotal"),
            "other_jvms": len(jvms),
            "env": {k: os.environ.get(k) for k in BENCH_ENV}}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _gateway_proc(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def peak_rss_parts_mb(spark) -> dict[str, float]:
    """VmHWM of the driver JVM and of this Python process."""
    return {"jvm": vm_hwm_mb(_gateway_proc(spark).pid), "python": vm_hwm_mb("self")}


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits on EOF of its stdin) and wait
    for it and every process it started."""
    from pyspark import SparkContext

    proc = _gateway_proc(spark)
    children = descendants(proc.pid) if proc else []
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 — TimeoutExpired: escalate
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
