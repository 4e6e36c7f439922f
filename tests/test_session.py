from __future__ import annotations

import re
from pathlib import Path

import pytest

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import session


def test_driver_memory_fits_the_host(monkeypatch):
    """The default driver heap is at most half of MemTotal, not a fixed
    size past what the host has; SPARK_DRIVER_MEMORY still wins."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    heap = session.default_driver_memory()
    assert heap.endswith("m") and 0 < int(heap[:-1]) * 1024 <= total_kb // 2
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.default_driver_memory() == "3g"


def test_tungsten_pages_are_2mb(spark):
    """Sort and aggregate tasks allocate 2 MB pages, not the heap-derived
    default (32 MB at a 2 GB heap and 4 cores)."""
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == 2 * 1024 * 1024


def test_conf_override_restores_after_body_and_exception(spark):
    """conf_override sets the key for the body only: the previous value
    is back after a normal exit and after the body raised."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with session.conf_override(spark, {key: 3}):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError):
        with session.conf_override(spark, {key: 5}):
            assert spark.conf.get(key) == "5"
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == before


def test_package_reads_only_deployment_env_vars():
    """The library's environment surface is the deployment settings plus
    one opt-in safety check — no A/B switch reads an env var. Every
    ``environ``/``getenv`` use must name its variable literally, so no
    read escapes the scan."""
    pkg = Path(session.__file__).parent
    use = re.compile(r"\benviron\b|\bgetenv\b")
    read = re.compile(r"""(?:\benviron\.get|\bgetenv)\(\s*["']([A-Z0-9_]+)["']"""
                      r"""|\benviron\[\s*["']([A-Z0-9_]+)["']""")
    names = set()
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        found = [a or b for a, b in read.findall(src)]
        assert len(found) == len(use.findall(src)), path
        names.update(found)
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
                     "SPARK_MASTER", "SPARK_GRAFT_SF_DIR",
                     "SPARK_GRAFT_ORACLE_SF_DIR",
                     "SPARK_GRAFT_IDS_CHECK_TOTAL_ORDER"}
