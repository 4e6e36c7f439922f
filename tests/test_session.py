from __future__ import annotations

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
