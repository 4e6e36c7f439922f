"""``bench.py --worker`` records each query's build/exec phase split and
the Spark jobs of each phase, streaming micro-batch jobs included."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]
QUERIES = ["daily_genre_kpis", "kv_genre_kpi_items"]
#: drains a Structured Streaming query (its own job group) while it builds
STREAMED = "events_windowed_counts_streamed"


def test_worker_records_phases(tmp_path):
    out = tmp_path / "batch.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE,
               SPARK_GRAFT_BENCH_ONLY=",".join(QUERIES + [STREAMED]),
               # the test session's JVM is already up
               SPARK_DRIVER_MEMORY="1g")
    subprocess.run([sys.executable, str(REPO / "bench.py"), "--worker",
                    str(out)], env=env, cwd=REPO, check=True, timeout=600)
    batch = json.loads(out.read_text())
    assert sorted(batch["queries"]) == sorted(QUERIES + [STREAMED])
    assert sorted(batch["phases"]) == sorted(QUERIES + [STREAMED])
    for name, secs in batch["queries"].items():
        ph = batch["phases"][name]
        assert abs(ph["build_s"] + ph["exec_s"] - secs) <= 0.002, (name, ph)
        assert ph["jobs_exec"] >= 1, (name, ph)
        if name in QUERIES:
            # catalog opens read the parquet footer on the driver: no job
            assert ph["jobs_build"] == 0, (name, ph)
    # the drain's micro-batch jobs are charged to the build phase
    assert batch["phases"][STREAMED]["jobs_build"] >= 1, batch["phases"]
