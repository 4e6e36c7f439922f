"""BENCHMARK.json names exactly what the runner reports."""

import json
import os

import layers
import run
import workloads
from conftest import ROOT


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_lists_match_the_runner():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.PER_LAYER
    assert {m["name"] for m in b["per_layer"] if m["better"] == "higher"} \
        == {"validate.rows_good", "kvstore.write_dataframe.items",
            "kvstore.write_dataframe.items_per_s", "trace.coverage"}
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def test_bounds():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert len(_bench()["per_layer"]) <= 128
