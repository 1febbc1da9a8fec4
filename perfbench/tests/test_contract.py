"""BENCHMARK.json names exactly the metrics run.py reports."""

import json
import os

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    # llm_corpus runs by hand only (see README.md)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS) - {"llm_corpus"}
