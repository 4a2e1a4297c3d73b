"""BENCHMARK.json and the runner agree on what a run reports."""

import json
import os

import run


def test_benchmark_json_lists_what_the_runner_reports():
    with open(os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {e["name"]: (e["unit"], e["better"]) for e in spec["end_to_end"]} == run.END_TO_END
    assert {e["name"]: (e["unit"], e["better"]) for e in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
