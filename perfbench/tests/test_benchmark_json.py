"""BENCHMARK.json declares exactly what run.py prints."""

import json
import os

import run

PATH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _bench():
    with open(PATH) as fh:
        return json.load(fh)


def test_metrics_match_the_run_catalog():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in b["per_layer"]] == run.per_layer_names()
    for m in b["end_to_end"] + b["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_workloads_match_the_run_catalog():
    from workloads import WORKLOADS

    b = _bench()
    assert [(w["name"], w["why"]) for w in b["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert b["command"] == ["python3", "perfbench/run.py"] and b["paths"] == ["perfbench"]
