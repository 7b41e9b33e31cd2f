"""BENCHMARK.json and the metrics the benchmark prints must agree.

    python3 -m pytest perfbench/test_catalog.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from workloads import LAYER_METRICS, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS


def test_listed_workloads_exist():
    for w in _spec()["workloads"]:
        assert w["name"] in WORKLOADS
        assert w["name"] in run.WORKLOAD_NAMES
    assert set(run.WORKLOAD_NAMES) == set(WORKLOADS)
