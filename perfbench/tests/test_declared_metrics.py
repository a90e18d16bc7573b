"""BENCHMARK.json and the benchmark's output agree: the end-to-end
metrics are the ones every workload reports (``run.E2E``), every
workload is registered, and each per-layer metric's declared unit is
the unit the traced run prints for it."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def test_end_to_end_names():
    assert [m["name"] for m in DECLARED["end_to_end"]] == list(run.E2E)
    assert all(m["bound"] <= 0.25 for m in DECLARED["end_to_end"])


def test_workload_names():
    assert [w["name"] for w in DECLARED["workloads"]] == list(workloads.WORKLOADS)


def test_per_layer_units():
    for m in DECLARED["per_layer"]:
        assert m["unit"] == run._unit(m["name"]), m["name"]


def test_overhead_covers_every_end_to_end_metric():
    layer = {m["name"] for m in DECLARED["per_layer"]}
    assert {f"overhead.{k}" for k in run.E2E} <= layer
