"""Every metric name the benchmark can emit is well-formed and declared
in BENCHMARK.json, with the unit it is printed with."""

import json
import os
import re

import run
import tracing
from workloads import ALL_QUERY_NAMES, WORKLOADS

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _declared():
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_declared_with_units():
    spec = _declared()
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == run.END_TO_END_UNITS
    for name in declared:
        assert NAME.fullmatch(name)


def test_per_layer_names_declared_with_units():
    spec = _declared()
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    emitted = tracing.per_layer_names(ALL_QUERY_NAMES)
    assert len(emitted) == len(set(emitted))
    assert set(emitted) == set(declared)
    for name in emitted:
        assert NAME.fullmatch(name) and len(name) <= 64
        assert run.per_layer_unit(name) == declared[name]


def test_workloads_declared():
    assert {w["name"] for w in _declared()["workloads"]} == set(WORKLOADS)


def test_layer_metrics_emit_only_declared_names():
    declared = set(tracing.per_layer_names(ALL_QUERY_NAMES))
    out = tracing.layer_metrics([], {}, ALL_QUERY_NAMES)
    assert set(out) <= declared
