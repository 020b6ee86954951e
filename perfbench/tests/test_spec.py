"""BENCHMARK.json names only metrics and workloads the benchmark emits."""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _metrics():
    return SPEC["end_to_end"] + SPEC["per_layer"]


def test_metric_names_and_units():
    names = [m["name"] for m in _metrics()]
    assert len(names) == len(set(names))
    for m in _metrics():
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")


def test_bounds():
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_layer_field_is_declared():
    declared = {m["name"] for m in SPEC["per_layer"]}
    for layer in ledger.LAYERS:
        for field in ledger.LAYER_FIELDS:
            assert f"{layer}.{field}" in declared


def test_workloads_exist():
    names = [w["name"] for w in SPEC["workloads"]]
    assert 2 <= len(names) <= 8
    for n in names:
        assert NAME.fullmatch(n)
        assert n in gen.WORKLOADS
