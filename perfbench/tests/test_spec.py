"""BENCHMARK.json at the repo root is generated by perfbench/spec.py."""

import json
import os
import re

from spec import benchmark_json, per_layer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == benchmark_json()


def test_names_and_units_are_well_formed():
    spec = benchmark_json()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for u in per_layer().values():
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u), u
    assert 1 <= len(spec["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
