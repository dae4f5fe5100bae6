"""Unit tests of the tracer's interval arithmetic and the oracle comparison."""

import json
import os

from perfbench.layers import PER_LAYER_UNITS
from perfbench.oracle_check import compare
from perfbench.run import END_TO_END_UNITS
from perfbench.trace import Span, self_time, union_length
from perfbench.workloads import WORKLOADS

from .conftest import ROOT


def _span(start, end, name="child"):
    return Span(id=0, name=name, start=start, end=end, parent=1, round=1, thread="t")


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([]) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(0.0, 10.0, "engine.run_round")
    # two pool threads overlap on [2, 4]; a nested call sits inside the
    # first; one child runs past the parent's end
    children = [_span(1.0, 4.0), _span(2.0, 6.0), _span(2.5, 3.0), _span(9.0, 12.0)]
    # covered: [1, 6] and [9, 10] -> 6 s; the naive sum would be 11.5 s
    assert self_time(parent, children) == 4.0


def test_self_time_without_children_is_duration():
    assert self_time(_span(3.0, 7.5), []) == 4.5


def test_compare_accepts_match_and_reports_tampering():
    oracle = {
        "log": [[0, 0.1, "http://h0/a"], [0, 0.2, "http://h1/b"]],
        "seen": ["http://h0/a", "http://h1/b"],
    }
    assert compare(json.loads(json.dumps(oracle)), oracle) == []
    swapped = {"log": oracle["log"][::-1], "seen": oracle["seen"]}
    assert compare(swapped, oracle)
    short = {"log": oracle["log"][:1], "seen": oracle["seen"][:1]}
    assert len(compare(short, oracle)) == 2
    wrong_priority = {"log": [[0, 0.3, "http://h0/a"], oracle["log"][1]], "seen": oracle["seen"]}
    assert compare(wrong_priority, oracle)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
