"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    check_metric_name,
    clip,
    interval_union,
    self_time,
    summarize,
)


def test_interval_union_merges_overlaps_and_gaps():
    assert interval_union([]) == 0
    assert interval_union([(0, 1), (2, 3)]) == 2
    assert interval_union([(0, 2), (1, 3)]) == 3
    assert interval_union([(1, 3), (0, 2), (5, 6), (2.5, 2.6)]) == 4
    assert interval_union([(0, 4), (1, 2)]) == 4  # nested
    assert interval_union([(0, 1), (1, 2)]) == 2  # touching


def test_interval_union_ignores_empty_and_inverted():
    assert interval_union([(3, 3), (5, 4)]) == 0
    assert interval_union([(0, 1), (2, 1)]) == 1


def test_clip_to_window():
    assert clip([(-1, 2), (3, 9), (4, 5)], 0, 4) == [(0, 2), (3, 4), (4, 4)]
    # a stage entirely outside the window covers nothing once clipped
    assert interval_union(clip([(10, 12)], 0, 4)) == 0


def test_self_time_subtracts_covered_part_once():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 4), (6, 7)]) == 6
    # children sticking out of the parent only count inside it
    assert self_time(0, 10, [(-5, 2), (9, 15)]) == 7


def test_driver_gap_is_wall_minus_stage_union():
    # two overlapping stages inside a 10s span leave 10 - 5 = 5s of
    # driver time with no stage active
    stages = [(1, 4), (3, 6)]
    assert 10 - interval_union(clip(stages, 0, 10)) == 5


def test_summarize_matches_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    s = summarize(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert s == {"median": 4.0, "q1": q1, "q3": q3, "n": 7}
    assert summarize([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    with pytest.raises(ValueError):
        summarize([])


@pytest.mark.parametrize("name", ["wall_s", "graph.slm.s_per_sweep", "0x", "a-b.c_d", "x" * 64])
def test_metric_names_accepted(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65, "a\n"])
def test_metric_names_rejected(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_every_reported_metric_name_is_valid():
    for name in list(run.END_TO_END) + list(run.per_layer_units()):
        check_metric_name(name)
    assert len(run.per_layer_units()) <= 128


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_tracer_spans_nest_and_wrap_restores():
    class Owner:
        @staticmethod
        def f(n):
            return Owner.f(n - 1) + 1 if n else 0

    tracer = Tracer(sc=None, run_id="t", enabled=True)
    orig = Owner.f
    tracer.wrap(Owner, "f", "inner")
    with tracer.span("outer"):
        assert Owner.f(3) == 3
    tracer.close()
    assert Owner.f is orig
    # recursion opens one span, under the enclosing one
    assert [(s.name, s.parent) for s in tracer.spans] == [("outer", None), ("inner", 0)]


def test_disabled_tracer_records_nothing():
    tracer = Tracer(sc=None, run_id="t", enabled=False)
    with tracer.span("x"), tracer.operator("graph.slm"):
        pass
    tracer.wrap(run, "loadavg_1m", "x")
    assert tracer.spans == [] and run.loadavg_1m.__module__ == "run"
