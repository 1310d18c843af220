"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os

import pytest

from measure import Tracer, pass_order, self_times, steady_triggers, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "n, index",
    [(11, 0), (12, 1), (20, 9), (101, 90)],
)
def test_tail_keeps_ten_samples_beyond(n, index):
    samples = [float(x) for x in reversed(range(n))]
    pct, value, count = tail(samples)
    assert value == index
    assert count == n
    assert pct == pytest.approx(100.0 * index / (n - 1))
    assert sum(1 for s in samples if s > value) == 10


def test_tail_refuses_small_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_steady_triggers_drop_warmup_and_empty():
    progress = [
        {"batchId": 0, "numInputRows": 0},
        {"batchId": 1, "numInputRows": 500},
        {"batchId": 2, "numInputRows": 500},
        {"batchId": 3, "numInputRows": 0},
        {"batchId": 4, "numInputRows": 700},
    ]
    assert [p["batchId"] for p in steady_triggers(progress, warmup=2)] == [2, 4]


def _span(sid, parent, start, end):
    return {"name": f"s{sid}", "id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1 on [3, 4]
        _span(3, 0, 9.0, 12.0),  # ends after its parent: clipped to [9, 10]
        _span(4, 1, 1.5, 2.0),  # grandchild: only its own parent loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_parents_and_disabled_records_nothing():
    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("outer", None),
        ("inner", 0),
        ("inner", 0),
    ]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = Tracer(enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(23)]
    first = pass_order(names, seed=7, pass_index=0)
    assert sorted(first) == sorted(names)
    assert pass_order(list(reversed(names)), seed=7, pass_index=0) == first
    assert pass_order(names, seed=7, pass_index=1) != first
    assert pass_order(names, seed=8, pass_index=0) != first


def test_benchmark_json_names_the_current_bench_queries():
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "op_p50_ms"]
    listed = {
        m["name"].split(".")[1]
        for m in spec["per_layer"]
        if m["name"].startswith("catalog.")
    }
    assert listed == {n for n, q in all_queries().items() if q.bench}
