"""Tests of the benchmark's tracer (spans, self time, switching, merging)
and of its percentile."""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracer  # noqa: E402


def test_self_time_excludes_child_spans(tmp_path):
    t = tracer.Tracer(str(tmp_path), "r1")

    def child():
        time.sleep(0.05)

    wrapped_child = t.wrap(child, "layer.child")

    def parent():
        time.sleep(0.02)
        wrapped_child()

    wrapped_parent = t.wrap(parent, "layer.parent")
    t.set_enabled(True)
    wrapped_parent()
    calls, total, self_s = t.agg["layer.parent"]
    assert calls == 1
    assert total >= 0.07
    assert 0.015 <= self_s < total - 0.045
    t.flush()
    merged = tracer.collect(str(tmp_path))
    names = {s[0]: s for s in merged["spans"]}
    # the child's parent index points at the parent span
    assert names["layer.child"][3] == merged["spans"].index(names["layer.parent"])
    assert names["layer.parent"][4] == "r1"


def test_disabled_wrappers_record_nothing(tmp_path):
    t = tracer.Tracer(str(tmp_path), "r2")
    f = t.wrap(lambda x: x + 1, "layer.f")
    assert f(1) == 2
    assert t.agg == {}


def test_generators_are_timed_per_item(tmp_path):
    t = tracer.Tracer(str(tmp_path), "r3")

    def gen(n):
        for i in range(n):
            yield i

    g = t.wrap(gen, "codec.push")
    t.set_enabled(True)
    assert list(g(3)) == [0, 1, 2]
    assert t.counters["codec.push.items"] == 3
    assert t.agg["codec.push"][0] == 4  # three items and the final stop


def test_observer_sees_result_and_token(tmp_path):
    t = tracer.Tracer(str(tmp_path), "r4")
    seen = []
    f = t.wrap(
        lambda x: x * 2,
        "layer.f",
        observe=lambda tr, args, kwargs, result, token, dt: seen.append((result, token)),
        pre=lambda tr, args, kwargs: "before",
    )
    t.set_enabled(True)
    f(5)
    assert seen == [(10, "before")]


def test_percentile_is_nearest_rank():
    import sparkstats

    assert sparkstats.pct(list(range(1, 101)), 99) == 99
    assert sparkstats.pct([5, 1, 3], 50) == 3
    assert sparkstats.pct([2, 1], 90) == 2


def test_interval_union_and_difference():
    import sparkstats

    assert sparkstats._merge([(3, 5), (0, 1), (4, 6)]) == [(0, 1), (3, 6)]
    holes = sparkstats._merge([(1, 2), (4, 5)])
    assert sparkstats._minus([(0, 6)], holes) == [(0, 1), (2, 4), (5, 6)]
    assert sparkstats._minus([(1.5, 1.8)], holes) == []
