"""Self-time arithmetic and span bookkeeping of the benchmark's tracer.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.spans import Tracer, covered, self_time, span_cost_s


def span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "pass": None, "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (5, 6)], 0, 10) == pytest.approx(3)
    assert covered([(1, 4), (2, 6), (5, 7)], 0, 10) == pytest.approx(6)
    assert covered([(2, 3), (1, 5)], 0, 10) == pytest.approx(4)  # nested
    assert covered([(-5, 2), (8, 20)], 0, 10) == pytest.approx(4)  # clipped
    assert covered([(12, 15)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 0, 3.0, 6.0),  # overlaps child 1 by 1 s
        span(3, 1, 1.5, 2.0),  # grandchild: already inside child 1
        span(4, None, 20.0, 30.0),  # unrelated
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 5)
    assert self_time(spans[1], spans) == pytest.approx(3 - 0.5)
    assert self_time(spans[4], spans) == pytest.approx(10)


def test_self_time_of_leaf_is_its_duration():
    spans = [span(0, None, 2.0, 2.5)]
    assert self_time(spans[0], spans) == pytest.approx(0.5)


def test_tracer_records_parent_pass_and_result():
    t = Tracer()
    t.enabled = True
    t.pass_id = "p1"
    add = t.wrap("add", lambda a, b: a + b, record_result=True)
    with t.span("outer"):
        assert add(2, 3) == 5
        with t.span("inner"):
            pass
    outer, added, inner = t.spans
    assert outer["parent"] is None and added["parent"] == 0 and inner["parent"] == 0
    assert added["result"] == 5
    assert all(s["pass"] == "p1" and s["end"] >= s["start"] for s in t.spans)
    assert t.durations("inner", "p1") == [inner["end"] - inner["start"]]
    assert t.named("inner", "other") == []


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("x") as rec:
        assert rec is None
    assert t.wrap("f", lambda: 1)() == 1
    assert t.spans == []


def test_span_closes_on_exception():
    t = Tracer()
    t.enabled = True
    with pytest.raises(ValueError):
        with t.span("boom"):
            raise ValueError
    with t.span("after"):
        pass
    assert t.spans[0]["end"] is not None
    assert t.spans[1]["parent"] is None


def test_span_cost_is_small_and_non_negative():
    assert 0.0 <= span_cost_s(2_000) < 1e-3
