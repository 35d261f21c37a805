"""Span recording and self time."""

from __future__ import annotations

import pytest

from perfbench.trace import Span, Tracer, self_times


def test_nested_spans_record_parent():
    t = Tracer("r1")
    with t.span("pass"):
        with t.span("extract"):
            pass
    outer, inner = t.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert inner.run_id == "r1"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("pass") as s:
        t.add("stage", 0.0, 1.0, None)
    assert s is None and t.spans == []


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "pass", 0.0, 10.0, None, "r"),
        Span(1, "stage", 1.0, 4.0, 0, "r"),
        Span(2, "stage", 3.0, 6.0, 0, "r"),   # overlaps the first stage
        Span(3, "stage", 9.0, 12.0, 0, "r"),  # runs past the parent's end
    ]
    got = self_times(spans)
    assert got["pass"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["stage"] == pytest.approx(3.0 + 3.0 + 3.0)
