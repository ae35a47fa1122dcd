import pytest

from spans import Tracer, self_times, subtree


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span("p", None, 0.0, 10.0),
        _span("a", "p", 1.0, 3.0),
        _span("b", "p", 2.0, 5.0),        # overlaps a: union is [1, 5]
        _span("c", "p", 7.0, 8.0),
        _span("d", "p", 9.0, 12.0),       # clipped to [9, 10]
        _span("g", "a", 1.5, 2.5),        # grandchild: not p's direct child
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10.0 - (4.0 + 1.0 + 1.0))
    assert st["a"] == pytest.approx(2.0 - 1.0)
    assert st["g"] == pytest.approx(1.0)
    assert st["d"] == pytest.approx(3.0)


def test_self_time_without_children_is_duration():
    assert self_times([_span("p", None, 2.0, 2.5)]) == {"p": 0.5}


def test_tracer_records_parents_run_and_order():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans                 # appended when each span ends
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {inner["run"], outer["run"]} == {"run-1"}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert {s["id"] for s in subtree(tr.spans, outer["id"])} == {inner["id"], outer["id"]}


def test_span_ends_when_body_raises():
    tr = Tracer("r")
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError
    assert tr.spans[0]["end"] >= tr.spans[0]["start"]
