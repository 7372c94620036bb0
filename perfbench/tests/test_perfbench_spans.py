"""Self-time arithmetic on nested spans."""

import pytest

from spans import Span, Tracer, self_times, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], lo=2, hi=5) == 3
    assert union_length([(4, 3)]) == 0  # empty interval
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [Span(0, "query", 0.0, 10.0),
             Span(1, "build", 1.0, 4.0, parent=0),
             Span(2, "materialize", 3.0, 6.0, parent=0),  # overlaps build
             Span(3, "fit", 3.5, 4.0, parent=1)]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.5, 2: 3.0, 3: 0.5}
    # self times of a tree add up to the root's duration when children
    # do not overlap each other
    tree = [Span(0, "pass", 0.0, 8.0), Span(1, "a", 1.0, 3.0, parent=0),
            Span(2, "b", 3.0, 7.0, parent=0), Span(3, "c", 4.0, 5.0, parent=2)]
    assert sum(self_times(tree).values()) == pytest.approx(8.0)


def test_child_outside_parent_only_counts_inside():
    spans = [Span(0, "p", 0.0, 2.0), Span(1, "c", 1.0, 5.0, parent=0)]
    assert self_times(spans)[0] == 1.0


def test_tracer_records_parents_and_run_id(tmp_path):
    t = Tracer("run-1")
    with t.span("untraced"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("pass"):
        with t.span("step"):
            t.wrap("fit", lambda x: x + 1)(1)
    names = {s.name: s for s in t.spans}
    assert names["pass"].parent is None
    assert names["step"].parent == names["pass"].id
    assert names["fit"].parent == names["step"].id
    assert {s.run_id for s in t.spans} == {"run-1"}
    t.dump(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 3


def test_span_closes_on_exception():
    t = Tracer("r")
    t.enabled = True
    with pytest.raises(ValueError):
        with t.span("boom"):
            raise ValueError
    assert t.spans[0].end >= t.spans[0].start
    with t.span("next"):
        pass
    assert t.spans[1].parent is None
