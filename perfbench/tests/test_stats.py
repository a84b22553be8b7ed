import pytest

from stats import percentile, self_times, tail_percentile, union_length
from trace import Tracer


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5
    assert percentile([0, 10], 90) == 9


def test_tail_needs_ten_samples_beyond():
    # 20 samples: p50 leaves 10 beyond it, p75 only 5
    assert tail_percentile(list(range(20)))[0] == 50.0
    # 100 samples: p90 leaves 10 beyond (90.1 .. 99 -> 90..99 above 89.1)
    p, v = tail_percentile(list(range(100)))
    assert p == 90.0 and v == pytest.approx(89.1)
    assert sum(x > v for x in range(100)) >= 10


def test_tail_undefined_below_eleven_samples():
    assert tail_percentile(list(range(10))) == (None, None)


def test_tail_with_ties_counts_strictly_beyond():
    vals = [1.0] * 30 + [2.0] * 9
    # every grid percentile sits at 1.0 or 2.0; only 9 samples exceed 1.0
    assert tail_percentile(vals) == (None, None)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 1), (0, 1)]) == 1
    assert union_length([]) == 0


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps child 1: union is 1..6
        _span(3, 2.0, 3.0, 1),  # grandchild: charged to 1, not 0
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(5.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    own = self_times([_span(0, 0.0, 2.0), _span(1, 1.5, 3.0, 0)])
    assert own[0] == pytest.approx(1.5)


def test_tracer_records_nesting_and_self_time():
    tr = Tracer(enabled=True)
    with tr.span("outer", 0):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["iteration"] == 0
    assert [s["id"] for s in tr.subtree(outer)] == [0, 1]
    assert set(tr.self_time_by_name()) == {"outer", "inner"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []
