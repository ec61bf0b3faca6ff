"""Percentile rule and span self time."""

import pytest
import stats


def test_p90_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    assert stats.tail_percentile(values) == ("p90", 90.0)


def test_fewer_samples_fall_back_to_highest_qualifying_percentile():
    values = [float(i) for i in range(1, 29)]
    label, v = stats.tail_percentile(values)
    assert label == "p64"
    assert sum(1 for x in values if x > v) >= stats.MIN_BEYOND
    # one percentile higher would leave fewer than ten samples beyond
    assert sum(1 for x in values if x > stats.percentile(values, 65)) < stats.MIN_BEYOND


def test_too_few_samples_report_the_maximum():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == ("max", 3.0)
    assert stats.tail_percentile([float(i) for i in range(10)]) == ("max", 9.0)


def test_nearest_rank():
    assert stats.percentile([5.0, 1.0, 3.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "layer": name.split(".")[0], "start": start,
            "end": end, "parent": parent, "op": None, "counts": {}}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "plans.run", 0.0, 10.0),
        _span(1, "sources.read", 1.0, 4.0, parent=0),
        _span(2, "sources.sink", 3.0, 6.0, parent=0),  # overlaps its sibling
        _span(3, "operators.x", 2.0, 3.0, parent=1),
        _span(4, "session.get", 20.0, 21.5),
    ]
    st = stats.self_times(spans)
    assert st["plans"] == pytest.approx(10.0 - 5.0)  # children cover [1, 6]
    assert st["sources"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert st["operators"] == pytest.approx(1.0)
    assert st["session"] == pytest.approx(1.5)


def test_tracer_records_parents_and_ops():
    t = stats.Tracer(True)
    t.op_id = 7
    with t.span("plans.build"):
        with t.span("sources.load_table", table="orders") as c:
            c["rows"] = 3
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert t.spans[1]["counts"] == {"table": "orders", "rows": 3}
    assert {s["op"] for s in t.spans} == {7}
    off = stats.Tracer(False)
    with off.span("plans.build"):
        pass
    assert off.spans == []
