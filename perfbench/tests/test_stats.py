import pytest

from perfbench.stats import percentile, self_times


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),   # request
        _span(1, 0, 1.0, 9.0),       # rpc
        _span(2, 1, 2.0, 4.0),       # search plan
        _span(3, 1, 5.0, 8.0),       # spark action
        _span(4, 3, 6.0, 7.0),       # nested action inside the first
    ]
    own = self_times(spans)
    assert own == {0: 2.0, 1: 3.0, 2: 2.0, 3: 2.0, 4: 1.0}
    # self times partition the root span
    assert sum(own.values()) == 10.0

