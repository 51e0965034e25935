import statistics

import pytest

from perfbench.stats import Tracer, covered, median, percentile, quartile_spread


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 25) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([1.0, 2.0, 3.0, 4.0], 90) == pytest.approx(3.7)
    assert median([7.0]) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 12.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children_once():
    clock = FakeClock()
    tr = Tracer(run_id="r1", clock=clock)
    with tr.span("root"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 4.0
        clock.t = 5.0
        with tr.span("b"):
            clock.t = 8.0
        clock.t = 10.0
    recs = {r["name"]: r for r in tr.to_records()}
    assert recs["root"]["parent"] is None
    assert recs["a"]["parent"] == recs["root"]["id"]
    assert recs["a.inner"]["parent"] == recs["a"]["id"]
    assert all(r["run_id"] == "r1" for r in recs.values())
    # root 0..10 with children a (1..4) and b (5..8)
    assert recs["root"]["self_s"] == pytest.approx(10 - 3 - 3)
    assert recs["a"]["self_s"] == pytest.approx(3 - 1)
    assert recs["a.inner"]["self_s"] == pytest.approx(1)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4)
    assert covered([], 0, 10) == 0
    assert covered([(3, 3)], 0, 10) == 0


def test_spans_close_in_order():
    tr = Tracer()
    outer = tr.span("outer").__enter__()
    tr.span("inner").__enter__()
    with pytest.raises(RuntimeError):
        outer.__exit__(None, None, None)
