"""Unit tests for the benchmark's own helpers (no Spark needed):
``python3 -m pytest perfbench/tests -q`` from the checkout root."""

import os
import statistics

import pytest

from perfbench import stats
from perfbench.trace import Span, Tracer, self_times, union_length


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 25) == 2.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    data = [float(i * i % 17) for i in range(40)]
    assert stats.percentile(data, 50) == pytest.approx(statistics.median(data))
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, tail", [
    (0, None), (39, None), (40, 75), (99, 75), (100, 90), (199, 90),
    (200, 95), (999, 95), (1000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, tail):
    assert stats.tail_percentile(n) == tail
    if tail is not None:
        assert n * (100 - tail) // 100 >= stats.MIN_BEYOND


def test_repeats_exactly():
    assert stats.repeats_exactly([564, 564, 564])
    assert not stats.repeats_exactly([564, 565])
    assert stats.repeats_exactly([])


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def _span(i, name, parent, start, end):
    return Span(i, name, parent, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "plans.build", None, 0.0, 10.0),
        _span(1, "barrier.cut", 0, 1.0, 3.0),
        _span(2, "barrier.cut", 0, 2.0, 4.0),   # overlaps its sibling
        _span(3, "exec.action", None, 10.0, 15.0),
        _span(4, "barrier.cut", 3, 14.0, 20.0),  # runs past its parent
    ]
    own = self_times(spans)
    assert own["plans.build"] == pytest.approx(10.0 - 3.0)
    assert own["exec.action"] == pytest.approx(5.0 - 1.0)
    assert own["barrier.cut"] == pytest.approx(2.0 + 2.0 + 6.0)


def test_tracer_wraps_records_nesting_and_restores():
    class Layer:
        @staticmethod
        def inner(x):
            return x + 1

    def outer(x):
        return Layer.inner(x) * 2

    tracer = Tracer()
    tracer.wrap(Layer, "inner", "inner")
    tracer.enabled = True
    with tracer.span("outer"):
        assert outer(1) == 4
    tracer.enabled = False
    assert Layer.inner(1) == 2          # disabled: no span recorded
    tracer.restore()
    assert [s.name for s in tracer.spans] == ["outer", "inner"]
    assert tracer.spans[1].parent == tracer.spans[0].id
    assert not hasattr(Layer.inner, "__wrapped__")


CPU_BEFORE = "cpu  100 0 50 800 10 0 5 35 0 0\ncpu0 1 2 3 4 5 6 7 8\n"
CPU_AFTER = "cpu  160 0 70 900 10 0 5 55 0 0\ncpu0 1 2 3 4 5 6 7 8\n"


def test_steal_share_from_proc_stat_deltas():
    before = stats.read_cpu_times(CPU_BEFORE)
    after = stats.read_cpu_times(CPU_AFTER)
    assert before == [100, 0, 50, 800, 10, 0, 5, 35]
    # deltas: user 60, system 20, idle 100, steal 20 -> 20 / 200
    assert stats.steal_share(before, after) == pytest.approx(0.1)
    assert stats.steal_share(before, before) == 0.0
    with pytest.raises(ValueError):
        stats.read_cpu_times("intr 1 2 3\n")


def test_tree_cpu_and_rss_of_this_process():
    assert os.getpid() in stats.process_tree(os.getpid())
    assert stats.tree_cpu_seconds(os.getpid()) > 0
    assert stats.peak_rss_mb(os.getpid()) > 1
