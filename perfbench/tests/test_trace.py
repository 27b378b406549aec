"""Self-time arithmetic on synthetic span trees."""

import pytest

from perfbench.trace import Span, self_counter, self_times


def test_cumulative_prefix_chain():
    spans = [
        Span("scan", 1, 0.0, 1.0, counters={"spark.jobs": 1}),
        Span("tokenize", 1, 1.0, 3.0, prefix="scan", counters={"spark.jobs": 1}),
        Span("agg", 1, 3.0, 7.0, prefix="tokenize", counters={"spark.jobs": 3}),
    ]
    st = self_times(spans)
    assert st[(1, "scan")] == pytest.approx(1.0)
    assert st[(1, "tokenize")] == pytest.approx(1.0)
    assert st[(1, "agg")] == pytest.approx(2.0)
    assert self_counter(spans, "agg", "spark.jobs") == [2]


def test_children_are_subtracted_once_even_when_they_overlap():
    spans = [
        Span("job", 1, 0.0, 10.0),
        Span("a", 1, 1.0, 3.0, parent="job"),
        Span("b", 1, 2.0, 5.0, parent="job"),   # overlaps a: 1..5 covered
        Span("c", 1, 8.0, 12.0, parent="job"),  # clipped to the parent: 8..10
    ]
    assert self_times(spans)[(1, "job")] == pytest.approx(4.0)
    assert self_times(spans)[(1, "b")] == pytest.approx(3.0)


def test_iterations_do_not_mix():
    spans = [
        Span("scan", 1, 0.0, 1.0),
        Span("write", 1, 1.0, 4.0, prefix="scan"),
        Span("scan", 2, 10.0, 12.0),
        Span("write", 2, 12.0, 13.0, prefix="scan"),
    ]
    st = self_times(spans)
    assert st[(1, "write")] == pytest.approx(2.0)
    assert st[(2, "write")] == pytest.approx(-1.0)  # noise is reported, not hidden
