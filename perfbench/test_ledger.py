"""Tests for the benchmark's statistics and span helpers.

    python3 -m pytest perfbench/test_ledger.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ledger import (  # noqa: E402
    Span,
    Tracer,
    clipped_union,
    median,
    nearest_rank,
    self_times,
    tail_percentile,
    union_length,
)


@pytest.mark.parametrize(
    "n, pct",
    [
        (19, None),  # the median leaves only 9 samples beyond it
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (100, 90.0),  # p95 would leave 5
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),  # p99.9 would leave 1
        (10_000, 99.9),
    ],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted input
    tail = tail_percentile(values)
    if pct is None:
        assert tail is None
        return
    got_pct, value, count = tail
    assert (got_pct, count) == (pct, n)
    assert sum(1 for v in values if v > value) >= 10
    assert value == nearest_rank(values, pct)


def test_nearest_rank_and_median():
    assert nearest_rank([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert nearest_rank([1.0, 2.0], 100) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([7.0]) == 7.0


def test_union_counts_overlap_once():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (2.0, 3.0)]) == 2.0  # disjoint
    assert union_length([(0.0, 2.0), (1.0, 3.0)]) == 3.0  # overlapping
    assert union_length([(0.0, 4.0), (1.0, 2.0)]) == 4.0  # nested
    assert union_length([(2.0, 3.0), (0.0, 1.0), (0.5, 2.5)]) == 3.0  # unsorted
    assert union_length([(1.0, 2.0), (2.0, 3.0)]) == 2.0  # touching
    assert union_length([(1.0, 1.0), (3.0, 2.0)]) == 0.0  # empty intervals


def test_clipped_union_drives_the_driver_gap():
    # two jobs overlapping each other and sticking out of a 10 s span
    jobs = [(-1.0, 3.0), (2.0, 5.0), (9.0, 12.0), (20.0, 21.0)]
    busy = clipped_union(jobs, 0.0, 10.0)
    assert busy == 6.0
    assert 10.0 - busy == 4.0  # the driver gap of that span


def _span(sid, start, end, parent):
    return Span(f"s{sid}", start, end, parent, 0, sid)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, 0.0, 10.0, None),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps its sibling
        _span(3, 1.5, 2.5, 1),  # grandchild of span 0
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0)
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(1.0)


def test_tracer_nests_spans():
    tracer = Tracer()
    with tracer.span("op"):
        with tracer.span("layer"):
            pass
        with tracer.span("other"):
            pass
    parents = {s.name: s.parent for s in tracer.spans}
    assert parents == {"op": None, "layer": 0, "other": 0}
    assert all(s.end >= s.start for s in tracer.spans)
    own = tracer.self_times()
    op = tracer.spans[0]
    assert own[0] <= op.end - op.start
