"""Tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_ledger.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ledger import (  # noqa: E402
    ErrorCounter, Tracer, percentile, self_time, supported_percentile, tree_rss_mb,
    union_length,
)


@pytest.mark.parametrize(
    "n, want",
    [
        (19, None),   # even the median has only 9 samples beyond it
        (20, 50),
        (39, 50),     # p75 would leave 9 beyond
        (40, 75),
        (99, 75),     # p90 would leave 9 beyond
        (100, 90),
        (199, 90),
        (200, 95),
        (1000, 99),
    ],
)
def test_supported_percentile_leaves_ten_beyond(n, want):
    assert supported_percentile(n) == want


def test_percentile_is_nearest_rank():
    vals = [float(v) for v in range(1, 101)]
    assert percentile(vals, 90) == 90.0
    assert percentile(vals, 50) == 50.0
    assert percentile([3.0, 1.0, 2.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3


def _span(start, end):
    return {"start": start, "end": end}


def test_self_time_with_overlapping_children():
    # build_index: analyzed [0,4], then two concurrent branches [4,9] and
    # [4,7] and a third [7,10] on the freed worker; the span ends at 11
    parent = _span(0, 11)
    kids = [_span(0, 4), _span(4, 9), _span(4, 7), _span(7, 10)]
    # covered = [0,10] -> self = 1, not 11 - (4+5+3+3) = -4
    assert self_time(parent, kids) == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    assert self_time(_span(2, 6), [_span(0, 3), _span(5, 9)]) == pytest.approx(2.0)
    assert self_time(_span(2, 6), [_span(7, 9)]) == pytest.approx(4.0)


def test_tracer_layer_self_times_and_ops():
    t = Tracer(True)
    with t.op("req"):
        with t.span("query", "plan"):
            pass
        with t.span("query", "exec"):
            with t.span("codec", "decode"):
                pass
    # set exact times so the arithmetic is checkable
    times = {"req": (0, 10), "plan": (1, 3), "exec": (3, 9), "decode": (4, 6)}
    for s in t.spans:
        s["start"], s["end"] = times[s["name"]]
    st = t.layer_self_times()
    assert st["bench"] == pytest.approx(2.0)   # 10 - (2 + 6)
    assert st["query"] == pytest.approx(6.0)   # plan 2 + exec (6 - 2)
    assert st["codec"] == pytest.approx(2.0)
    assert sum(st.values()) == pytest.approx(10.0)
    assert {s["op"] for s in t.spans} == {1}
    assert t.covered_s() == pytest.approx(10.0)


def test_tracer_add_nests_under_open_span():
    t = Tracer(True)
    with t.span("build", "build_index"):
        t.add("build", "stage:postings", 1.0, 2.0)
    root, stage = t.spans
    assert stage["parent"] == root["id"]


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.op("req"), t.span("query", "exec"):
        t.add("build", "stage", 0.0, 1.0)
    assert t.spans == [] and t.layer_self_times() == {}


def test_error_rate_counts_each_call_once():
    e = ErrorCounter()
    assert e.rate == 0.0  # nothing attempted yet
    for ok in (True, True, False, True):
        e.record(ok, "wrong answer")
    assert (e.failed, e.attempted) == (1, 4)
    assert e.rate == pytest.approx(0.25)
    assert e.reasons == ["wrong answer"]


def test_tree_rss_counts_this_process():
    assert tree_rss_mb(os.getpid()) > 1.0
