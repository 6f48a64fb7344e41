"""Tests of the benchmark's statistics code (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -o addopts=""
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    Outcomes,
    overhead_ratio,
    percentile,
    plan_cache_hit_ratio,
    samples_beyond,
    self_times,
    summarize,
    tail_percentile,
)


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 100) == 5.0
    assert percentile(values, 1) == 1.0
    assert percentile(list(range(1, 101)), 90) == 90


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
     (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


@pytest.mark.parametrize("n", [20, 40, 57, 100, 250])
@pytest.mark.parametrize("p", [50, 75, 90, 95])
def test_samples_beyond_counts_the_samples_above_the_percentile(n, p):
    values = [float(i) for i in range(n)]
    cut = percentile(values, p)
    assert sum(v > cut for v in values) == samples_beyond(n, p)


def test_summarize_reports_only_supported_percentiles():
    assert summarize([1.0] * 19) == {"n": 19, "median": 1.0}
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["median"] == 50.5 and s["p90"] == 90.0
    assert "p95" not in s
    assert summarize([]) == {"n": 0, "median": None}


def test_outcomes_count_errors_and_mismatches_against_attempts():
    out = Outcomes()
    assert out.failed == 0 and out.failed_ratio == 0.0
    for _ in range(8):
        out.attempt()
    out.error("statement raised")
    out.mismatch("rows differ")
    out.mismatch("columns differ")
    assert out.failed == 3
    assert out.failed_ratio == 3 / 8


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(0, None, "op", 0.0, 10.0),
        span(1, 0, "compile", 1.0, 4.0),
        span(2, 1, "parse", 1.0, 2.0),
        span(3, 0, "execute", 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == {"op": 3.0, "compile": 2.0, "parse": 1.0, "execute": 4.0}
    assert sum(st.values()) == 10.0  # self times add up to the root's wall


def test_self_time_clips_and_merges_child_intervals():
    spans = [
        span(0, None, "op", 0.0, 10.0),
        span(1, 0, "a", 2.0, 6.0),
        span(2, 0, "b", 4.0, 12.0),  # overlaps a and runs past the parent
    ]
    assert self_times(spans)["op"] == pytest.approx(2.0)


def test_overhead_ratio_matches_kinds():
    traced = {"read": [1.1, 1.1], "write": [2.2], "only_traced": [9.0]}
    untraced = {"read": [1.0], "write": [2.0, 2.0], "only_untraced": [5.0]}
    # extra = 2 * 0.1 + 1 * 0.2 over base 2 * 1.0 + 1 * 2.0
    assert overhead_ratio(traced, untraced) == pytest.approx(0.4 / 4.0)
    assert overhead_ratio({"a": [1.0]}, {"b": [1.0]}) is None


def dispatch(i, returned, *children):
    """An engine.dispatch span with id i and the named direct children."""
    out = [dict(span(i, None, "engine.dispatch", 0.0, 1.0), returned=returned)]
    out += [span(i * 10 + k, i, name, 0.0, 1.0) for k, name in enumerate(children)]
    return out


def test_plan_cache_hit_ratio_counts_reads_only():
    spans = (
        dispatch(1, True, "parser.parse", "compiler.compile")  # read, missed
        + dispatch(2, True, "parser.parse")  # read, hit
        + dispatch(3, False, "parser.parse", "graph.persist_append")  # all-CREATE statement
        + dispatch(4, True, "parser.parse", "writes.run")  # MERGE ... RETURN
        + dispatch(5, False)  # DDL
    )
    assert plan_cache_hit_ratio(spans) == 0.5
    # a CREATE beside a read that compiled: no read was a hit
    assert plan_cache_hit_ratio(dispatch(1, False, "parser.parse")
                                + dispatch(2, True, "parser.parse", "compiler.compile")) == 0.0
