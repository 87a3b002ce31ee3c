"""Unit tests for the benchmark's summary statistics and span self-time.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import math

import pytest

from perfbench import stats
from perfbench.trace import Tracer


def test_quartiles_interpolate_inside_the_sample():
    assert stats.quartiles([5, 1, 4, 2, 3]) == (2, 3, 4)
    assert stats.quartiles([1.0, 2.0]) == (1.25, 1.5, 1.75)


def test_quartiles_of_one_sample_is_that_sample():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        stats.quartiles([])


def test_op_geomean_uses_each_ops_median():
    lat = {"a": [1.0, 3.0, 2.0], "b": [4.0]}
    assert stats.op_geomean(lat) == pytest.approx(math.sqrt(2.0 * 4.0))


def test_op_geomean_keeps_a_small_ops_gain_visible():
    before = stats.op_geomean({"big": [10.0], "small": [0.1]})
    after = stats.op_geomean({"big": [10.0], "small": [0.05]})
    assert after / before == pytest.approx(math.sqrt(0.5))


def test_jitter_p90_is_relative_to_each_ops_median():
    assert stats.jitter_p90({"a": [1.0, 1.0, 2.0]}) == pytest.approx(1.8)
    # Scaling one op's latencies leaves its ratios unchanged.
    assert stats.jitter_p90({"a": [1.0, 1.0, 2.0], "b": [10.0, 10.0, 20.0]}) == pytest.approx(
        stats.jitter_p90({"a": [1.0, 1.0, 2.0], "b": [1.0, 1.0, 2.0]})
    )


def test_vs_duckdb_sums_medians_over_ops_with_an_oracle():
    spark = {"a": [2.0, 4.0, 3.0], "b": [1.0], "rows_only": [7.0]}
    duck = {"a": [1.0], "b": [0.25, 0.75, 0.5], "not_run": [5.0]}
    assert stats.vs_duckdb(spark, duck) == pytest.approx((3.0 + 1.0) / (1.0 + 0.5))
    with pytest.raises(ValueError):
        stats.vs_duckdb({"a": [1.0]}, {"b": [1.0]})


def test_fail_ratio():
    assert stats.fail_ratio(0, 12) == 0.0
    assert stats.fail_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 1), (1, 2)]) == 2
    assert stats.union_length([(3, 3), (4, 2)]) == 0
    assert stats.union_length([]) == 0


def test_self_time_subtracts_covered_child_time_once():
    # children overlap each other and one runs past the parent's end
    assert stats.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5)
    assert stats.self_time((0, 10), []) == 10


def test_tracer_nests_spans_and_computes_self_time():
    tr = Tracer()
    with tr.span("pass") as p:
        with tr.span("op", "t1") as a:
            pass
        with tr.span("op", "t2") as b:
            pass
    assert a["parent"] == p["id"] and b["parent"] == p["id"]
    assert p["parent"] is None
    assert tr.children(p) == [a, b]
    covered = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert tr.self_time(p) == pytest.approx(p["end"] - p["start"] - covered)
