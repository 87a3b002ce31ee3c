"""Summary statistics for the benchmark's metrics (pure functions)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) by linear interpolation between samples; a
    single sample is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def percentile(values: Sequence[float], p: int) -> float:
    """The p-th percentile (1..99), interpolated inside the sample range."""
    if not values:
        raise ValueError("percentile of no samples")
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def op_geomean(latencies: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean over ops of each op's median latency."""
    meds = [statistics.median(v) for v in latencies.values() if v]
    if not meds:
        raise ValueError("no op latencies")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def jitter_p90(latencies: Mapping[str, Sequence[float]]) -> float:
    """p90 over all executions of latency / that op's median latency."""
    ratios = []
    for v in latencies.values():
        if v:
            med = statistics.median(v)
            ratios.extend(x / med for x in v)
    return percentile(ratios, 90)


def vs_duckdb(
    spark: Mapping[str, Sequence[float]], duck: Mapping[str, Sequence[float]]
) -> float:
    """Sum of Spark median latencies over the ops that have DuckDB
    timings, divided by the sum of DuckDB's median latencies."""
    common = [n for n in duck if duck[n] and spark.get(n)]
    if not common:
        raise ValueError("no op has both Spark and DuckDB timings")
    s = sum(statistics.median(spark[n]) for n in common)
    d = sum(statistics.median(duck[n]) for n in common)
    return s / d


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no executions attempted")
    return failed / attempted


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that child spans cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)
