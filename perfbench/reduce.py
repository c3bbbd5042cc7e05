"""Pure reducers the benchmark applies to its raw samples and spans.

Nothing here touches Spark: every function takes plain numbers, so the
reductions are unit-tested on synthetic inputs (test_reduce.py).
"""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least ten samples lie beyond
# it: p75 needs 40 samples, p90 100, p95 200, p99 1000.  Below that
# only the median is reported.
PERCENTILES = (99, 95, 90, 75)
BEYOND = 10


def supported_percentile(n: int) -> int | None:
    """Highest reportable percentile for ``n`` samples, or None."""
    for p in PERCENTILES:
        if n * (100 - p) >= BEYOND * 100:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (the 'inclusive' method
    of ``statistics.quantiles``)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Median, the highest percentile the sample count supports, and
    the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        out["median"] = None
        return out
    out["median"] = statistics.median(values)
    p = supported_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def merge_intervals(intervals, lo: float | None = None,
                    hi: float | None = None) -> list[tuple[float, float]]:
    """Clip ``(start, end)`` intervals to ``[lo, hi]`` and merge the
    overlapping ones."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    merged: list[tuple[float, float]] = []
    for s, e in clipped:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    return sum(e - s for s, e in merge_intervals(intervals, lo, hi))


def driver_gap(start: float, end: float, stage_intervals) -> float:
    """Time inside ``[start, end]`` during which no stage is running."""
    return (end - start) - union_length(stage_intervals, start, end)


def self_times(spans: list[dict]) -> dict:
    """Self time of every span: its wall minus the union of its direct
    children's intervals, clipped to the span.  A span is a dict with
    ``id``, ``parent`` (None for a root), ``start`` and ``end``.
    Children that overlap each other (stages running side by side)
    count once, so the self times of a tree add up to its root's
    wall."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans}


def regressions(parent: dict, child: dict, metrics: list[dict]) -> list[str]:
    """Names of the bounded metrics on which ``child`` is worse than
    ``parent`` by more than the metric's bound (a share of the
    parent's value).  ``parent``/``child`` map metric name to value;
    ``metrics`` are BENCHMARK.json ``end_to_end`` entries."""
    worse = []
    for m in metrics:
        name, bound = m["name"], m.get("bound")
        if bound is None or name not in parent or name not in child:
            continue
        p, c = parent[name], child[name]
        if m["better"] == "lower" and c > p * (1 + bound):
            worse.append(name)
        elif m["better"] == "higher" and c < p * (1 - bound):
            worse.append(name)
    return worse
