"""Tests of the benchmark's reducers on synthetic inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics

import pytest

from reduce import (
    driver_gap,
    percentile,
    regressions,
    self_times,
    spread,
    summarize,
    supported_percentile,
    union_length,
)
from trace import nest_stages, reduce_op


def test_percentile_is_gated_on_sample_count():
    # ten samples must lie beyond the reported percentile
    assert supported_percentile(1) is None
    assert supported_percentile(39) is None
    assert supported_percentile(40) == 75
    assert supported_percentile(99) == 75
    assert supported_percentile(100) == 90
    assert supported_percentile(200) == 95
    assert supported_percentile(999) == 95
    assert supported_percentile(1000) == 99


def test_summarize_reports_median_and_supported_percentile():
    assert summarize([]) == {"n": 0, "median": None}
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0}
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["p90"] == pytest.approx(90.1)
    assert "p95" not in s


def test_percentile_matches_inclusive_quantiles():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_spread_is_iqr_over_median():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert spread([4.0] * 5) == 0.0


def test_interval_union_and_driver_gap():
    stages = [(1, 3), (2, 5), (7, 8), (9, 12), (20, 30)]
    # [1,5] + [7,8] + [9,10] inside the action [0,10]
    assert union_length(stages, 0, 10) == 6
    assert driver_gap(0, 10, stages) == 4
    assert driver_gap(0, 10, []) == 10
    # stages covering the whole action leave no gap
    assert driver_gap(2, 4, [(0, 3), (3, 9)]) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": "root", "parent": None, "start": 0, "end": 10},
        {"id": "a", "parent": "root", "start": 1, "end": 4},
        {"id": "b", "parent": "root", "start": 3, "end": 6},  # overlaps a
        {"id": "c", "parent": "a", "start": 2, "end": 3},
        {"id": "late", "parent": "b", "start": 5, "end": 8},  # past b's end
    ]
    st = self_times(spans)
    assert st["root"] == 10 - 5  # union of [1,4] and [3,6]
    assert st["a"] == 3 - 1
    assert st["c"] == 1
    assert st["b"] == 3 - 1  # child clipped to [5,6]
    assert st["late"] == 3


def test_self_times_of_nested_tree_add_up_to_root_wall():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 5.0},
        {"id": 2, "parent": 1, "start": 0.5, "end": 2.0},
        {"id": 3, "parent": 2, "start": 1.0, "end": 1.5},
        {"id": 4, "parent": 1, "start": 2.5, "end": 4.5},
    ]
    assert sum(self_times(spans).values()) == pytest.approx(5.0)


def test_regression_bound_check():
    spec = [
        {"name": "warm_pass_s", "better": "lower", "bound": 0.2},
        {"name": "setup_s", "better": "lower", "bound": 0.25},
        {"name": "rate", "better": "higher", "bound": 0.1},
        {"name": "unbounded", "better": "lower"},
    ]
    parent = {"warm_pass_s": 10.0, "setup_s": 8.0, "rate": 100.0,
              "unbounded": 1.0}
    assert regressions(parent, {"warm_pass_s": 11.9, "setup_s": 9.9,
                                "rate": 91.0, "unbounded": 9.0}, spec) == []
    assert regressions(parent, {"warm_pass_s": 12.1, "setup_s": 10.1,
                                "rate": 89.0}, spec) == [
        "warm_pass_s", "setup_s", "rate"]
    # improvements are never regressions
    assert regressions(parent, {"warm_pass_s": 1.0, "rate": 500.0}, spec) == []


def _stamp(t: float) -> str:
    import datetime

    dt = datetime.datetime.fromtimestamp(t, datetime.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def test_reduce_op_attributes_layers_and_reconciles():
    t = 1_700_000_000.0

    def span(i, parent, layer, a, b, kind=None, py4j=0):
        return {"id": i, "op": "q", "parent": parent, "layer": layer,
                "name": layer, "kind": kind, "start": t + a, "end": t + b,
                "py4j": py4j}

    spans = [
        span(1, None, "op", 0, 10),
        span(2, 1, "plans", 0, 6, py4j=5),
        span(3, 2, "functions", 0.5, 1.0, py4j=2),
        span(4, 2, "sources", 2, 5, "commit", py4j=7),
        span(5, 1, "exec", 6, 10),
    ]
    stages = [
        {"submissionTime": _stamp(t + 3), "completionTime": _stamp(t + 4),
         "numCompleteTasks": 4, "executorRunTime": 900, "outputBytes": 1 << 20},
        {"submissionTime": _stamp(t + 7), "completionTime": _stamp(t + 9),
         "numCompleteTasks": 2, "executorRunTime": 100},
    ]
    jobs = [{"jobGroup": "g", "submissionTime": _stamp(t + 3)},
            {"submissionTime": _stamp(t + 7)}]
    tree = nest_stages(spans, stages)
    assert [s["parent"] for s in tree if s["layer"] == "stage"] == [4, 5]
    out = reduce_op(tree, jobs, stages, "g")
    assert out["plans.build_s"] == pytest.approx(6 - 3)  # minus the commit
    assert out["plans.py4j_calls"] == 14
    assert out["functions.calls"] == 1
    assert out["sources.commits"] == 1
    assert out["sources.commit_s"] == pytest.approx(3)
    assert out["exec.driver_gap_s"] == pytest.approx(4 - 2)
    assert out["exec.jobs"] == 2 and out["exec.jobs_in_group"] == 1
    assert out["exec.stages"] == 2 and out["exec.tasks"] == 6
    assert out["sources.bytes_written_mb"] == pytest.approx(1.0)
    # the commit's stage nests under the commit span
    assert out["self.sources_s"] == pytest.approx(3 - 1)
    assert out["self.stage_s"] == pytest.approx(3)
    selfs = sum(v for k, v in out.items() if k.startswith("self."))
    assert selfs == pytest.approx(out["op.wall_s"])
