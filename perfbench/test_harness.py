"""Unit tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


# ------------------------------------------------- percentile selection


def test_percentile_is_nearest_rank():
    samples = list(range(1, 101))  # 1..100
    assert harness.percentile(samples, 50) == 50
    assert harness.percentile(samples, 90) == 90
    assert harness.percentile(samples, 99) == 99
    assert harness.percentile([7.0], 99) == 7.0


def test_tail_needs_ten_samples_beyond_it():
    # p90 of 100 samples leaves exactly 10 beyond: valid; of 99, only 9
    assert harness.beyond(100, 90) == 10
    assert harness.highest_valid_percentile(100) == 90.0
    assert harness.beyond(99, 90) == 9
    assert harness.highest_valid_percentile(99) == 75.0
    assert harness.highest_valid_percentile(1000) == 99.0
    assert harness.highest_valid_percentile(10_000) == 99.9
    assert harness.highest_valid_percentile(39) is None  # p75 leaves 9


def test_summarize_reports_count_median_and_valid_tail_only():
    s = harness.summarize([float(x) for x in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_p": 90.0, "tail": 90.0}
    short = harness.summarize([3.0, 1.0, 2.0])
    assert short == {"n": 3, "p50": 2.0}
    assert harness.summarize([]) == {"n": 0}


# ------------------------------------------------------------ span self-time


def _span(i, parent, start, end, name="x"):
    return harness.Span(i, name, 1, parent, start, end)


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 6.0)]
    own = harness.self_times(spans)
    assert own == pytest.approx({1: 7.0, 2: 2.0, 3: 1.0})


def test_self_time_counts_overlapping_children_once_and_clips():
    # two parallel children overlap on [2, 4]; a third runs past the parent
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 2.0, 5.0),
        _span(4, 1, 9.0, 12.0),
    ]
    assert harness.self_times(spans)[1] == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_by_name_sums_spans_of_a_layer():
    spans = [
        _span(1, None, 0.0, 4.0, "query"),
        _span(2, 1, 1.0, 2.0, "query.collect"),
        _span(3, None, 5.0, 6.0, "query"),
    ]
    assert harness.self_time_by_name(spans) == pytest.approx(
        {"query": 4.0, "query.collect": 1.0}
    )


def test_tracer_links_parent_and_request():
    ticks = iter(range(100))
    t = harness.Tracer(enabled=True, clock=lambda: float(next(ticks)))
    with t.request("query") as root:
        with t.span("query.plan") as child:
            pass
    with t.request("query") as other:
        pass
    assert child.parent == root.id and child.request == root.request
    assert other.request != root.request and other.parent is None
    assert len(t.spans) == 3 and root.end > child.end


def test_disabled_tracer_records_nothing(tmp_path):
    t = harness.Tracer(enabled=False)
    with t.request("query") as span:
        assert span is None
    path = tmp_path / "trace.jsonl"
    t.dump(str(path))
    assert t.spans == [] and path.read_text() == ""


# ------------------------------------------------------ failed-op accounting


def test_oplog_counts_raised_ops_and_failed_checks():
    log = harness.OpLog()
    ok, value = log.run(lambda: 41 + 1)
    assert (ok, value) == (True, 42)
    ok, value = log.run(lambda: 1 / 0)
    assert (ok, value) == (False, None)
    assert log.check("agree", True)
    assert not log.check("agree", False, "differs")
    assert (log.attempted, log.failed) == (4, 2)
    assert log.checks == {"agree": [2, 1]}
    assert "ZeroDivisionError" in log.failures[0]
    assert not log.correct


def test_oplog_is_correct_only_with_checks_and_no_failures():
    log = harness.OpLog()
    log.run(lambda: None)
    assert not log.correct  # nothing was checked
    log.check("agree", True)
    assert log.correct


# ---------------------------------------------------------- output schema

SPEC = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
]


def _passing_log():
    log = harness.OpLog()
    log.check("ok", True)
    return log


def test_result_line_has_exactly_the_contract_keys():
    line = harness.result_line(_passing_log(), {"setup_s": 1.5, "p50_ms": 2.25}, SPEC)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 1 and out["failed"] == 0
    assert out["metrics"] == {
        "setup_s": {"value": 1.5, "unit": "s"},
        "p50_ms": {"value": 2.25, "unit": "ms"},
    }
    assert "\n" not in line


def test_result_line_refuses_missing_extra_or_bad_metrics():
    with pytest.raises(ValueError):
        harness.result_line(_passing_log(), {"setup_s": 1.0}, SPEC)
    with pytest.raises(ValueError):
        harness.result_line(
            _passing_log(), {"setup_s": 1.0, "p50_ms": 1.0, "extra": 1.0}, SPEC
        )
    with pytest.raises(ValueError):
        harness.result_line(_passing_log(), {"setup_s": float("nan"), "p50_ms": 1.0}, SPEC)
    with pytest.raises(ValueError):
        harness.result_line(harness.OpLog(), {"setup_s": 1.0, "p50_ms": 1.0}, SPEC)


def test_benchmark_json_matches_the_contract_shape():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
