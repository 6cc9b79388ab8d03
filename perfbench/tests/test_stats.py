"""The benchmark's own rules: tail percentile, self time, error counting."""

import math

import pytest

import check
import harness
from harness import OpResult
from spans import Span, Tracer, self_times, tail_percentile


def test_tail_percentile_needs_twenty_samples():
    assert tail_percentile([1.0] * 19) is None
    pct, value, n = tail_percentile([float(i) for i in range(1, 21)])
    assert (pct, value, n) == (50, 10.0, 20)


@pytest.mark.parametrize("n,pct", [(20, 50), (25, 60), (40, 75), (100, 90), (101, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    got_pct, value, count = tail_percentile(values)
    assert got_pct == pct and count == n
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond it
    assert n - math.ceil((pct + 1) * n / 100) < 10


def test_self_time_subtracts_covered_child_interval():
    spans = [
        Span(1, "op", 0.0, 10.0),
        Span(2, "build", 0.0, 4.0, parent=1),
        Span(3, "plan", 4.0, 5.0, parent=1),
        Span(4, "exec", 6.0, 10.0, parent=1),
        # overlapping grandchildren count once
        Span(5, "batch", 1.0, 3.0, parent=2),
        Span(6, "batch", 2.0, 3.5, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(1.0)  # 10 - (4 + 1 + 4)
    assert st[2] == pytest.approx(1.5)  # 4 - [1, 3.5]
    assert st[3] == pytest.approx(1.0)
    assert st[5] == pytest.approx(2.0)


def test_self_time_clips_children_to_parent():
    spans = [Span(1, "job", 0.0, 2.0), Span(2, "queued", -1.0, 1.0, parent=1)]
    assert self_times(spans)[1] == pytest.approx(1.0)


def test_tracer_nests_spans_per_thread():
    tracer = Tracer(True)
    with tracer.span("op", op=7):
        with tracer.span("build"):
            pass
    build, op = tracer.spans
    assert build.parent == op.id and build.op == 7
    off = Tracer(False)
    with off.span("op") as s:
        assert s is None
    assert off.spans == []


def test_injected_failing_op_counts_in_error_rate():
    def run_op(name):
        if name == "boom":
            raise ValueError("injected")
        return OpResult(name, 0.0, 0.5, rows=[(1,)], width=1, input_rows=10)

    passes = harness.run_passes(lambda k: harness.run_ops(["ok", "boom", "ok"], run_op), 0.0)
    ops = passes[0]
    assert len(passes) == 1 and len(ops) == 3
    assert [bool(r.error) for r in ops] == [False, True, False]
    assert "injected" in ops[1].error
    metrics = harness.summarize(passes)
    # the failed op still counts as attempted; only completed ops count as work
    assert metrics["jobs_per_min"] > 0


def test_wrong_result_is_a_failure_not_an_abort():
    assert check.compare([(1, "a")], 2, [(1, "a")], 2) == ""
    assert "rows" in check.compare([(1, "a")], 2, [], 2)
    assert "width" in check.compare([(1,)], 1, [(1, "a")], 2)
    assert "differs" in check.compare([(1, "b")], 2, [(1, "a")], 2)


def test_null_safe_sort_key_recurses_into_arrays_and_structs():
    rows = [((None, 2),), ((1, None),), ((None, None),), (([None, {"k": None}],),)]
    # would raise TypeError comparing None with int at depth 2
    assert check.compare(rows, 1, list(reversed(rows)), 1) == ""


def test_floats_compare_at_nine_decimals_and_fold_negative_zero():
    assert check.compare([(0.1 + 0.2, -0.0)], 2, [(0.3, 0.0)], 2) == ""
    assert check.compare([(float("nan"),)], 1, [(float("nan"),)], 1) == ""
    assert check.compare([(0.3001,)], 1, [(0.3,)], 1) != ""


def test_benchmark_json_names_what_run_prints():
    import json
    import os

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
