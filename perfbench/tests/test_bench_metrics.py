"""Metric-name schema, the samples-beyond percentile rule, failure
counting and the traced run's span rollup."""

from __future__ import annotations

import json
import os
import re
from types import SimpleNamespace

import pytest

from perfbench import metrics, workloads
from perfbench.collect import Tracer, stream_counters

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_emitted_metrics(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.per_layer_schema()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_metric_names_follow_the_contract(bench):
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), names
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        assert UNIT.fullmatch(m["unit"])
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.fullmatch(m["unit"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert 1 <= len(bench["per_layer"]) <= 128


def test_every_layer_of_every_op_has_metrics():
    layers = workloads.op_layers()
    schema = metrics.per_layer_schema()
    for steps in workloads.WORKLOADS.values():
        for step in steps:
            for op in step:
                layer = layers[op]
                if layer != "operators.index_store":
                    assert f"{layer}.build_ms" in schema, op


@pytest.mark.parametrize("q,n", [(0.5, 20), (0.75, 40), (0.9, 100), (0.99, 1000)])
def test_percentile_needs_ten_samples_beyond(q, n):
    assert metrics.samples_beyond(q, n) >= metrics.MIN_BEYOND
    metrics.percentile([float(v) for v in range(n)], q)
    assert metrics.samples_beyond(q, n - 1) < metrics.MIN_BEYOND
    with pytest.raises(ValueError, match="beyond"):
        metrics.percentile([float(v) for v in range(n - 1)], q)


def test_percentile_refuses_too_few_samples():
    with pytest.raises(ValueError, match="beyond"):
        metrics.percentile([1.0] * 99, 0.9)
    with pytest.raises(ValueError):
        metrics.percentile(list(range(19)), 0.5)


def test_percentile_interpolates_between_order_statistics():
    values = [float(v) for v in range(100, 0, -1)]
    assert metrics.percentile(values, 0.9) == pytest.approx(90.1)
    assert metrics.percentile(values, 0.5) == pytest.approx(50.5)
    assert metrics.percentile(values[:21], 0.5) == 90.0  # 80..100 -> 11th


def test_end_to_end_metrics():
    first = [1.0, 2.0]
    warm = [[0.1 * i for i in range(1, 11)], [0.2 * i for i in range(1, 11)]]
    m = metrics.end_to_end(4.0, first, warm)
    assert set(m) == set(metrics.END_TO_END)
    assert m["setup_s"] == 4.0 and m["first_pass_s"] == 3.0
    assert m["warm_pass_s"] == pytest.approx((5.5 + 11.0) / 2)
    middle = sorted(warm[0] + warm[1])[9:11]
    assert m["op_p50_ms"] == pytest.approx(1000 * sum(middle) / 2)
    with pytest.raises(ValueError):
        metrics.end_to_end(4.0, first, warm[:1])


def test_failures_are_counted_against_attempts():
    t = metrics.Tally()
    t.record("a", None)
    t.record("b", "ValueError: boom")
    t.record("c", "output digest mismatch")
    t.record("a", None)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.fail_ratio == 0.5
    assert t.failures == ["b: ValueError: boom", "c: output digest mismatch"]
    line = json.loads(metrics.result_line(t, {"x_s": 1.5}, {"x_s": "s"}))
    assert line == {"correct": False, "attempted": 4, "failed": 2,
                    "metrics": {"x_s": {"value": 1.5, "unit": "s"}}}
    ok = metrics.Tally()
    ok.record("a", None)
    assert json.loads(metrics.result_line(ok, {}, {}))["correct"] is True


def _progress(qid, batch_ms, commit_ms, rows, mem):
    state = [SimpleNamespace(commitTimeMs=commit_ms, numRowsTotal=rows, memoryUsedBytes=mem)]
    return SimpleNamespace(id=qid, stateOperators=state, durationMs={
        "addBatch": batch_ms, "walCommit": 2, "commitOffsets": 3,
        "queryPlanning": 4, "triggerExecution": batch_ms + 10,
    })


def test_stream_counters_sum_batches_and_keep_last_state():
    c = stream_counters([_progress("q", 100, 5, 10, 1000), _progress("q", 50, 7, 30, 3000)],
                        op_ms=400.0)
    assert c["batches"] == 2
    assert c["add_batch_ms"] == 150 and c["wal_commit_ms"] == 4
    assert c["state_commit_ms"] == 12
    assert c["state_rows_total"] == 30 and c["state_memory_bytes"] == 3000
    assert c["replay_overhead_ms"] == 400.0 - 170
    assert stream_counters([], op_ms=5.0)["replay_overhead_ms"] == 0


def test_self_time_rollup_subtracts_children():
    t = Tracer()
    p = t.add("pass1", "bench", None, 0.0, 10.0)
    op = t.add("uv_daily", "pipelines.dwm", p, 1.0, 5.0)
    t.add("build", "pipelines.dwm", op, 1.0, 2.0)
    t.add("exec", "pipelines.dwm", op, 2.0, 4.5)
    assert t.rollup() == pytest.approx({"bench": 6.0, "pipelines.dwm": 4.0})
