"""Metric names, the percentile rule, failure counting and the result
line. Pure functions only, so the tests can pin them without Spark."""

from __future__ import annotations

import json
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it. The benchmark's time budget leaves room for about 20-30
# warm op samples per run, so the highest percentile that qualifies is
# p50.
MIN_BEYOND = 10
TAIL_Q = 0.5

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "warm_pass_s": "s",
    "op_p50_ms": "ms",
}

OP_METRICS = {
    "build_ms": "ms",
    "exec_ms": "ms",
    "jobs": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "shuffle_bytes": "bytes",
}

PIPELINE_LAYERS = (
    "pipelines.dwd", "pipelines.dwm", "pipelines.dws", "pipelines.serving",
    "pipelines.cdc", "pipelines.tpch", "pipelines.analytics",
)
OPERATOR_LAYERS = (
    "operators.dedup", "operators.similarity", "operators.text", "operators.multimodal",
)

STREAM_METRICS = {
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.replay_overhead_ms": "ms",
}

OTHER_LAYER_METRICS = {
    "session.jvm_peak_rss_mb": "MB",
    "session.calib_jvm_s": "s",
    "session.calib_python_worker_s": "s",
    "io.input_bytes": "bytes",
    "io.input_rows": "count",
    "memo.cold_build_ms": "ms",
    "memo.warm_build_ms": "ms",
    "memo.cached_bytes": "bytes",
    "memo.cached_rdds": "count",
    "index_store.build_s": "s",
    "index_store.refresh_s": "s",
    "index_store.write_s": "s",
    "index_store.read_s": "s",
    "index_store.read_ms": "ms",
    "index_store.write_jobs": "count",
    "index_store.read_jobs": "count",
    "index_store.store_bytes": "bytes",
    "index_store.store_files": "count",
    "index_store.bytes_per_input_byte": "ratio",
    "trace.overhead_s": "s",
}


def per_layer_schema() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out: dict[str, str] = {}
    for layer in PIPELINE_LAYERS + OPERATOR_LAYERS + ("streaming",):
        for m, unit in OP_METRICS.items():
            out[f"{layer}.{m}"] = unit
        if layer in OPERATOR_LAYERS:
            out[f"{layer}.executor_noncpu_ms"] = "ms"
    out.update(STREAM_METRICS)
    out.update(OTHER_LAYER_METRICS)
    return out


def samples_beyond(q: float, n: int) -> int:
    """Samples strictly above the nearest-rank q-percentile of n."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float:
    """q-percentile, linear between the two nearest order statistics
    (the median of an even count is the mean of the middle two).
    Refuses a percentile with fewer than MIN_BEYOND samples beyond it."""
    n = len(values)
    if samples_beyond(q, n) < MIN_BEYOND:
        raise ValueError(
            f"p{round(q * 100)} of {n} samples leaves {samples_beyond(q, n)} "
            f"beyond it; need {MIN_BEYOND}"
        )
    s = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (pos - lo) * (s[hi] - s[lo])


class Tally:
    """Ops attempted and failed. An op fails when it raises or when its
    checked output differs from the golden digest."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, op: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append(f"{op}: {error}")

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def end_to_end(setup_s: float, first_pass: list[float], warm_passes: list[list[float]]) -> dict:
    """The end-to-end metrics from per-op latencies in seconds: one list
    for the first pass, one list per warm pass."""
    warm_ops = [t for p in warm_passes for t in p]
    return {
        "setup_s": setup_s,
        "first_pass_s": sum(first_pass),
        "warm_pass_s": statistics.median(sum(p) for p in warm_passes),
        "op_p50_ms": 1000 * percentile(warm_ops, TAIL_Q),
    }


def result_line(tally: Tally, metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })
