"""Per-op counters read from Spark's own status APIs, and the in-memory
span tracer. Used by traced runs only.

Counters are attributed to an op by the range of job ids submitted
while it ran (the DAG scheduler's next job id before and after), not by
job group: index-store builds run jobs on plain threads that carry no
caller job group. Stage metrics come from the JVM status store, which
is kept with the UI disabled; they are read right after each op, before
the retained-stage limit can evict them. Stream progress comes from a
StreamingQueryListener, cached bytes from getRDDStorageInfo.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_DURATIONS = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
}


class _Progress(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        with self._lock:
            events, self._events = self._events, []
        return events


def stream_counters(progress: list, op_ms: float) -> dict[str, float]:
    """Sum one op's micro-batch progress reports. State sizes are taken
    from each query's last report."""
    out = dict.fromkeys(("batches", *_DURATIONS, "state_commit_ms", "state_rows_total",
                         "state_memory_bytes", "replay_overhead_ms"), 0.0)
    trigger_ms = 0.0
    last_state: dict[str, list] = {}
    for p in progress:
        d = p.durationMs
        out["batches"] += 1
        for key, name in _DURATIONS.items():
            out[key] += d.get(name, 0)
        trigger_ms += d.get("triggerExecution", 0)
        out["state_commit_ms"] += sum(s.commitTimeMs for s in p.stateOperators)
        last_state[str(p.id)] = p.stateOperators
    for ops in last_state.values():
        out["state_rows_total"] += sum(s.numRowsTotal for s in ops)
        out["state_memory_bytes"] += sum(s.memoryUsedBytes for s in ops)
    if progress:
        out["replay_overhead_ms"] = op_ms - trigger_ms
    return out


class Collector:
    def __init__(self, spark) -> None:
        self._spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._to_java = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        self._progress = _Progress()
        spark.streams.addListener(self._progress)
        self._job0 = 0

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def begin(self) -> None:
        self._drain()
        self._progress.take()
        self._job0 = self._jsc.dagScheduler().nextJobId()

    def end(self, op_ms: float) -> dict[str, float]:
        """Counters of the jobs and stream batches since begin()."""
        self._drain()
        job1 = self._jsc.dagScheduler().nextJobId()
        c = defaultdict(float)
        c["jobs"] = job1 - self._job0
        stages = set()
        for jid in range(self._job0, job1):
            stages.update(self._to_java.asJava(self._store.job(jid).stageIds()))
        for sid in stages:
            s = self._store.lastStageAttempt(sid)
            c["tasks"] += s.numCompleteTasks()
            c["executor_run_ms"] += s.executorRunTime()
            c["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            c["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            c["input_bytes"] += s.inputBytes()
            c["input_rows"] += s.inputRecords()
        c["executor_noncpu_ms"] = c["executor_run_ms"] - c["executor_cpu_ms"]
        for k, v in stream_counters(self._progress.take(), op_ms).items():
            c[f"stream.{k}"] = v
        return dict(c)

    def cached(self) -> tuple[int, int]:
        """(bytes, count) of the RDDs held in the block manager."""
        infos = list(self._jsc.getRDDStorageInfo())
        return sum(i.memSize() + i.diskSize() for i in infos), len(infos)

    def jvm_peak_rss_mb(self) -> float:
        pid = self._spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM for pid {pid}")

    def close(self) -> None:
        self._spark.streams.removeListener(self._progress)


class Tracer:
    """Spans kept in memory: pass -> op -> build/exec. Written out once,
    with a per-layer self-time rollup, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def open(self, name: str, layer: str, parent: int | None) -> int:
        return self.add(name, layer, parent, time.perf_counter(), None)

    def close(self, span_id: int) -> None:
        self.spans[span_id]["end"] = time.perf_counter()

    def add(self, name: str, layer: str, parent: int | None, start: float, end: float) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "layer": layer, "start": start, "end": end})
        return len(self.spans) - 1

    def rollup(self) -> dict[str, float]:
        """Self time per layer in seconds: each span's duration minus the
        part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)
