"""Repository benchmark: one named workload, seeded, fully materialized.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout in one fresh process, on
local[<cpus this process may use>], with one client issuing one op at
a time (closed loop). An op is a registered query called and then
written to the `noop` sink (build_ms + exec_ms), or an index-store
write. The first pass over the workload's ops is cold and runs them in
listed order; warm passes follow in seeded orders, at least
WARM_PASSES of them and more until --seconds have passed. Every op's
output is checked in every pass against `golden.json`, by a
fingerprint observed inside the op's own write. The last stdout line
is the result record: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (spans and a self-time rollup go to
.bench_work/trace-<workload>-<seed>.json).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import golden, inputs, metrics, workloads  # noqa: E402

DRIVER_MEM = "4g"
TIME_CAP_S = 150.0


def pin_env(work: str) -> dict[str, str]:
    """Pin everything the program reads from its environment, and keep
    every file it writes (stores, checkpoints, spark-warehouse, derby.log,
    shuffle files) under the run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    pythonpath = os.environ.get("PYTHONPATH")
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # pandas-UDF workers import the package: they need the checkout
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(jvm_opts)} pyspark-shell",
    }
    os.environ.update(env)
    for var in ("SPARK_GRAFT_INDEX_DIR", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BUILD_THREADS"):
        os.environ.pop(var, None)
    tempfile.tempdir = None
    os.chdir(work)
    return env


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Bench:
    """One session's ops over the seeded inputs. `expected` maps each
    query op to its golden values (empty while they are generated)."""

    def __init__(self, spark, seed: int, work: str, trace: bool, expected: dict) -> None:
        from gmallbiguan_parent_spark.operators import index_store
        from gmallbiguan_parent_spark.pipelines import all_queries

        from perfbench.collect import Collector, Tracer

        self.spark = spark
        self.index_store = index_store
        self.queries = all_queries()
        self.layers = workloads.op_layers()
        self.expected = expected
        self.rng = random.Random(seed)
        self.work = work
        self.tally = metrics.Tally()
        self.collector = Collector(spark) if trace else None
        self.tracer = Tracer() if trace else None
        self.store_stats = (0, 0)

        tables = inputs.base_tables()
        self.data = os.path.join(work, "data")
        inputs.write_inputs(self.data, seed, tables)
        self.prefix = os.path.join(work, "prefix")
        self.doc_wm, _ = inputs.write_prefix(self.prefix, seed, tables)
        self.store = os.path.join(work, "store")
        self.write_root = ""
        self.n_writes = 0
        self.store_built = False
        # the store families are built from the documents table only
        self.input_bytes = dir_size(os.path.join(self.data, "documents.parquet"))[0]

    # -- index-store writes ----------------------------------------------
    @staticmethod
    def _expect(m: dict, n_docs: int) -> str | None:
        want = {"n_docs": n_docs, "doc_watermark": n_docs - 1}
        bad = {k: m.get(k) for k in want if m.get(k) != want[k]}
        return f"manifest {bad} != {want}" if bad else None

    def _write(self, op: str) -> str | None:
        """build_index writes the seeded corpus prefix into a fresh root;
        refresh_index then brings that root up to the full corpus."""
        os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
        if op == "build_index":
            self.n_writes += 1
            self.write_root = os.path.join(self.work, "writes", str(self.n_writes))
            os.makedirs(self.write_root)
            m = self.index_store.build_index(
                self.spark, self.prefix, self.write_root, families=workloads.WRITE_FAMILIES
            )
            return self._expect(m, self.doc_wm + 1)
        m = self.index_store.refresh_index(self.spark, self.data, self.write_root)
        return self._expect(m, inputs.N_DOCS)

    # -- one op ----------------------------------------------------------
    def query(self, op: str):
        """The op's DataFrame. Store reads see the run's store, which the
        first of them in a session builds; every other op derives live."""
        if op in workloads.STORE_READS:
            os.environ["SPARK_GRAFT_INDEX_DIR"] = self.store
            if not self.store_built:
                self.index_store.ensure_index(
                    self.spark, self.data, families=workloads.READ_FAMILIES
                )
                self.store_built = True
        else:
            os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
        return self.queries[op](self.spark, self.data)

    def run_op(self, op: str, traced: bool, parent: int | None) -> dict:
        layer = self.layers[op]
        if traced:
            self.collector.begin()
        error = obs = None
        t0 = time.perf_counter()
        t1 = None
        try:
            if op in workloads.INDEX_WRITES:
                error = self._write(op)
            else:
                written, obs = golden.observed(self.query(op))
                t1 = time.perf_counter()
                written.write.format("noop").mode("overwrite").save()
        except Exception as e:  # an op failure is counted, not fatal
            error = f"{type(e).__name__}: {str(e)[:300]}"
        t2 = time.perf_counter()
        t1 = t1 or t2
        rec = {"op": op, "layer": layer, "build_s": t1 - t0, "exec_s": t2 - t1}
        if traced:
            rec["counters"] = self.collector.end(1000 * (t2 - t0))
            span = self.tracer.add(op, layer, parent, t0, t2)
            self.tracer.add("build", layer, span, t0, t1)
            self.tracer.add("exec", layer, span, t1, t2)
        if error is None and obs is not None:
            seen, want = golden.fingerprint(obs), self.expected[op]["fingerprint"]
            if seen != want:
                error = f"output fingerprint {seen} != golden {want} ([rows, hash])"
        if op == "refresh_index":
            self.store_stats = dir_size(self.write_root)
            shutil.rmtree(self.write_root, ignore_errors=True)
        self.tally.record(op, error)
        if error is not None:
            print(f"# FAIL {op}: {error}", flush=True)
        return rec

    def run_pass(self, name: str, steps, traced: bool, shuffle: bool = True) -> list[dict]:
        """One pass over the steps, the ops inside a step in a seeded
        order when `shuffle` is set and in their listed order otherwise."""
        span = self.tracer.open(name, "bench", None) if self.tracer else None
        recs = []
        for step in steps:
            ops = list(step)
            if shuffle and step is not workloads.INDEX_WRITES:  # refresh needs the build's root
                self.rng.shuffle(ops)
            for op in ops:
                recs.append(self.run_op(op, traced, span))
        if span is not None:
            self.tracer.close(span)
        return recs

    def full_vs_count(self, steps) -> dict[str, dict[str, float]]:
        """Per query op, one full op (call + noop write) and then one call
        + .count(), the shortcut the full write replaces. Back to back, so
        both see the same machine (a record for the docs, not a metric)."""
        out = {}
        for step in steps:
            for op in step:
                if op in workloads.INDEX_WRITES:
                    continue
                t0 = time.perf_counter()
                self.query(op).write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
                self.query(op).count()
                out[op] = {"full_s": t1 - t0, "count_s": time.perf_counter() - t1}
        return out


def latencies(recs: list[dict]) -> list[float]:
    return [r["build_s"] + r["exec_s"] for r in recs]


def calibrate(spark) -> tuple[float, float]:
    """bench.py's fixed calibration jobs: they time the machine, not the engine."""
    t0 = time.perf_counter()
    (
        spark.range(2_000_000)
        .selectExpr("id % 1000 AS k", "id * 2654435761 % 2147483647 AS h")
        .groupBy("k").count().count()
    )
    calib_jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    df = spark.range(10_000).repartition(int(os.environ["SPARK_GRAFT_CPUS"]))
    df.mapInPandas(lambda it: it, "id long").count()
    return calib_jvm, time.perf_counter() - t0


def layer_metrics(bench: Bench, first: list[dict], traced: list[list[dict]],
                  untraced: list[list[dict]], calib: tuple[float, float]) -> dict[str, float]:
    out = dict.fromkeys(metrics.per_layer_schema(), 0.0)

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def op_values(r: dict) -> dict[str, float]:
        c = r["counters"]
        return {
            "build_ms": 1000 * r["build_s"], "exec_ms": 1000 * r["exec_s"],
            "jobs": c["jobs"], "tasks": c["tasks"],
            "executor_run_ms": c["executor_run_ms"], "shuffle_bytes": c["shuffle_bytes"],
            "executor_noncpu_ms": c["executor_noncpu_ms"],
        }

    pass_sums = []
    for recs in traced:
        s = defaultdict(float)
        for r in recs:
            for k, v in op_values(r).items():
                s[f"{r['layer']}.{k}"] += v
            for k, v in r["counters"].items():
                if k.startswith("stream."):
                    s[f"streaming.{k[7:]}"] += v
                elif k in ("input_bytes", "input_rows"):
                    s[f"io.{k}"] += v
            if r["layer"] in metrics.OPERATOR_LAYERS:
                s["memo.warm_build_ms"] += 1000 * r["build_s"]
            if r["op"] == "build_index":
                s["index_store.build_s"] += r["build_s"] + r["exec_s"]
                s["index_store.write_jobs"] += r["counters"]["jobs"]
            elif r["op"] == "refresh_index":
                s["index_store.refresh_s"] += r["build_s"] + r["exec_s"]
                s["index_store.write_jobs"] += r["counters"]["jobs"]
            elif r["op"] in workloads.STORE_READS:
                s["index_store.read_s"] += r["build_s"] + r["exec_s"]
                s["index_store.read_jobs"] += r["counters"]["jobs"]
        s["index_store.write_s"] = s["index_store.build_s"] + s["index_store.refresh_s"]
        pass_sums.append(s)
    for name in out:
        out[name] = med(s.get(name, 0.0) for s in pass_sums)

    out["memo.cold_build_ms"] = sum(
        1000 * r["build_s"] for r in first if r["layer"] in metrics.OPERATOR_LAYERS
    )
    reads = [r["build_s"] + r["exec_s"] for p in traced for r in p
             if r["op"] in workloads.STORE_READS]
    out["index_store.read_ms"] = 1000 * med(reads)
    store_bytes, store_files = bench.store_stats
    out["index_store.store_bytes"] = store_bytes
    out["index_store.store_files"] = store_files
    out["index_store.bytes_per_input_byte"] = store_bytes / bench.input_bytes
    out["memo.cached_bytes"], out["memo.cached_rdds"] = bench.collector.cached()
    out["session.jvm_peak_rss_mb"] = bench.collector.jvm_peak_rss_mb()
    out["session.calib_jvm_s"], out["session.calib_python_worker_s"] = calib
    out["trace.overhead_s"] = (
        med(sum(latencies(p)) for p in traced) - med(sum(latencies(p)) for p in untraced)
    )
    return out


def run(args, work: str, env: dict[str, str]) -> int:
    from gmallbiguan_parent_spark.session import get_spark

    spark = get_spark("perfbench")
    setup_s = time.time() - T_START
    print("# env " + json.dumps(env, sort_keys=True), flush=True)
    try:
        calib = calibrate(spark) if args.trace else (0.0, 0.0)
        steps = workloads.WORKLOADS[args.workload]
        bench = Bench(spark, args.seed, work, bool(args.trace), golden.load())
        # the first pass runs in listed order, as a scheduled batch job
        # would: its cold costs depend on which ops come first, and a
        # seeded order made some seeds' first pass 20% slower every time
        first = bench.run_pass("pass0", steps, traced=bool(args.trace), shuffle=False)
        warm: list[tuple[bool, list[dict]]] = []
        t_warm = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(warm) % 2 == 0
            warm.append((traced, bench.run_pass(f"pass{len(warm) + 1}", steps, traced)))
            if (time.perf_counter() - t_warm >= args.seconds
                    and len(warm) >= workloads.WARM_PASSES):
                break
            if time.time() - T_START > TIME_CAP_S:
                break
        warm_all = [latencies(p) for _, p in warm]
        result = metrics.end_to_end(setup_s, latencies(first), warm_all)
        units = metrics.END_TO_END
        n_warm = sum(len(p) for p in warm_all)
        print(f"# workload {args.workload} seed {args.seed}: {len(warm)} warm passes, "
              f"{n_warm} warm op samples, op_fail_ratio {bench.tally.fail_ratio}", flush=True)
        samples = {"setup_s": 1, "first_pass_s": 1, "warm_pass_s": len(warm), "op_p50_ms": n_warm}
        for k, v in result.items():
            print(f"# {k} = {v:.6g} {units[k]} (samples {samples[k]})")
        if args.trace:
            result = layer_metrics(
                bench, first, [p for t, p in warm if t], [p for t, p in warm if not t], calib
            )
            units = metrics.per_layer_schema()
            full_vs_count = bench.full_vs_count(steps)
            trace_path = os.path.join(ROOT, ".bench_work",
                                      f"trace-{args.workload}-{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"spans": bench.tracer.spans, "self_time_s": bench.tracer.rollup(),
                           "full_vs_count": full_vs_count, "first": first,
                           "warm": [{"traced": t, "ops": p} for t, p in warm]}, f)
            print(f"# trace written to {trace_path}", flush=True)
            bench.collector.close()
            for k, v in result.items():
                print(f"# {k} = {v:.6g} {units[k]}")
        for failure in bench.tally.failures:
            print(f"# failed: {failure}")
    finally:
        stop_spark(spark)
    print(metrics.result_line(bench.tally, result, units), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".bench_work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work, pin_env(work))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
