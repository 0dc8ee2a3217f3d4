"""Golden outputs for every query the benchmark runs.

`golden.json` holds two values per op:

- `digest`: a sha256 over the op's sorted column names and its rows in
  the canonical order-insensitive form of the local correctness gate
  (`tools/verify_local.py` `canon`/`rows_repr`), computed from the
  query's DuckDB oracle over the benchmark's base tables: the answer of
  an independent engine.
- `fingerprint`: the row count and the sum of a 31-bit hash of every
  row (`observed`), taken from the engine's own output, and recorded
  only after that output, collected, matched the digest.

A run checks every op in every pass by the fingerprint it observes
inside the op's own write, so a check costs no second execution. The
hash reads integers as bigint and fractional numbers as double, as
`canon` compares them, so an output that only changes a column's
numeric width still matches. Some oracles take tens of seconds, so the
values are computed once and committed; regenerate them when the base
tables, an oracle or the op lists change:

    python3 perfbench/golden.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def digest(cols: list[str], rows) -> dict:
    from tools.verify_local import rows_repr

    h = hashlib.sha256()
    h.update("|".join(sorted(cols)).encode())
    for line in rows_repr(list(cols), [tuple(r) for r in rows]):
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def _hashable(col, dtype):
    from pyspark.sql import types as T

    for kind, wide in ((T.IntegralType, "bigint"), (T.FractionalType, "double")):
        if isinstance(dtype, kind):
            return col.cast(wide)
        if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, kind):
            return col.cast(f"array<{wide}>")
    return col


def observed(df):
    """`df` with an Observation that counts its rows and sums a 31-bit
    hash of each row while an action runs: an order-insensitive
    fingerprint of the output, taken inside the job that materializes
    it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    h = F.xxhash64(*[_hashable(df[i], f.dataType) for i, f in enumerate(df.schema.fields)])
    out = df.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum(h.bitwiseAND(0x7FFFFFFF)).alias("hash")
    )
    return out, obs


def fingerprint(obs) -> list[int]:
    seen = obs.get
    return [seen["rows"], seen["hash"] or 0]


def load() -> dict[str, dict]:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import duckdb

    from gmallbiguan_parent_spark.pipelines import all_oracles
    from perfbench import inputs, run, workloads

    work = os.path.join(root, ".bench_work", f"golden-{os.getpid()}")
    os.makedirs(work)
    tables = inputs.base_tables()
    base = os.path.join(work, "base")
    inputs.write_base(base, tables)
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    oracles = all_oracles()
    ops = sorted(set(workloads.query_ops()))
    out = {}
    for op in ops:
        res = con.execute(oracles[op])
        out[op] = {"digest": digest([d[0] for d in res.description], res.fetchall())}
    con.close()

    run.pin_env(work)
    from gmallbiguan_parent_spark.session import get_spark

    spark = get_spark("perfbench-golden")
    try:
        bench = run.Bench(spark, 0, work, trace=False, expected={})
        for op in ops:
            df = bench.query(op)
            checked, obs = observed(df)
            got = digest(df.columns, checked.collect())
            if got != out[op]["digest"]:
                raise SystemExit(f"{op}: engine output {got} differs from its oracle's")
            out[op]["fingerprint"] = fingerprint(obs)
            print(op, got["rows"], "rows", flush=True)
    finally:
        run.stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    with open(GOLDEN_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
