"""Seeded benchmark inputs.

The table *contents* are fixed: `base_tables()` draws them from a
constant content seed, at the shape of the engine's sf0.1 testdata:
the same schemas, row counts, key ranges and cardinalities and value
distributions, including the 5% planted near-duplicate documents
(`tests/test_bench_inputs.py` pins the counts). The rows themselves are
synthetic, because the benchmark reads nothing outside its checkout.
The benchmark's `--seed` only changes how those rows reach the engine:
`write_inputs` permutes each table's rows and splits them into PARTS
equal part files. The part count is fixed because at this scale it
sets a scan's parallelism: when the seed chose 1-4 parts, runs on
single-file lineitem read warm passes up to 40% slower. A correct
query's output does not depend on the seed, which is what lets every
output be checked against golden values computed once.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

CONTENT_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
EMBED_DIM = 64
PARTS = 4

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "red", "small", "green", "dark")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_DUP_SHARE = 0.05


def _days(rng, start: datetime.date, end: datetime.date, n: int) -> pa.Array:
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pa.Table]:
    """The benchmark's table contents, identical on every call."""
    rng = np.random.default_rng(CONTENT_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(_PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(("F", "O", "P"), N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), N_ORDERS),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), N_LINEITEM),
        "l_linestatus": rng.choice(("F", "O"), N_LINEITEM),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), N_LINEITEM),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(n)))
        for n in rng.integers(10, 100, N_DOCS)
    ]
    dups = rng.choice(N_DOCS, int(N_DOCS * _DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(N_DOCS), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((N_VECS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })
    return t


def write_base(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """One file per table, `{out_dir}/{name}.parquet` (the oracle layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _write_parts(path: str, table: pa.Table, rng: np.random.Generator) -> None:
    os.makedirs(path, exist_ok=True)
    table = table.take(rng.permutation(table.num_rows))
    bounds = np.linspace(0, table.num_rows, PARTS + 1).astype(int)
    for i in range(PARTS):
        chunk = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(chunk, os.path.join(path, f"part-{i:05d}.parquet"))


def write_inputs(out_dir: str, seed: int, tables: dict[str, pa.Table]) -> None:
    """Write every table as `{out_dir}/{name}.parquet/part-NNNNN.parquet`
    with its rows permuted by `seed`."""
    rng = np.random.default_rng(seed)
    for name in TABLES:
        _write_parts(os.path.join(out_dir, f"{name}.parquet"), tables[name], rng)


def prefix_watermarks(seed: int) -> tuple[int, int]:
    """(doc_id, vec_id) watermarks of the seeded corpus prefix: the
    prefix holds ids <= watermark, the delta everything above it."""
    rng = np.random.default_rng([seed, 1])
    lo, hi = 0.6, 0.9
    return (
        int(N_DOCS * rng.uniform(lo, hi)),
        int(N_VECS * rng.uniform(lo, hi)),
    )


def write_prefix(out_dir: str, seed: int, tables: dict[str, pa.Table]) -> tuple[int, int]:
    """Write the seeded prefix of the documents/embeddings corpus in the
    same permuted multi-part layout. Returns the watermarks."""
    doc_wm, vec_wm = prefix_watermarks(seed)
    rng = np.random.default_rng([seed, 2])
    for name, col, wm in (("documents", "doc_id", doc_wm), ("embeddings", "vec_id", vec_wm)):
        t = tables[name]
        keep = np.asarray(t.column(col)) <= wm
        _write_parts(os.path.join(out_dir, f"{name}.parquet"), t.filter(pa.array(keep)), rng)
    return doc_wm, vec_wm
