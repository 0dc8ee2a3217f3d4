"""The seeded input generator: same seed, same files; any seed, same
rows; the row counts and key cardinalities of the sf0.1 testdata."""

from __future__ import annotations

import filecmp
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import inputs

# Read from the engine's sf0.1 testdata, the scale the generated tables
# stand in for: rows per table, and distinct values of the join and
# group keys.
SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
SF01_DISTINCT = {
    ("orders", "o_custkey"): 14_999,
    ("lineitem", "l_orderkey"): 147_236,
    ("lineitem", "l_partkey"): 20_000,
    ("lineitem", "l_suppkey"): 1_000,
    ("part", "p_name"): 64,
    ("events", "user_id"): 1_500,
    ("events", "props"): 100,
    ("documents", "source"): 20,
    ("embeddings", "label"): 10,
}
SF01_NEAR_DUP_DOCS = 250  # documents whose text is another's plus " dup"


@pytest.fixture(scope="module")
def tables():
    return inputs.base_tables()


def _sorted(t: pa.Table) -> pa.Table:
    """The table in the order of all its scalar columns: two tables with
    the same multiset of rows sort to equal tables."""
    keys = [(f.name, "ascending") for f in t.schema if not pa.types.is_list(f.type)]
    return t.sort_by(keys)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(root) for n in names
    )


def test_same_seed_writes_identical_files(tmp_path, tables):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.write_inputs(str(a), 7, tables)
    inputs.write_inputs(str(b), 7, tables)
    files = _files(str(a))
    assert files == _files(str(b))
    assert len(files) >= len(inputs.TABLES)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []


def test_two_seeds_give_the_same_multiset_of_rows(tmp_path, tables):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.write_inputs(str(a), 1, tables)
    inputs.write_inputs(str(b), 2, tables)
    for name in inputs.TABLES:
        want = _sorted(tables[name])
        for d in (a, b):
            assert _sorted(pq.read_table(str(d / f"{name}.parquet"))).equals(want), name
    # the seed changes the layout, not the content
    orders = [pq.read_table(str(d / "events.parquet")).column("event_id").to_pylist()
              for d in (a, b)]
    assert orders[0] != orders[1]


def test_base_tables_have_the_sf01_shape(tables):
    assert {n: t.num_rows for n, t in tables.items()} == SF01_ROWS
    for (name, col), want in SF01_DISTINCT.items():
        got = len(pc.unique(tables[name].column(col)))
        assert abs(got - want) <= 0.01 * want, (name, col, got, want)
    texts = tables["documents"].column("text").to_pylist()
    known = set(texts)
    near = sum(t.endswith(" dup") and t[:-4] in known for t in texts)
    assert near == SF01_NEAR_DUP_DOCS


def test_base_tables_are_fixed(tables):
    again = inputs.base_tables()
    for name in inputs.TABLES:
        assert again[name].equals(tables[name]), name


def test_prefix_plus_delta_is_the_full_corpus(tmp_path, tables):
    full, prefix = tmp_path / "full", tmp_path / "prefix"
    inputs.write_inputs(str(full), 5, tables)
    doc_wm, vec_wm = inputs.write_prefix(str(prefix), 5, tables)
    assert (doc_wm, vec_wm) == inputs.prefix_watermarks(5)
    for name, col, wm, n in (("documents", "doc_id", doc_wm, inputs.N_DOCS),
                             ("embeddings", "vec_id", vec_wm, inputs.N_VECS)):
        assert 0 < wm < n - 1
        pre = pq.read_table(str(prefix / f"{name}.parquet")).to_pylist()
        all_rows = pq.read_table(str(full / f"{name}.parquet")).to_pylist()
        delta = [r for r in all_rows if r[col] > wm]
        assert pre and delta
        assert max(r[col] for r in pre) == wm
        assert sorted(map(repr, pre + delta)) == sorted(map(repr, all_rows))
