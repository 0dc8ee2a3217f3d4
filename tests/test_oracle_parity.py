"""Every declared query must hash-match its DuckDB oracle at sf0.001.

This mirrors the driver's correctness gate (row count + column names +
order-insensitive canonical values) so regressions surface in pytest
before the per-round verify."""

from __future__ import annotations

import pytest

from tools.verify_local import rows_repr

SF_DIR = "/root/testdata/sf0.001"


def _query_names():
    import __spark_entry__ as e

    return sorted(e.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(name, spark, duck):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    sql = e.oracle_sql().get(name)
    if sql is None:
        assert len(srows) >= 0  # rows-only check for non-SQL ops
        return
    res = duck.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert rows_repr(scols, srows) == rows_repr(ocols, orows)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_product_stats_matches_oracle_on_edge_rows(spark, tmp_path):
    """product_stats' two-level aggregate against its DuckDB oracle on
    hand-made lineitem rows: a null order key, an order with both R
    and non-R lines for one part, a part with no R line, and a null
    price."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmallbiguan_parent_spark.pipelines.dws import ORACLES, product_stats

    # (l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag)
    rows = [
        (1, 10, 2.0, 100.25, "R"),
        (1, 10, 3.0, 50.5, "N"),      # same order and part, R and non-R
        (2, 10, 1.0, 10.0, "A"),
        (None, 10, 4.0, 7.75, "R"),   # null order key
        (3, 20, 5.0, 30.0, "N"),      # part 20 has no R line
        (4, 20, 6.0, None, "A"),      # null price
        (5, 30, 1.0, None, "R"),      # R line whose price is null
        (5, 30, 2.0, 12.5, "N"),
        (6, 99, 1.0, 1.0, "R"),       # no matching part row
    ]
    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"]
    types = [pa.int64(), pa.int64(), pa.float64(), pa.float64(), pa.string()]
    pq.write_table(
        pa.table({c: pa.array([r[i] for r in rows], t) for i, (c, t) in enumerate(zip(cols, types))}),
        tmp_path / "lineitem.parquet",
    )
    pq.write_table(
        pa.table({
            "p_partkey": pa.array([10, 20, 30], pa.int64()),
            "p_name": ["a", "b", "c"],
            "p_brand": ["x", "y", "x"],
            "p_retailprice": [1.5, 2.5, 3.5],
        }),
        tmp_path / "part.parquet",
    )

    sdf = product_stats(spark, str(tmp_path))
    assert sdf.dtypes == [
        ("sku_id", "bigint"), ("sku_name", "string"), ("tm_name", "string"),
        ("sku_price", "decimal(18,4)"), ("order_sku_num", "bigint"),
        ("order_amount", "decimal(28,4)"), ("order_ct", "bigint"),
        ("refund_amount", "decimal(28,4)"), ("refund_order_ct", "bigint"),
    ]
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    res = con.execute(ORACLES["product_stats"])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(sdf.columns) == sorted(ocols)
    assert rows_repr(sdf.columns, srows) == rows_repr(ocols, orows)
    by_sku = {r[0]: r for r in srows}
    assert (by_sku[10][6], by_sku[10][8]) == (2, 1)   # null order key counts in neither
    assert (by_sku[20][6], by_sku[20][8]) == (2, 0)
    assert (by_sku[30][6], by_sku[30][8]) == (1, 1)
