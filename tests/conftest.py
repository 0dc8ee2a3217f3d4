from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from gmallbiguan_parent_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def isolated_memo(monkeypatch):
    """An empty session memo for one test; the test session's memo is
    put back afterwards, so a test that shrinks the bound or runs stub
    applications does not drop the entries the other tests share."""
    from collections import OrderedDict

    from gmallbiguan_parent_spark import memo

    monkeypatch.setattr(memo, "_ENTRIES", OrderedDict())
    monkeypatch.setattr(memo, "_app", None)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from gmallbiguan_parent_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
