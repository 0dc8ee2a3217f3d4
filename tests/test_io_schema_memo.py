"""io.read_parquet's schema memo: a repeat read of an unchanged table
submits no Spark job, while a rewrite in place or a change to a conf
that alters inferred types is inferred again."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from gmallbiguan_parent_spark import memo
from gmallbiguan_parent_spark.io import load_table, read_parquet
from gmallbiguan_parent_spark.session import TUNED_MARKER
from tests.conftest import SF_DIR as SF

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _plain_session(spark):
    """A session sharing the context but carrying none of this engine's
    runtime confs, like a plain session from a caller that never ran
    get_spark."""
    s = spark.newSession()
    for k in (NANOS, NTZ, TUNED_MARKER):
        s.conf.unset(k)
    return s


def test_second_load_submits_no_job(spark, tmp_path):
    pq.write_table(pq.read_table(f"{SF}/orders.parquet"), tmp_path / "orders.parquet")
    load_table(spark, str(tmp_path), "orders")
    before = _next_job_id(spark)
    df = load_table(spark, str(tmp_path), "orders")
    assert _next_job_id(spark) == before
    assert df.count() == pq.read_metadata(tmp_path / "orders.parquet").num_rows


def test_rewrite_in_place_is_inferred_again(spark, tmp_path):
    path = tmp_path / "part.parquet"
    t = pq.read_table(f"{SF}/part.parquet")
    pq.write_table(t, path)
    assert "p_extra" not in load_table(spark, str(tmp_path), "part").columns
    pq.write_table(t.append_column("p_extra", pa.array(range(t.num_rows))), path)
    df = load_table(spark, str(tmp_path), "part")
    assert "p_extra" in df.columns
    assert df.agg({"p_extra": "sum"}).first()[0] == sum(range(t.num_rows))


def test_plain_session_reads_nanos_events_as_timestamp(spark, tmp_path):
    src = pq.read_table(f"{SF}/events.parquet")
    ts = src.schema.get_field_index("ts")
    nanos = src.set_column(ts, "ts", src.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")

    load_table(spark, str(tmp_path), "events")  # memo primed by the tuned session
    plain = _plain_session(spark)
    df = load_table(plain, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {(r.event_id, r.ts) for r in df.select("event_id", "ts").collect()}
    want = set(zip(src.column("event_id").to_pylist(), src.column("ts").to_pylist()))
    assert got == want


def test_type_changing_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"t": pa.array([datetime.datetime(2024, 1, 1)])}), path)
    s = _plain_session(spark)
    s.conf.set(NTZ, "false")
    assert dict(read_parquet(s, path).dtypes)["t"] == "timestamp"
    s.conf.set(NTZ, "true")
    assert dict(read_parquet(s, path).dtypes)["t"] == "timestamp_ntz"


def test_memo_is_bounded(spark, tmp_path, monkeypatch, isolated_memo):
    monkeypatch.setattr(memo, "MAX_ENTRIES", 2)
    for i in range(3):
        path = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), path)
        assert read_parquet(spark, path).first().x == i
    held = memo.entries("parquet_schema")
    assert len(held) == 2
    assert all(k[0] != str(tmp_path / "t0.parquet") for k in held)


def test_memo_under_concurrent_readers(spark, tmp_path, monkeypatch, isolated_memo):
    """More reader threads than memo slots and than cores, with a short
    switch interval: every read gets its own path's schema and the
    memo never exceeds its bound."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(memo, "MAX_ENTRIES", 3)
    paths = []
    for i in range(6):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])

    def read(j):
        i = j % len(paths)
        assert read_parquet(spark, paths[i]).columns == [f"c{i}"]
        assert len(memo.entries("parquet_schema")) <= 3

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            for f in [pool.submit(read, j) for j in range(60)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert len(memo.entries("parquet_schema")) == 3
