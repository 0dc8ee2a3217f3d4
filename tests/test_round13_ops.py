"""Round-13 optimization pins: the shared confirmed-pair relation, the
layout-v2 store (rs column), the staged-ingest projection key, the
trailing-no-data-batch scope, and the parallel build's artifact
equality."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gmallbiguan_parent_spark import memo
from tests.conftest import SF_DIR


def test_overflow_counts_match_directed_candidates(spark):
    """knn_graph_candidate_overflow now counts per-source candidates by
    mirroring the UNDIRECTED memoized pair relation; hamming<=r is
    symmetric, so that must reproduce the directed _knn_wide_candidates
    relation (the one the cap actually budgets) row-for-row."""
    from gmallbiguan_parent_spark.operators.similarity import (
        _knn_wide_candidates, _mp_confirmed_pairs, _srp_wide_sigs,
    )

    sigs, masks = _srp_wide_sigs(spark, SF_DIR)
    directed = {
        (r["src"], r["n_cand"])
        for r in _knn_wide_candidates(sigs, masks)
        .groupBy("src").agg(F.count(F.lit(1)).alias("n_cand")).collect()
    }
    mirrored = {
        (r["src"], r["n_cand"])
        for r in _mp_confirmed_pairs(sigs, masks)
        .select(F.explode(F.array(F.col("vec_a"), F.col("vec_b"))).alias("src"))
        .groupBy("src").agg(F.count(F.lit(1)).alias("n_cand")).collect()
    }
    assert directed == mirrored and len(directed) > 0


def test_capped_graph_store_read_matches_live(spark, tmp_path, monkeypatch):
    """The store-backed capped graph (slim = the persisted rs column,
    layout v2) must answer exactly like the live-derived form — the
    direct Spark-vs-Spark pin that the stored ranking sketch equals the
    on-the-fly one."""
    import gmallbiguan_parent_spark.operators.index_store as ix
    from gmallbiguan_parent_spark.operators.similarity import knn_graph_wide_capped

    monkeypatch.delenv("SPARK_GRAFT_INDEX_DIR", raising=False)
    memo.clear("knn_slim")
    live = sorted(map(tuple, knn_graph_wide_capped(spark, SF_DIR).collect()))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    memo.clear("index_root")
    memo.clear("fresh")
    store = sorted(
        map(tuple, ix.knn_graph_capped_from_index(spark, SF_DIR).collect())
    )
    assert live == store and len(live) > 0


def test_pre_v2_layout_store_upgraded_on_ensure(spark, tmp_path, monkeypatch):
    """A store published by a pre-r13 engine (manifest without the
    layout key → version 1, srp_sigs_wide without rs) must fail
    _layout_current and take the ensure_index swap-upgrade path; after
    the upgrade the rs-reading capped twin serves. store_for must
    meanwhile serve live (None), never mutate the old store."""
    import gmallbiguan_parent_spark.operators.index_store as ix

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    memo.clear("index_root")
    root = ix.ensure_index(spark, SF_DIR)
    assert ix.read_manifest(root)["layout"] == ix._LAYOUT_VERSION

    # simulate the pre-v2 manifest: no layout key
    m = ix.read_manifest(root)
    del m["layout"]
    with open(f"{root}/{ix.MANIFEST}", "w") as f:
        json.dump(m, f)
    assert not ix._layout_current(root)

    memo.clear("index_root")  # new application
    memo.clear("fresh")
    assert ix.store_for(spark, SF_DIR, "vecs") is None  # reader: live
    root2 = ix.ensure_index(spark, SF_DIR)  # index path: swap-upgrade
    assert root2 == root
    assert ix.read_manifest(root)["layout"] == ix._LAYOUT_VERSION
    store = ix.store_for(spark, SF_DIR, "vecs", require=True)
    assert "rs" in store.read(spark, "srp_sigs_wide").columns
    assert ix.knn_graph_capped_from_index(spark, SF_DIR).count() > 0


def test_staged_ingest_projection_key(spark):
    """ADVICE r12: differently-projected stagings of one table must
    never share a stage dir — the key carries the projection tag. A
    COMPLETED stage (its _SUCCESS exists) is served from the memo; an
    unstaged entry is re-minted (the freshness guard)."""
    from pyspark.sql import functions as F

    from gmallbiguan_parent_spark.io import load_table
    from gmallbiguan_parent_spark.streaming.queries import (
        _ensure_staged, _staged_ingest_src,
    )

    proj = _staged_ingest_src(spark, SF_DIR, "embeddings", 4, proj="vec_id_v")
    _ensure_staged(
        spark, SF_DIR, proj, "embeddings", 4,
        df=load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
    )
    raw = _staged_ingest_src(spark, SF_DIR, "embeddings", 4)
    assert raw != proj, "raw staging served the projected stage"
    # completed projected stage is memo-served; the raw key never is
    assert _staged_ingest_src(spark, SF_DIR, "embeddings", 4, proj="vec_id_v") == proj


def test_no_trailing_empty_batch_scope_restores_conf(spark):
    """The noDataMicroBatches scope must restore the session conf on
    exit AND on raise — a leaked 'false' would silently drop the final
    window emission of every later append-mode windowed replay."""
    from gmallbiguan_parent_spark.streaming.pipelines import (
        _no_trailing_empty_batch,
    )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    with _no_trailing_empty_batch(spark):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == prev
    with pytest.raises(RuntimeError):
        with _no_trailing_empty_batch(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prev


def test_mp_confirmed_memo_policy(spark, monkeypatch):
    """Memo policy of the shared confirmed-pair relation: live and ONE
    store entry of a corpus coexist (alternating live / from_index
    calls must not thrash the checkpoint); a superseded store tag of
    the same corpus is evicted on insert; other corpora untouched."""
    import gmallbiguan_parent_spark.operators.similarity as sim

    class _Fake:
        def localCheckpoint(self, eager=True):
            return self

    monkeypatch.setattr(sim, "_mp_confirmed_pairs", lambda s, m: _Fake())

    def held() -> set[tuple[str, str]]:
        """(corpus, tag) of every confirmed-pair entry."""
        return {(k[0], tag) for k, (tag, _) in memo.entries("mp_confirmed").items()}

    sim._mp_confirmed_memo(spark, "/c1", "wide:live", None, [])
    sim._mp_confirmed_memo(spark, "/c1", "wide:store:/r:10", None, [])
    assert ("/c1", "wide:live") in held(), "live evicted by store insert"
    sim._mp_confirmed_memo(spark, "/c2", "wide:store:/r:10", None, [])
    # a refreshed store (new watermark) supersedes the old store entry
    sim._mp_confirmed_memo(spark, "/c1", "wide:store:/r:11", None, [])
    assert ("/c1", "wide:store:/r:10") not in held()
    assert ("/c1", "wide:live") in held()
    assert ("/c2", "wide:store:/r:10") in held(), "other corpus evicted"
    # the radius layout never shares a tag prefix with the wide layout
    sim._mp_confirmed_memo(spark, "/c1", "radius:live", None, [])
    assert ("/c1", "wide:store:/r:11") in held()


def test_build_threads_equal_artifacts(spark, tmp_path, monkeypatch):
    """The overlapped build (_BUILD_THREADS=3, the default) must write
    byte-equal artifact rows to the sequential build — parallelism is
    pure scheduling, never content."""
    import gmallbiguan_parent_spark.operators.index_store as ix

    seq_root, par_root = str(tmp_path / "seq"), str(tmp_path / "par")
    monkeypatch.setattr(ix, "_BUILD_THREADS", 1)
    m_seq = ix.build_index(spark, SF_DIR, seq_root)
    monkeypatch.setattr(ix, "_BUILD_THREADS", 3)
    m_par = ix.build_index(spark, SF_DIR, par_root)
    assert m_seq == m_par
    for name in ix._COMPACT_PARTS:
        a = sorted(
            map(str, spark.read.parquet(f"{seq_root}/{name}").collect())
        )
        b = sorted(
            map(str, spark.read.parquet(f"{par_root}/{name}").collect())
        )
        assert a == b, f"{name}: parallel build diverged"
