"""Round-9 operator tests: the production band cut of the multiprobe
near-dup screen (VERDICT r8 #2) and the index-store concurrency fixes
(ADVICE r8)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gmallbiguan_parent_spark import memo

SF_DIR = "/root/testdata/sf0.001"


def _planted_dir(spark, tmp_path, target_cosine: float, n_twins: int = 40):
    """A corpus dir whose embeddings are sf0.001's 500 vectors plus
    n_twins planted twins at an exact target cosine (deterministic
    perpendicular noise — the construction tools/srp_recall_probe.py
    validated the governor with). Returns (dir, planted_pairs) with the
    pair set built from the ACTUAL vec_ids captured at planting time —
    no positional assumption about collect() order or id contiguity."""
    import numpy as np

    rows = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    out = [(int(r.vec_id), [float(x) for x in r.embedding], int(r.label)) for r in rows]
    base = max(r.vec_id for r in rows) + 1
    planted = set()
    for i, r in enumerate(sorted(rows, key=lambda r: r.vec_id)[:n_twins]):
        v = np.array([float(x) for x in r.embedding])
        u = v / np.linalg.norm(v)
        rng = np.random.RandomState(int(r.vec_id) % (2**31))
        g = rng.standard_normal(u.shape)
        g -= (g @ u) * u
        g /= np.linalg.norm(g)
        w = target_cosine * u + (1 - target_cosine**2) ** 0.5 * g
        # keep the original's magnitude so the twin is a realistic row
        w = w * np.linalg.norm(v)
        out.append((base + i, [float(x) for x in w], int(r.label)))
        planted.add((min(int(r.vec_id), base + i), max(int(r.vec_id), base + i)))
    df = spark.createDataFrame(out, "vec_id bigint, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path), planted


def test_multiprobe_band_cuts_floor_tail_and_keeps_design_pairs(spark, tmp_path):
    """The band variant is EXACTLY the floor variant filtered at
    NEARDUP_BAND_COSINE (the cut exists in code, not prose), and every
    planted design-point twin pair survives it — the governed radius
    still delivers the recall the threshold relies on."""
    from gmallbiguan_parent_spark.operators.similarity import (
        NEARDUP_BAND_COSINE,
        SRP_DESIGN_COSINE,
        embedding_neardup_multiprobe,
        embedding_neardup_multiprobe_band,
    )

    sf, planted = _planted_dir(spark, tmp_path, SRP_DESIGN_COSINE)
    floor_rows = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_multiprobe(spark, sf).collect()
    }
    band_rows = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_multiprobe_band(spark, sf).collect()
    }
    # exact filter relation: band == floor restricted to >= band threshold
    assert band_rows == {
        k: c for k, c in floor_rows.items() if c >= NEARDUP_BAND_COSINE
    }
    # the cut is real on this corpus: the floor admits sub-band pairs
    assert any(c < NEARDUP_BAND_COSINE for c in floor_rows.values())
    assert all(c >= NEARDUP_BAND_COSINE for c in band_rows.values())
    # recall at the design point: planted twins land in the band output
    # (target 0.99 at the design cosine; 40 twins -> tolerate one miss)
    recovered = planted & set(band_rows)
    assert len(recovered) >= len(planted) - 1, (
        f"only {len(recovered)}/{len(planted)} design-point twins in band output"
    )


def test_persisted_root_sees_mid_session_corpus_growth(spark, tmp_path, monkeypatch):
    """ADVICE r8: the staleness verdict must not be pinned for the whole
    session — growing the corpus after a warm query flips store_for
    to None on the NEXT query (no silent omission of new rows)."""
    import shutil

    from gmallbiguan_parent_spark.operators import index_store

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    # the remaining tables aren't consulted by the vecs/docs families
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    memo.clear("index_root")
    memo.clear("fresh")
    store = index_store.store_for(spark, str(sf), "vecs")
    assert store is not None  # fresh build adopted
    # grow the corpus: append one vector past the manifest watermark
    grown = spark.read.parquet(str(sf / "embeddings.parquet"))
    extra = grown.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    (
        grown.unionByName(extra)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(sf / "embeddings_new.parquet"))
    )
    (sf / "embeddings.parquet").unlink()
    shutil.move(str(sf / "embeddings_new.parquet"), str(sf / "embeddings.parquet"))
    assert index_store.store_for(spark, str(sf), "vecs") is None, (
        "stale store served after mid-session corpus growth"
    )


def test_multiprobe_wide_recovers_design_point_twins(spark, tmp_path):
    """The wide governor (tables at radius 1 instead of radius 2 on 4
    tables) meets the same design-point recall contract: planted twins
    at SRP_DESIGN_COSINE land in the output, and the emitted relation
    is confirmed at the same floor threshold as the radius form."""
    from gmallbiguan_parent_spark.operators.similarity import (
        NEARDUP_COSINE,
        SRP_DESIGN_COSINE,
        embedding_neardup_multiprobe_wide,
    )

    sf, planted = _planted_dir(spark, tmp_path, SRP_DESIGN_COSINE)
    rows = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_multiprobe_wide(spark, sf).collect()
    }
    assert all(c >= NEARDUP_COSINE for c in rows.values())
    recovered = planted & set(rows)
    assert len(recovered) >= len(planted) - 1, (
        f"only {len(recovered)}/{len(planted)} design-point twins recovered"
    )
