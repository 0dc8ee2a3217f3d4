"""Round-11 operator tests.

1. The quantile-derived posting cap (VERDICT r10 #2): the production
   sizing of the posting budget must (a) respect the floor that keeps
   pair emission possible, (b) stay a subset of the complete form with
   identical verify semantics, (c) dominate-or-equal the pinned
   gate-scale cap (a p99-derived budget can never be SMALLER than the
   floor, so it sheds no more than the pinned cap does), and (d) ship
   a self-describing overflow report whose arithmetic is integer-exact.

2. The planted-leak band-decontamination gate variant (VERDICT r10 #1):
   the plant must make the band screen's output NON-empty at gate
   scale — exact-copy plants confirmed at the drop point, and the
   overall report consistent with the unplanted screen on unplanted
   ids.
"""

from __future__ import annotations

from gmallbiguan_parent_spark import memo

SF_DIR = "/root/testdata/sf0.01"


def test_posting_cap_p99_floor_and_subset(spark):
    from gmallbiguan_parent_spark.operators.dedup import (
        POSTING_CAP_FLOOR,
        prefix_jaccard_pairs,
        prefix_jaccard_pairs_capped,
        prefix_jaccard_pairs_capped_p99,
        prefix_posting_overflow_p99,
    )

    over = prefix_posting_overflow_p99(spark, SF_DIR).collect()[0]
    assert int(over.cap) >= POSTING_CAP_FLOOR
    assert int(over.over_tokens) > 0, "derived cap never engaged — vacuous"
    assert int(over.dropped_pair_slots) > 0
    # integer pair-slot arithmetic: slots dropped from a list of sz docs
    # is C(sz,2)-C(cap,2) — with max_posting and over_tokens it must
    # bound the total
    cap = int(over.cap)
    mp = int(over.max_posting)
    assert mp > cap
    upper = int(over.over_tokens) * (mp * (mp - 1) // 2 - cap * (cap - 1) // 2)
    assert 0 < int(over.dropped_pair_slots) <= upper

    complete = {
        (r.doc_a, r.doc_b): (r.inter_ct, r.jaccard)
        for r in prefix_jaccard_pairs(spark, SF_DIR).collect()
    }
    p99 = {
        (r.doc_a, r.doc_b): (r.inter_ct, r.jaccard)
        for r in prefix_jaccard_pairs_capped_p99(spark, SF_DIR).collect()
    }
    pinned = {
        (r.doc_a, r.doc_b)
        for r in prefix_jaccard_pairs_capped(spark, SF_DIR).collect()
    }
    assert set(p99) <= set(complete)
    for k, v in p99.items():
        assert complete[k] == v
    # derived cap >= pinned gate cap here, so the p99 form keeps at
    # least every pair the pinned form keeps
    assert pinned <= set(p99)


def test_containment_cap_p99_per_side_and_subset(spark):
    from gmallbiguan_parent_spark.operators.dedup import (
        POSTING_CAP_FLOOR,
        containment_pairs,
        containment_pairs_capped_p99,
        containment_posting_overflow_p99,
    )

    over = {r.side: r for r in containment_posting_overflow_p99(spark, SF_DIR).collect()}
    assert set(over) == {"contained_prefix", "container_full"}
    for side, r in over.items():
        assert int(r.cap) >= POSTING_CAP_FLOOR
    # the container-full side is the denser table: its cap must engage
    assert int(over["container_full"].over_tokens) > 0
    assert int(over["container_full"].dropped_posting_rows) > 0

    complete = {
        (r.doc_a, r.doc_b): (r.inter_ct, r.containment)
        for r in containment_pairs(spark, SF_DIR).collect()
    }
    p99 = {
        (r.doc_a, r.doc_b): (r.inter_ct, r.containment)
        for r in containment_pairs_capped_p99(spark, SF_DIR).collect()
    }
    assert set(p99) <= set(complete)
    for k, v in p99.items():
        assert complete[k] == v


def test_decontaminate_band_planted_flags_plants(spark):
    from gmallbiguan_parent_spark.operators.similarity import (
        DECON_PLANT_COPY_OFFSET,
        DECON_PLANT_EVERY,
        DECON_PLANT_ZERO_OFFSET,
        SEM_DECON_BAND_DROP,
        semantic_decontaminate_band,
        semantic_decontaminate_band_planted,
    )

    rows = semantic_decontaminate_band_planted(spark, SF_DIR).collect()
    assert rows, "planted gate variant emitted nothing — vacuous again"
    by_id = {r.vec_id: r for r in rows}

    # every exact-copy plant must be flagged at the drop point with
    # cosine 1.0; nearest_bench equals the source ONLY when the source
    # direction is unique among bench vectors (ADVICE r11: a cosine-1.0
    # tie between two identical bench vectors legitimately resolves to
    # the lower id — membership in the tied set is the contract-derived
    # assertion, exact equality is the unique-source special case)
    copy_ids = [i for i in by_id if i >= DECON_PLANT_COPY_OFFSET
                and i < DECON_PLANT_ZERO_OFFSET]
    assert copy_ids, "no exact-copy plant was flagged"

    import math

    import pyspark.sql.functions as F

    from gmallbiguan_parent_spark.io import load_table_spread

    def _direction(v):
        n = math.sqrt(sum(x * x for x in v))
        return tuple(round(x / n, 9) for x in v) if n else tuple(v)

    bench_dirs: dict[tuple, list[int]] = {}
    for row in (
        load_table_spread(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % 17 == 0)
        .select("vec_id", "embedding")
        .collect()
    ):
        bench_dirs.setdefault(_direction(row.embedding), []).append(row.vec_id)

    bench_by_id = {i: d for d, ids in bench_dirs.items() for i in ids}
    for i in copy_ids:
        r = by_id[i]
        assert r.decision == "drop"
        assert r.max_cosine == 1.0
        src = i - DECON_PLANT_COPY_OFFSET
        assert src % (17 * DECON_PLANT_EVERY) == 0
        tied = bench_dirs[bench_by_id[src]]
        if len(tied) == 1:
            assert r.nearest_bench == src
        else:
            assert r.nearest_bench in tied

    # the plant only ADDS rows: on unplanted ids the report must agree
    # with the unplanted band screen exactly
    base = {r.vec_id: r for r in semantic_decontaminate_band(spark, SF_DIR).collect()}
    unplanted = {
        i: r for i, r in by_id.items() if i < DECON_PLANT_COPY_OFFSET
    }
    assert set(unplanted) == set(base)
    for i, r in unplanted.items():
        assert (r.hit_ct, r.max_cosine, r.nearest_bench, r.decision) == (
            base[i].hit_ct, base[i].max_cosine, base[i].nearest_bench, base[i].decision
        )
    assert all(
        r.decision == "drop" for r in rows if r.max_cosine >= SEM_DECON_BAND_DROP
    )


def test_knn_graph_published_lifecycle(spark, tmp_path, monkeypatch):
    """The capped graph as a derived store table (VERDICT r10 #3):
    publish writes the artifact + commit meta, the read returns the
    IDENTICAL graph, a re-publish is a no-op, and a stale meta
    (corpus-watermark or budget drift) makes the artifact invisible so
    the query re-derives and republishes instead of serving stale
    edges."""
    import json
    import os

    import gmallbiguan_parent_spark.operators.index_store as ix
    from gmallbiguan_parent_spark.operators.similarity import knn_graph_wide_capped

    sf = "/root/testdata/sf0.001"
    memo.clear("index_root")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))

    live = {
        (r.src, r.rank, r.dst, r.cosine)
        for r in knn_graph_wide_capped(spark, sf).collect()
    }
    pub = {
        (r.src, r.rank, r.dst, r.cosine)
        for r in ix.knn_graph_capped_published(spark, sf).collect()
    }
    assert pub == live and pub

    root = ix.ensure_index(spark, sf)
    meta_p = f"{root}/knn_graph_capped/{ix._GRAPH_META}"
    assert ix._graph_meta_current(root)
    mtime = os.path.getmtime(meta_p)
    ix.publish_knn_graph(spark, sf)  # current → no-op, no rewrite
    assert os.path.getmtime(meta_p) == mtime

    # stale meta (pretend the corpus grew past the published watermark)
    with open(meta_p) as f:
        meta = json.load(f)
    meta["vec_watermark"] = -1
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    assert not ix._graph_meta_current(root)
    again = {
        (r.src, r.rank, r.dst, r.cosine)
        for r in ix.knn_graph_capped_published(spark, sf).collect()
    }
    assert again == live
    assert ix._graph_meta_current(root)  # republished + re-stamped
