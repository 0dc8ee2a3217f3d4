"""Round-12 operator tests.

1. The planted near-dup band gate variant (VERDICT r11 #1): the last
   0-row hash-match in the driver window was
   embedding_neardup_multiprobe_band — at gate scale no real pair sits
   above the 0.8 band, so the row certified the schema of nothing. The
   planted form reuses the decontamination fixture (exact copies at
   cosine 1.0, zero-prefix twins at ~0.83) so the band emit is
   NON-empty, and on unplanted pairs must equal the production
   wide-band screen exactly.

2. The single-sized-relation p99 derivation (VERDICT r11 #3): the
   shared posting-sizes checkpoint must leave every p99 twin's output
   bit-identical to before the refactor (subset/floor relations of
   test_round11_ops still hold — these tests only pin the new shared
   plumbing's agreement surface).
"""

from __future__ import annotations

from gmallbiguan_parent_spark import memo

SF_DIR = "/root/testdata/sf0.01"


def test_neardup_band_planted_emits_plants(spark):
    from gmallbiguan_parent_spark.operators.similarity import (
        DECON_PLANT_COPY_OFFSET,
        DECON_PLANT_EVERY,
        DECON_PLANT_ZERO_OFFSET,
        NEARDUP_BAND_COSINE,
        embedding_neardup_band_planted,
        embedding_neardup_wide_band,
    )

    rows = embedding_neardup_band_planted(spark, SF_DIR).collect()
    assert rows, "planted band variant emitted nothing — vacuous again"
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in rows}
    assert all(c >= NEARDUP_BAND_COSINE for c in pairs.values())

    # every exact-copy plant pairs with its own source at cosine 1.0 —
    # identical vector -> identical signature in every table -> the
    # mask-0 probe guarantees the candidate; emit is unconditional
    import pyspark.sql.functions as F

    from gmallbiguan_parent_spark.io import load_table_spread

    srcs = [
        r.vec_id
        for r in load_table_spread(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % (17 * DECON_PLANT_EVERY) == 0)
        .select("vec_id")
        .collect()
    ]
    assert srcs, "fixture broken: no plant sources at this sf"
    for s in srcs:
        key = (s, s + DECON_PLANT_COPY_OFFSET)
        assert key in pairs, f"exact-copy plant pair {key} missing"
        assert pairs[key] == 1.0

    # the plant only ADDS pairs: restricted to unplanted ids the output
    # must equal the production wide-band screen exactly
    base = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_wide_band(spark, SF_DIR).collect()
    }
    unplanted = {
        k: c for k, c in pairs.items()
        if k[0] < DECON_PLANT_COPY_OFFSET and k[1] < DECON_PLANT_COPY_OFFSET
    }
    assert unplanted == base

    # zero-prefix twins sit in the band (~0.83) when their candidate
    # lands; any that were emitted must carry a sub-drop-point cosine
    zero_pairs = [
        c for (a, b), c in pairs.items()
        if b >= DECON_PLANT_ZERO_OFFSET and a < DECON_PLANT_COPY_OFFSET
    ]
    for c in zero_pairs:
        assert NEARDUP_BAND_COSINE <= c < 1.0


def test_p99_shared_sizes_relation_agreement(spark):
    """The r12 single-sized-relation refactor must not move a single
    output value: the derived cap, the overflow accounting, and the
    pair sets all pin against the independently-computed raw
    distribution."""
    import pyspark.sql.functions as F

    from gmallbiguan_parent_spark.operators.dedup import (
        PREFIX_DEN,
        PREFIX_NUM,
        POSTING_CAP_FLOOR,
        POSTING_CAP_QUANTILE,
        _ordered_token_arrays,
        _prefix_posting,
        prefix_posting_overflow_p99,
    )

    over = prefix_posting_overflow_p99(spark, SF_DIR).collect()[0]

    # independent recomputation of the p99 cap from the raw postings
    sizes = sorted(
        r.sz
        for r in _prefix_posting(
            _ordered_token_arrays(spark, SF_DIR), PREFIX_NUM, PREFIX_DEN
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("sz"))
        .collect()
    )
    import math

    k = math.ceil(POSTING_CAP_QUANTILE * len(sizes))
    expect = max(sizes[k - 1], POSTING_CAP_FLOOR)
    assert int(over.cap) == expect

    dropped = sum(
        s * (s - 1) // 2 - expect * (expect - 1) // 2
        for s in sizes
        if s > expect
    )
    assert int(over.dropped_pair_slots) == dropped
    assert int(over.over_tokens) == sum(1 for s in sizes if s > expect)
    assert int(over.max_posting) == (max((s for s in sizes if s > expect), default=0))


def test_sweep_orphan_graph_dirs(tmp_path, monkeypatch):
    """ADVICE r11: a crashed publisher with a different pid must not
    leak its stage/stale dirs forever — but a LIVE pid's stage (a
    concurrent publisher mid-build) must be left untouched, and a
    dead-LOOKING pid's dir is swept only after the age floor (a
    publisher in another pid namespace sharing the index volume looks
    dead to the local probe while alive — its fresh stage must
    survive)."""
    import os

    import gmallbiguan_parent_spark.operators.index_store as ix

    path = str(tmp_path / "knn_graph_capped")
    dead = f"{path}.build.999999999"  # above pid_max: never a live pid
    mine = f"{path}.build.{os.getpid()}"
    live = f"{path}.stale.1"          # pid 1 is always alive
    junk = f"{path}.build.notapid"
    for d in (dead, mine, live, junk):
        os.makedirs(d)
    # freshly-touched dead-pid dir: may be a live foreign-namespace
    # publisher — the sweep must retain it until the age floor passes
    ix._sweep_orphan_graph_dirs(path)
    assert os.path.isdir(dead)
    assert not os.path.isdir(junk)   # unparseable: removed regardless
    monkeypatch.setattr(ix, "_SWEEP_MIN_AGE_S", 0)
    ix._sweep_orphan_graph_dirs(path)
    assert not os.path.isdir(dead)
    assert os.path.isdir(mine)   # own stage: managed by the publish flow
    assert os.path.isdir(live)   # live foreign publisher: untouched


def _stale_tree(root, fresh_leaf: bool) -> None:
    """A dead-pid stage tree whose every entry is two hours old, except
    (when fresh_leaf) one task file three levels down."""
    import os
    import time

    deep = root / "_temporary" / "0" / "task_0"
    deep.mkdir(parents=True)
    (deep / "part-00000.parquet").write_bytes(b"x")
    (root / "meta.json").write_text("{}")
    old = time.time() - 7200
    for sub, dirs, files in os.walk(root, topdown=False):
        for name in files + dirs:
            os.utime(os.path.join(sub, name), (old, old))
    os.utime(root, (old, old))
    if fresh_leaf:
        now = time.time()
        os.utime(deep / "part-00000.parquet", (now, now))


def test_sweep_keeps_stale_tree_with_one_fresh_deep_file(tmp_path):
    """_tree_max_mtime stops at the first recent entry; a fresh task
    file deep under an otherwise two-hour-old stage still keeps it."""
    import time

    import gmallbiguan_parent_spark.operators.index_store as ix

    path = str(tmp_path / "knn_graph_capped")
    dead = tmp_path / "knn_graph_capped.build.999999999"
    _stale_tree(dead, fresh_leaf=True)
    assert time.time() - ix._tree_max_mtime(str(dead)) < 60
    ix._sweep_orphan_graph_dirs(path)
    assert dead.is_dir()


def test_tree_max_mtime_stops_at_first_recent_entry(tmp_path, monkeypatch):
    import os

    import gmallbiguan_parent_spark.operators.index_store as ix

    for i in range(50):
        (tmp_path / f"part-{i:05d}.parquet").write_bytes(b"x")
    calls = []
    real = os.path.getmtime
    monkeypatch.setattr(os.path, "getmtime", lambda p: calls.append(p) or real(p))
    ix._tree_max_mtime(str(tmp_path))
    assert len(calls) == 1   # the fresh top-level dir answers the question


def test_sweep_removes_fully_stale_tree(tmp_path):
    import gmallbiguan_parent_spark.operators.index_store as ix

    path = str(tmp_path / "knn_graph_capped")
    dead = tmp_path / "knn_graph_capped.build.999999999"
    _stale_tree(dead, fresh_leaf=False)
    ix._sweep_orphan_graph_dirs(path)
    assert not dead.exists()


def test_publish_graph_watermark_drift_retry(spark, tmp_path, monkeypatch):
    """ADVICE r11 TOCTOU: an ingest that lands mid-build must not get
    its watermark stamped onto a graph derived from the older corpus —
    publish discards the drifted build and re-derives, and the final
    meta watermark equals the manifest's at commit time."""
    import json

    import gmallbiguan_parent_spark.operators.index_store as ix

    sf = "/root/testdata/sf0.001"
    memo.clear("index_root")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = ix.ensure_index(spark, sf)

    real_derive = ix.knn_graph_capped_from_index
    state = {"bumped": False, "derives": 0}

    def deriving(sp, s):
        state["derives"] += 1
        if not state["bumped"]:
            # simulate a concurrent ingest landing mid-build: the
            # manifest watermark moves AFTER publish read its pre-value
            state["bumped"] = True
            mp = f"{root}/{ix.MANIFEST}"
            with open(mp) as f:
                m = json.load(f)
            m["vec_watermark"] = (m.get("vec_watermark") or 0) + 1
            with open(mp, "w") as f:
                json.dump(m, f)
        return real_derive(sp, s)

    monkeypatch.setattr(ix, "knn_graph_capped_from_index", deriving)
    path = ix.publish_knn_graph(spark, sf)
    assert state["derives"] == 2, "drifted build was not discarded+retried"
    assert ix._graph_meta_current(root)
    with open(f"{path}/{ix._GRAPH_META}") as f:
        meta = json.load(f)
    assert meta["vec_watermark"] == ix.read_manifest(root)["vec_watermark"]


def test_state_partition_derivation(spark):
    """Stateful replays size their state-store count from the corpus's
    own key estimate (guide §2: scale-adaptive partitioning, never a
    constant): ceil(est/512) clamped to [1, cores]. At production key
    volumes the estimate exceeds cores x 512 long before 1% of any real
    corpus, so a cluster keeps the cores-wide layout."""
    from gmallbiguan_parent_spark.streaming.pipelines import (
        STATE_KEYS_PER_STORE, _state_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    assert _state_partitions(spark, 0) == 1
    assert _state_partitions(spark, 3) == 1
    assert _state_partitions(spark, STATE_KEYS_PER_STORE) == 1
    assert _state_partitions(spark, STATE_KEYS_PER_STORE + 1) == min(2, cores)
    assert _state_partitions(spark, 1500) == min(3, cores)
    # production regime: est >> cores*512 -> capped at session cores
    assert _state_partitions(spark, 10**9) == cores


def test_stateful_replay_parts_restores_conf(spark):
    """The shuffle-partition override is scoped to the stream start:
    whatever batch work follows must see the session's own value again,
    including when the replay raises."""
    from gmallbiguan_parent_spark.streaming.pipelines import (
        _stateful_replay_parts,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with _stateful_replay_parts(spark, 3):
        assert spark.conf.get(key) == "1"
    assert spark.conf.get(key) == prev
    try:
        with _stateful_replay_parts(spark, 3):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == prev


def test_events_key_stats_memo_and_values(spark):
    """One tiny stats job per (application, corpus); the memoized tuple
    must equal a direct recomputation of the same aggregates."""
    from pyspark.sql import functions as F

    from gmallbiguan_parent_spark.streaming.pipelines import _events_key_stats

    got = _events_key_stats(spark, SF_DIR)
    assert _events_key_stats(spark, SF_DIR) is got  # memo hit
    assert memo.entries("events_key_stats")[SF_DIR] == (None, got)

    from gmallbiguan_parent_spark.io import load_table

    ev = load_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("u"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("s"),
        F.count("*").alias("n"),
    ).first()
    assert got == (int(row["u"]), int(row["s"]), int(row["n"]))


def test_staged_ingest_src_memo(spark, tmp_path, monkeypatch):
    """The staged multi-file ingest SOURCE is reused within a session
    only while its _SUCCESS marker exists — a failed or missing staging
    can never be served from the memo."""
    import os

    import gmallbiguan_parent_spark.streaming.queries as sq

    # a corpus path of this test's own, so the stub stage never reaches
    # another test's memo slot
    sf = str(tmp_path / "corpus")
    made = []
    monkeypatch.setattr(
        sq, "_scratch", lambda p: made.append(p) or str(tmp_path / f"{p}x")
    )
    s1 = sq._staged_ingest_src(spark, sf, "documents", 4)
    # no _SUCCESS yet: the memo must NOT serve the unstaged path
    s2 = sq._staged_ingest_src(spark, sf, "documents", 4)
    assert s2 == s1 and len(made) == 2  # same scratch (deterministic stub), but re-derived
    os.makedirs(f"{s1}/documents", exist_ok=True)
    open(f"{s1}/documents/_SUCCESS", "w").close()
    s3 = sq._staged_ingest_src(spark, sf, "documents", 4)
    assert s3 == s1 and len(made) == 2  # now a true memo hit on the staged copy


def test_containment_sizes_pair_agreement(spark):
    """The one-pass conditional-count sizes derivation must equal the
    per-side groupBys it replaced, row for row — and therefore derive
    the identical per-side caps."""
    from pyspark.sql import functions as F

    from gmallbiguan_parent_spark.operators.dedup import (
        _containment_postings, _containment_sizes_pair,
        _ordered_token_arrays, _posting_cap_from_sizes,
        _posting_cap_quantile,
    )

    a_prefix, b_full = _containment_postings(
        _ordered_token_arrays(spark, SF_DIR)
    )
    sizes_a, sizes_b = _containment_sizes_pair(b_full)

    def rows(df):
        return sorted((r["tok"], r["sz"]) for r in df.collect())

    ref_a = a_prefix.groupBy("tok").agg(F.count(F.lit(1)).alias("sz"))
    ref_b = b_full.groupBy("tok").agg(F.count(F.lit(1)).alias("sz"))
    assert rows(sizes_a) == rows(ref_a)
    assert rows(sizes_b) == rows(ref_b)
    assert (
        _posting_cap_from_sizes(sizes_a).first()["cap"]
        == _posting_cap_quantile(a_prefix).first()["cap"]
    )
    assert (
        _posting_cap_from_sizes(sizes_b).first()["cap"]
        == _posting_cap_quantile(b_full).first()["cap"]
    )
