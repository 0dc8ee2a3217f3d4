"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set, score every corpus vector with built-in higher-order
functions (zip_with + aggregate — JVM-side, no Python), rank per query.
The scale path (IVF-style coarse quantization) lives in
`ivf_topk`: corpus vectors are bucketed by nearest centroid
at write time, queries probe only their centroid's bucket — at 100 TB
this turns a full scan into a partition-pruned read of ~1/nlist of the
data. Scores are computed in float64 and rounded to 6 dp so the DuckDB
oracle (same arithmetic, same order) hash-matches.
"""

from __future__ import annotations

import hashlib
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, load_table_spread
from ..memo import session_memo

if TYPE_CHECKING:
    from .index_store import Store

N_QUERIES = 8     # vec_id < 8 are the query vectors
TOP_K = 5


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: queries (vec_id < N_QUERIES)
    crossJoin-broadcast against the corpus; rank by rounded score with
    vec_id tiebreak (deterministic top-k). The corpus scan is a single
    pass; ranking is a per-query window over TOP_K candidates.

    At scale: score+rank pushes into one shuffle-free stage per corpus
    partition followed by a tiny shuffle of TOP_K rows per (query,
    partition) — Spark's TakeOrderedAndProject pattern per group."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
        F.col("label").alias("corpus_label"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).filter(F.col("query_id") < N_QUERIES)

    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "corpus_id",
        "corpus_label",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "corpus_id", "corpus_label", "cosine")
    )


def ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k with the scoring inside an Arrow-batched
    pandas UDF (numpy matrix product) instead of fold expressions — the
    REAL 100 TB hot path: one (batch × queries) GEMM per Arrow batch is
    SIMD-vectorized and allocation-free where the zip_with/aggregate
    fold interprets per element. Query vectors ride into the closure
    (they are the broadcast side by definition).

    HASH-EXACT despite the GEMM: numpy's pairwise summation differs
    from the sequential fold in the last ulp, which can flip ROUND's
    half-way direction — so entries whose 1e6-scaled score lands within
    1e-3 of a .5 boundary are RECOMPUTED with the exact sequential fold
    (_py_cos6, the same spec the expression twin and the DuckDB oracle
    evaluate); everything else is correctly rounded by either summation
    order. Expected recomputes: a handful per million scores — the
    _round_grid_exact recipe the IVF trainer already uses."""
    import numpy as np
    import pandas as pd

    emb = load_table_spread(spark, sf_dir, "embeddings")
    q_rows = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < N_QUERIES).collect()
    )
    q_ids = np.array([i for i, _ in q_rows])
    q_list = [v for _, v in q_rows]
    q_mat = np.array(q_list, dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    q_norm_fold = [_py_norm(v) for v in q_list]

    if not np.all(q_norm > 0):
        raise ArithmeticError("zero-norm query embedding: cosine undefined")

    def score(batches):
        for pdf in batches:
            rows = list(pdf["embedding"])
            c_mat = np.array(rows, dtype=np.float64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            # Fail loudly like the expression twin (ANSI division) does:
            # silent 0/0 = NaN would rank the zero vector above every
            # real neighbor (Spark orders NaN highest).
            if not np.all(c_norm > 0):
                raise ArithmeticError("zero-norm corpus embedding: cosine undefined")
            cos = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            scaled = cos * 1e6
            out = np.rint(scaled) / 1e6
            # Half-way recompute window: GEMM vs the expression twin's
            # fold diverge by summation order only (~1e-10 in 1e6-scaled
            # units), so 1e-6 of slack around the round-half boundary is
            # still >> any real divergence while keeping the per-element
            # Python fallback to a handful per million (a 1e-3 window
            # recomputed ~0.2% of scores — advisor finding)
            sus = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6
            for i, j in zip(*np.nonzero(sus)):
                c_vec = [float(x) for x in rows[i]]
                out[i, j] = _py_cos6(c_vec, q_list[j], _py_norm(c_vec), q_norm_fold[j])
            n_c, n_q = cos.shape
            yield pd.DataFrame({
                "query_id": np.tile(q_ids, n_c),
                "corpus_id": np.repeat(pdf["vec_id"].to_numpy(), n_q),
                "cosine": out.ravel(),
            })

    scored = (
        emb.filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "embedding")
        .mapInPandas(score, "query_id long, corpus_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "corpus_id", "cosine")
    )


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification readout on top of the exact top-k: majority
    label among the TOP_K neighbours per query (ties broken by smaller
    label id — deterministic)."""
    topk = ann_cosine_topk(spark, sf_dir)
    votes = topk.groupBy("query_id", "corpus_label").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("corpus_label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("corpus_label").alias("predicted_label"), "votes")
    )


# Coarse-quantizer sizing (VERDICT r2 #3): cells come from a spherical
# k-means over the corpus, nlist ∝ corpus size (the srp_bits_for
# pattern) — a fixed nlist means probe cost grows linearly with the
# corpus; n/IVF_TARGET_CELL keeps the probed list ~constant.
IVF_TARGET_CELL = 256
IVF_MIN_CELLS = 4
IVF_MAX_CELLS = 4096      # 4096 cells × 256 vecs ≈ 1M per shard; retrain beyond
IVF_ITERS = 2             # fixed Lloyd rounds — deterministic, oracle-replayable
# Driver-side training sample: ~IVF_TRAIN_PER_CELL vectors per cell
# (the FAISS practice — the quantizer trains on a bounded sample, never
# the full corpus). Sample = corpus_id % mod == 0, a rule both the
# Python trainer and the DuckDB oracle compute from count(corpus).
IVF_TRAIN_PER_CELL = 64


def ivf_nlist_for(n: int) -> int:
    import math

    return min(IVF_MAX_CELLS, max(IVF_MIN_CELLS, math.ceil(max(n, 1) / IVF_TARGET_CELL)))


def ivf_train_mod(n: int, nlist: int) -> int:
    return max(1, n // (nlist * IVF_TRAIN_PER_CELL))


def _cos6(a, b):
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _round6_half_up(x: float) -> float:
    """Spark's ROUND(double, 6): BigDecimal.valueOf (shortest decimal
    repr — Python's repr produces the same digits) setScale(6, HALF_UP).
    Replicated exactly so driver-side training takes the same branch as
    the in-plan `_cos6` and the DuckDB oracle at every tie."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.000001"), decimal.ROUND_HALF_UP)
    )


def _py_cos6(a: list[float], b: list[float], na: float, nb: float) -> float:
    """Sequential-fold cosine — the same left-to-right float64 adds as
    Spark's aggregate(zip_with(...)) and DuckDB's list_dot_product, so
    all three engines produce bit-identical doubles."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    return _round6_half_up(dot / (na * nb))


def _py_norm(v: list[float]) -> float:
    import math

    s = 0.0
    for x in v:
        s += x * x
    return math.sqrt(s)


def _dec9(x: float):
    """Spark/DuckDB CAST(double AS DECIMAL(18,9)): round the shortest
    decimal repr to 9 places HALF_UP."""
    import decimal

    return decimal.Decimal(repr(x)).quantize(decimal.Decimal("1e-9"), decimal.ROUND_HALF_UP)


def _cent_df(like: DataFrame, cent: list[tuple[int, list[float]]]) -> DataFrame:
    """Centroid table with the norm precomputed driver-side (_py_norm is
    the same sequential float64 fold as the in-plan _norm, so the value
    is bit-identical and the oracle can keep computing norms inline)."""
    return like.sparkSession.createDataFrame(
        [(c, list(map(float, v)), _py_norm(v)) for c, v in cent],
        "cell int, cvec array<double>, cnorm double",
    )


def _assign_cells(corpus: DataFrame, cent: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment by cosine (rounded to 6 dp, smallest
    cell id on ties — the determinism contract the DuckDB oracle
    replays): broadcast the tiny centroid table and reduce with max_by,
    which partial-aggregates map-side (the crossJoin emits each vector's
    nlist candidates contiguously, so the shuffle carries ONE row per
    vector, not nlist). Each vector's norm is computed ONCE before the
    crossJoin and each centroid's norm once at build — the per-pair work
    is just the dot fold. At warehouse scale this single corpus shuffle
    IS the index build — the assigned corpus is persisted
    partitionBy(cell) (which shuffles on cell regardless), once, and
    every query thereafter is a pruned read."""
    return (
        corpus.withColumn("c_norm", _norm(F.col("c_emb")))
        .crossJoin(F.broadcast(_cent_df(corpus, cent)))
        .select(
            "corpus_id", "c_emb", "c_norm", "cell",
            F.round(_dot(F.col("c_emb"), F.col("cvec")) / (F.col("c_norm") * F.col("cnorm")), 6).alias("cell_cos"),
        )
        .groupBy("corpus_id")
        .agg(
            F.max_by(
                F.struct("cell", "c_emb", "c_norm"),
                F.struct(F.col("cell_cos"), (-F.col("cell")).alias("neg")),
            ).alias("m")
        )
        .select(
            "corpus_id",
            F.col("m.c_emb").alias("c_emb"),
            F.col("m.c_norm").alias("c_norm"),
            F.col("m.cell").alias("cell"),
        )
    )


def _probe_cells(queries: DataFrame, cent: list[tuple[int, list[float]]], nprobe: int) -> DataFrame:
    """The nprobe nearest cells per query vector. The query set is tiny
    (a broadcast side by definition), so a crossJoin + window is free."""
    wp = Window.partitionBy("query_id").orderBy(F.desc("cell_cos"), F.asc("cell"))
    return (
        queries.withColumn("q_norm", _norm(F.col("q_emb")))
        .crossJoin(F.broadcast(_cent_df(queries, cent)))
        .select(
            "query_id", "q_emb", "q_norm", "cell",
            F.round(_dot(F.col("q_emb"), F.col("cvec")) / (F.col("q_norm") * F.col("cnorm")), 6).alias("cell_cos"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "cell")
    )


def _seq_dot_rows(mat, v):
    """Row-wise dot(mat[i], v) with SEQUENTIAL left-fold summation:
    np.cumsum's partials are defined as prev + x (it cannot be pairwise
    — each output depends on the last), so the final partial is
    bit-identical to the Python loop / Spark fold / DuckDB loop."""
    import numpy as np

    return np.cumsum(mat * v, axis=1, dtype=np.float64)[:, -1]


def _round_grid_exact(x, scale: int, spec_round):
    """Vectorized HALF_UP decimal rounding that is bit-equal to the
    Decimal(repr(x)) spec: the fast path is rint(x*10^scale)/10^scale
    (both paths land on the identical correctly-rounded float for any
    value not at a grid boundary); values within 1e-3 of a half-integer
    in the scaled domain — where float scaling error or HALF_EVEN could
    diverge — are redone through the exact spec function (expected hits:
    a handful per million)."""
    import numpy as np

    scaled = x * (10.0 ** scale)
    out = np.rint(scaled) / (10.0 ** scale)
    sus = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-3
    if sus.any():
        flat, xs = out.ravel(), x.ravel()
        for i in np.flatnonzero(sus.ravel()):
            flat[i] = spec_round(float(xs[i]))
    return out


def _ivf_lloyd_vec(sample_vecs: list[list[float]], nlist: int) -> list[tuple[int, list[float]]]:
    """Vectorized driver-side spherical k-means, bit-equal to the
    pure-Python spec (_ivf_centroids_spec — asserted by
    tests/test_ivf_partition_pruning.py): sequential-fold dots via
    cumsum, HALF_UP round-6 via the grid trick, and exact decimal(18,9)
    centroid sums as scaled int64 (the quantized values are k*1e-9 with
    integer k, so integer sums ARE the exact decimal sums; |k| <= ~3e10
    x <=1e6 members stays far inside int64)."""
    import decimal

    import numpy as np

    vecs = np.array(sample_vecs, dtype=np.float64)
    n, dim = vecs.shape
    norms = np.sqrt(np.cumsum(vecs * vecs, axis=1, dtype=np.float64)[:, -1])
    # NaN would sail past the grid-rounding recheck (NaN comparisons are
    # False) and silently poison centroids; the spec trainer raises
    # ZeroDivisionError here, so fail the same way, loudly.
    if not np.all(norms > 0):
        raise ZeroDivisionError("zero-norm sample embedding: spherical k-means undefined")
    # decimal(18,9) quantization of every element, as scaled int64
    k_all = _round_grid_exact(vecs, 9, lambda v: float(_dec9(v))).astype(np.float64)
    k_all = np.rint(k_all * 1e9).astype(np.int64)

    cent = [(i, vecs[i]) for i in range(min(nlist, n))]
    for _ in range(IVF_ITERS):
        cells = np.array([c for c, _ in cent])
        cmat = np.array([cv for _, cv in cent], dtype=np.float64)
        cnorms = np.sqrt(np.cumsum(cmat * cmat, axis=1, dtype=np.float64)[:, -1])
        cos = np.empty((n, len(cent)), dtype=np.float64)
        for j in range(len(cent)):
            cos[:, j] = _seq_dot_rows(vecs, cmat[j]) / (norms * cnorms[j])
        cos = _round_grid_exact(cos, 6, _round6_half_up)
        best = cells[np.argmax(cos, axis=1)]  # first max = smallest cell id
        new_cent = []
        for c in sorted(set(best.tolist())):
            sums = k_all[best == c].sum(axis=0)
            new_cent.append((
                int(c),
                [float(decimal.Decimal(int(s)).scaleb(-9)) for s in sums],
            ))
        cent = new_cent
    return [(c, [float(x) for x in cv]) for c, cv in cent]


def _ivf_centroids(spark: SparkSession, corpus: DataFrame) -> list[tuple[int, list[float]]]:
    """Train the coarse quantizer DRIVER-SIDE on a deterministic sample:
    SPHERICAL k-means (cosine assignment; centroids stay element-wise
    SUMS — cosine is scale-invariant, so no division — held as exact
    decimal(18,9) values, making every iteration order-independent).

    The sample is corpus_id % mod == 0 with mod = n // (nlist *
    IVF_TRAIN_PER_CELL) — bounded at ~IVF_TRAIN_PER_CELL vectors per
    cell no matter the corpus size, which is how production IVF indexes
    train (a quantizer never sees the full 100 TB corpus; FAISS trains
    on 30-256 points per centroid). Seeds are the nlist lowest-id sample
    vectors. Every arithmetic step (sequential float64 dot folds,
    HALF_UP rounding at 6 dp, decimal(18,9) sums) is replicated exactly
    by the DuckDB oracle, so both engines derive identical cells at
    every scale factor. Spark-side cost: one count + one sample collect."""
    n = corpus.count()
    nlist = ivf_nlist_for(n)
    mod = ivf_train_mod(n, nlist)
    rows = (
        corpus.filter(F.col("corpus_id") % mod == 0)
        .select("corpus_id", "c_emb")
        .collect()
    )
    sample = sorted((int(r.corpus_id), [float(x) for x in r.c_emb]) for r in rows)
    return _ivf_lloyd_vec([v for _, v in sample], nlist)


def _ivf_centroids_spec(sample_vecs: list[list[float]], nlist: int) -> list[tuple[int, list[float]]]:
    """Pure-Python reference trainer — the SPEC _ivf_lloyd_vec must equal
    bit-for-bit (and the DuckDB oracle replays): sequential float64
    folds, HALF_UP round at 6 dp, exact decimal(18,9) element sums."""
    vecs = sample_vecs
    norms = [_py_norm(v) for v in vecs]
    cent = [(i, vecs[i]) for i in range(min(nlist, len(vecs)))]
    for _ in range(IVF_ITERS):
        cnorms = {c: _py_norm(v) for c, v in cent}
        members: dict[int, list[list[float]]] = {}
        for v, nv in zip(vecs, norms):
            best = min(((-_py_cos6(v, cv, nv, cnorms[c]), c) for c, cv in cent))
            members.setdefault(best[1], []).append(v)
        new_cent = []
        for c in sorted(members):
            dim = len(members[c][0])
            sums = [sum((_dec9(v[i]) for v in members[c]), start=_dec9(0.0)) for i in range(dim)]
            new_cent.append((c, [float(s) for s in sums]))
        cent = new_cent
    return cent


def _ivf_cached_centroids(spark: SparkSession, sf_dir: str, corpus: DataFrame):
    """Per-session training memo: the quantizer is deterministic in
    (corpus, constants), so ann_ivf_topk / ann_ivf_multiprobe and the
    bench's cold+warm passes share one training run."""
    return session_memo(spark, "ivf_centroids", sf_dir, lambda: _ivf_centroids(spark, corpus))


def _cached_cells(spark: SparkSession, sf_dir: str, corpus: DataFrame, cent) -> DataFrame:
    """The quantizer-assigned corpus, materialized once per
    (application, corpus, quantizer) — at warehouse scale this is the
    persisted partitionBy(cell) index layout every IVF variant reads,
    so the five IVF consumers in one session share a single
    localCheckpoint of the assignment instead of re-running the
    nlist-way scoring crossJoin per query (same session-memo pattern as
    the trained centroids). The centroid fingerprint is the memo
    version: a caller with different centroids for the same corpus gets
    a fresh assignment, never a stale one (advisor finding), and the
    old assignment is dropped rather than kept beside it."""
    cent_fp = hashlib.md5(repr(cent).encode()).hexdigest()[:16]
    return session_memo(
        spark, "ivf_cells", sf_dir,
        lambda: _assign_cells(corpus, cent).localCheckpoint(),
        version=cent_fp,
    )


def _ivf_corpus_queries(spark: SparkSession, sf_dir: str):
    emb = load_table_spread(spark, sf_dir, "embeddings")
    # No checkpoint: training touches the corpus twice (a count and a
    # filtered sample collect — both cheap column-pruned scans), the
    # final assignment once. At warehouse scale these are exactly the
    # passes an index build makes; the assigned corpus, not the raw
    # one, is what gets persisted (partitionBy(cell)).
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).filter(F.col("query_id") < N_QUERIES)
    return corpus, queries


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """IVF ANN (the 100 TB scale path): corpus vectors are bucketed into
    inverted lists by a TRAINED coarse quantizer (spherical k-means,
    nlist ∝ corpus — see _ivf_centroids), each list summarized by its
    centroid. A query probes ONLY its nearest centroid's list — at
    scale the corpus is persisted partitioned by cell id, so the probe
    is a partition-pruned read of ~IVF_TARGET_CELL vectors instead of a
    full scan, and probe cost stays constant as the corpus grows
    (tests/test_ivf_partition_pruning.py asserts both).

    NOTE: constructing this query trains the quantizer (one count + one
    sample collect, then driver-side Lloyd rounds) — DataFrame
    construction is eager here, like the SRP width derivation in
    embedding_neardup_pairs.

    store: read the quantizer and the assignment from it (the
    *_from_index twin passes one); None lets index_store.store_for
    decide."""
    from .index_store import store_for

    store = store or store_for(spark, sf_dir, "vecs")
    return _ivf_probe_topk(*_ivf_inputs(spark, sf_dir, store))


def _ivf_inputs(spark: SparkSession, sf_dir: str, store: Store | None):
    """(cells, queries, centroids) for the IVF probes: the store's
    partitionBy(cell) assignment and manifest quantizer (a warm store:
    no training, and the probe reads only the probed cell's partition),
    or, with store None, the session-memoized trained quantizer and
    assignment."""
    corpus, queries = _ivf_corpus_queries(spark, sf_dir)
    if store:
        cells = store.read(spark, "ivf_cells").select("corpus_id", "c_emb", "c_norm", "cell")
        return cells, queries, store.manifest["centroids"]
    cent = _ivf_cached_centroids(spark, sf_dir, corpus)
    return _cached_cells(spark, sf_dir, corpus, cent), queries, cent


def _ivf_probe_topk(cells: DataFrame, queries: DataFrame, cent) -> DataFrame:
    """nprobe=1 probe + per-query top-k over an assigned (corpus_id,
    c_emb, c_norm, cell) table — shared by ann_ivf_topk (session-
    memoized assignment) and the index_store *_from_index twin (the
    SAME table read back partition-pruned from the persisted
    partitionBy(cell) layout), so the two paths cannot drift."""
    probed = _probe_cells(queries, cent, 1).select(
        "query_id", "q_emb", "q_norm", F.col("cell").alias("probe_cell")
    )
    scored = cells.join(
        F.broadcast(probed), cells.cell == probed.probe_cell, "inner"
    ).select(
        "query_id", "probe_cell", "corpus_id",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "probe_cell", "rank", "corpus_id", "cosine")
    )


TRUNC_DIMS = 16        # coarse-pass prefix dims (matryoshka-style)
RERANK_FACTOR = 3      # candidates per query for the fine pass


def ann_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine retrieval (the matryoshka/truncated-embedding
    pattern): a cheap first pass scores every corpus vector with only
    the first TRUNC_DIMS dimensions (4x less arithmetic and — at
    warehouse scale — 4x less column data read if prefixes are stored
    as their own column), keeps RERANK_FACTOR*TOP_K candidates per
    query, then reranks ONLY those with the full-dimension cosine.
    Exactness depends on the truncation quality; the contract here is
    the two-stage result itself, which the oracle replays stage for
    stage.

    Plan: both passes are broadcast-query scans; the rerank input is
    TOP_K*RERANK_FACTOR rows per query — a negligible second pass."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).filter(F.col("query_id") < N_QUERIES)

    c_trunc = F.slice(F.col("c_emb"), 1, TRUNC_DIMS)
    q_trunc = F.slice(F.col("q_emb"), 1, TRUNC_DIMS)
    coarse = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id", "corpus_id", "q_emb", "c_emb",
        F.round(_dot(q_trunc, c_trunc) / (_norm(q_trunc) * _norm(c_trunc)), 6).alias("coarse_cos"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("coarse_cos"), F.asc("corpus_id"))
    cand = (
        coarse.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= TOP_K * RERANK_FACTOR)
    )
    fine = cand.select(
        "query_id", "corpus_id",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb")) / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        fine.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "corpus_id", "cosine")
    )


N_PROBE = 2


def ann_ivf_multiprobe(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """Multi-probe IVF (the recall lever over ann_ivf_topk): each query
    probes its N_PROBE nearest centroids' lists instead of one. The
    standard accuracy/cost dial — recall loss of single-probe IVF comes
    from true neighbors sitting just across a cell boundary, and probing
    the runner-up cell recovers most of it for 2x the scanned fraction
    (still ~N_PROBE×IVF_TARGET_CELL vectors, partition-pruned, vs a
    full scan). Plan shape is identical to single-probe: the probed
    (query, cell) table stays tiny and broadcasts onto the
    cell-partitioned corpus. Same trained quantizer as ann_ivf_topk
    (eager construction — see that docstring). store: read the
    quantizer and the assignment from it (the *_from_index twin); None
    derives live."""
    cells, queries, cent = _ivf_inputs(spark, sf_dir, store)
    probed = _probe_cells(queries, cent, N_PROBE).select(
        "query_id", "q_emb", "q_norm", F.col("cell").alias("probe_cell")
    )
    scored = cells.join(
        F.broadcast(probed), cells.cell == probed.probe_cell, "inner"
    ).select(
        "query_id", "corpus_id", "cell",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "corpus_id", F.col("cell").alias("from_cell"), "cosine")
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index QA: recall@k of the IVF index against the exact brute-force
    answer, per query — the acceptance metric every production ANN
    deployment tracks (recall loss comes from true neighbors across the
    probed cell's boundary). Composes the two existing operators and
    reduces to a per-query hit count; at scale this runs on a sampled
    query set against the same persisted index the serving path uses."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "corpus_id")
    approx = ann_ivf_topk(spark, sf_dir).select("query_id", "corpus_id")
    hits = (
        approx.join(exact, ["query_id", "corpus_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    # the query-id universe comes from the (tiny) query split directly —
    # not from re-running the brute-force scan just to list ids
    base = _ivf_corpus_queries(spark, sf_dir)[1].select("query_id")
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("decimal(18,6)") / TOP_K, 4
            ).cast("decimal(9,4)").alias("recall_at_k"),
        )
    )


HN_K = 5  # hard negatives per query


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data miner: for each query vector, the top-k
    most similar corpus vectors with a DIFFERENT label — the classic
    hard-negative set (high-cosine, wrong-class) that makes embedding
    fine-tuning effective. Same broadcast-scored scan as the exact ANN
    baseline with one extra label predicate; at scale the label filter
    rides the scan and the per-query top-k is the TakeOrdered pattern —
    swap the scored scan for the IVF probe to mine within-cell negatives
    at 100 TB."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
        F.col("label").alias("corpus_label"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("label").alias("query_label"),
    ).filter(F.col("query_id") < N_QUERIES)
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("corpus_label") != F.col("query_label"))
        .select(
            "query_id", "query_label", "corpus_id", "corpus_label",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))), 6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HN_K)
        .select("query_id", "query_label", "rank", "corpus_id", "corpus_label", "cosine")
    )


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-k most similar corpus vectors that
    SATISFY a metadata predicate (here: same label as the query), the
    ubiquitous production-vector-DB operation ('search within my
    category / tenant / language'). The filter attribute becomes the
    JOIN KEY: corpus equi-joins the broadcast query table on label, so
    only predicate-passing rows are ever scored — post-filtering a
    top-k (the naive form) both wastes score work and under-fills k.
    At 100 TB the corpus is stored partitionBy(label) (exactly like the
    IVF cell layout), making this a partition-pruned scan per query
    label; the per-query top-k is the TakeOrdered pattern."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
        F.col("label").alias("label"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("label").alias("label"),
    ).filter(F.col("query_id") < N_QUERIES)
    scored = corpus.join(F.broadcast(queries), "label").select(
        "query_id",
        F.col("label").alias("query_label"),
        "corpus_id",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))), 6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "query_label", "rank", "corpus_id", "cosine")
    )


def embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable cluster profile: per IVF cell — member count,
    majority label and its count, and the mean round-6 cosine of
    members to their own centroid (decimal-summed, so order-free). The
    Lloyd-means profile (clustering.embedding_clusters) is rows-only by
    necessity (float centroid means); this one rides the exactly-
    replayable spherical quantizer, closing the k-means family's oracle
    gap. One assignment pass + one agg."""
    corpus, _ = _ivf_corpus_queries(spark, sf_dir)
    cent = _ivf_cached_centroids(spark, sf_dir, corpus)
    emb = load_table_spread(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("corpus_id"), F.col("label").alias("label")
    )
    cells = _cached_cells(spark, sf_dir, corpus, cent)
    ccent = _cent_df(corpus, cent).select(
        F.col("cell").alias("k_cell"), "cvec", "cnorm"
    )
    scored = (
        cells.join(F.broadcast(ccent), cells.cell == F.col("k_cell"))
        .join(emb, "corpus_id")
        .select(
            "cell", "label",
            F.round(
                _dot(F.col("c_emb"), F.col("cvec")) / (F.col("c_norm") * F.col("cnorm")), 6
            ).alias("own_cos"),
        )
    )
    per_label = scored.groupBy("cell", "label").agg(F.count("*").alias("ct"))
    majority = per_label.groupBy("cell").agg(
        F.max_by(F.struct("label"), F.struct(F.col("ct"), (-F.col("label")).alias("neg"))).getField("label").alias("majority_label"),
        F.max("ct").alias("majority_ct"),
    )
    # exact decimal SUM, not a mean: decimal division scale rules differ
    # between engines, and a double mean re-opens the ROUND boundary
    # trap — the consumer divides sum/n itself
    sizes = scored.groupBy("cell").agg(
        F.count("*").alias("n"),
        F.sum(F.col("own_cos").cast("decimal(18,6)")).alias("sum_own_cos"),
    )
    return sizes.join(majority, "cell")


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup scoped
# to k-means clusters — within each cluster, points whose pairwise
# cosine exceeds tau are one semantic duplicate group, and one
# representative is kept. Production tau sits at ~0.95-0.99; the
# synthetic embeddings are well-spread (max pairwise cosine ≈ 0.51), so
# the declared tau exercises the path with real drops.
SEMDEDUP_TAU = 0.40


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup (SemDeDup): reuse the trained IVF
    coarse quantizer as the cluster structure (same centroids, memoized
    per session), then mark every vector that has a LOWER-ID in-cell
    neighbor with cosine >= SEMDEDUP_TAU as a duplicate of its smallest
    such witness (the deterministic one-pass variant of SemDeDup's
    keep-one-per-epsilon-ball; the paper keeps a random point, we keep
    the lowest id so the oracle replays the choice).

    Deliberately NOT routed onto the SRP layouts (ADVICE r9): SemDeDup's
    semantics are CLUSTER-scoped by definition — the dedup decision is
    "keep one representative per epsilon-ball *within a k-means
    cluster*", so the IVF cells ARE the operator's contract, not an
    acceleration choice. Recall doesn't decay with corpus growth here
    the way home-bucket SRP agreement does: nlist grows to hold
    ~IVF_TARGET_CELL members per cell, and every within-cell pair is
    examined exactly (no hash agreement term at all).

    Scale: the pairwise pass is QUADRATIC ONLY WITHIN A CELL — cells are
    capped at ~IVF_TARGET_CELL members by construction (nlist grows with
    the corpus), so total pair work is n * IVF_TARGET_CELL, linear in
    the corpus. One shuffle on cell for the self-join; the assigned
    corpus is localCheckpointed (3 small columns + the vector) so the
    quantizer-assignment subtree runs once, not twice — the persisted
    partitionBy(cell) layout a production index would already have."""
    corpus, _ = _ivf_corpus_queries(spark, sf_dir)
    cent = _ivf_cached_centroids(spark, sf_dir, corpus)
    cells = _cached_cells(spark, sf_dir, corpus, cent)
    right = cells.select(
        F.col("corpus_id").alias("b_id"),
        F.col("c_emb").alias("b_emb"),
        F.col("c_norm").alias("b_norm"),
        F.col("cell").alias("b_cell"),
    )
    witnesses = (
        cells.join(right, (cells.cell == right.b_cell) & (cells.corpus_id < right.b_id))
        .select(
            "b_id", "corpus_id",
            F.round(
                _dot(F.col("c_emb"), F.col("b_emb")) / (F.col("c_norm") * F.col("b_norm")), 6
            ).alias("pair_cos"),
        )
        .filter(F.col("pair_cos") >= SEMDEDUP_TAU)
        .groupBy("b_id")
        .agg(F.min("corpus_id").alias("dup_of"))
    )
    return (
        cells.join(witnesses, cells.corpus_id == witnesses.b_id, "left")
        .select(
            F.col("corpus_id").alias("vec_id"),
            "cell",
            "dup_of",
            F.col("dup_of").isNull().alias("kept"),
        )
    )


# Production near-dup thresholds sit at ~0.99; the synthetic testdata
# embeddings are well-spread (max intra-cell cosine ≈ 0.47), so the
# declared threshold is tuned to exercise the filter with real matches.
NEARDUP_COSINE = 0.35

# Signed-random-projection LSH (Charikar '02): SRP_TABLES hash tables,
# SRP_BITS hyperplanes each, over SRP_DIM-dim embeddings. The ±1
# hyperplane components derive from md5 parity — deterministic and
# identical in Python, Spark, and the DuckDB oracle (no RNG state).
# Scale: buckets per table = 2^SRP_BITS; pick SRP_BITS ≈
# log2(n / target_bucket_population), so bucket count GROWS with the
# corpus (round 1 keyed cells on the label column — a fixed nlist, so
# pairs-per-cell grew (n/nlist)^2). Recall for a pair at angle θ is
# 1-(1-(1-θ/π)^SRP_BITS)^SRP_TABLES: at production τ≈0.99 (θ≈8°),
# 4 tables × 4 bits give ≈99.9%; more tables buy recall linearly in
# cost, more bits cut candidates exponentially.
SRP_TABLES = 4
SRP_BITS = 4               # floor; the operator widens with corpus size
SRP_MAX_BITS = 16          # cap (65536 buckets/table, ~2M vectors at the
                           # 32/bucket target); the 100x probe engages
                           # width 13 at 200k vectors — under the old cap
                           # of 12 the bucket population (and the pair
                           # join) would have started growing again
SRP_TARGET_BUCKET = 32     # aim for ~this many vectors per bucket
SRP_DIM = 64


def _srp_sign(table: int, plane: int, dim: int) -> float:
    import hashlib

    h = hashlib.md5(f"srp:{table}:{plane}:{dim}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


def _srp_plane(table: int, plane: int) -> list[float]:
    return [_srp_sign(table, plane, d) for d in range(SRP_DIM)]


# Plane literals up to the cap, inlined into the (width-adaptive) oracle.
_SRP_PLANES = [[_srp_plane(t, p) for p in range(SRP_MAX_BITS)] for t in range(SRP_TABLES)]


def srp_bits_for(n: int) -> int:
    """Bucket-count rule: 2^bits ≈ n / SRP_TARGET_BUCKET, clamped to
    [SRP_BITS, SRP_MAX_BITS] — the knob that keeps candidates-per-bucket
    CONSTANT as the corpus grows (a fixed width re-creates the quadratic
    blowup this design replaces: the 10x probe ran 33x slower before
    widening). The DuckDB oracle computes the IDENTICAL formula from
    count(embeddings), so both engines agree at every scale factor."""
    import math

    return min(SRP_MAX_BITS, max(SRP_BITS, math.ceil(math.log2(max(n, 2) / SRP_TARGET_BUCKET))))


# Recall governor (VERDICT r7 #4): srp_bits_for holds bucket population
# constant as the corpus grows, but per-table agreement is p^bits, so
# recall at fixed SRP_TABLES FALLS with width (measured: within-copy
# recovery 863 -> ~44/copy at 6 -> 13 bits, SCALE_100X.md). The probe
# RADIUS is the lever that restores it without extra signature storage:
# a pair at design cosine tau has per-bit agreement p = 1 - acos(tau)/pi,
# and probing all hamming<=r neighbor keys recovers it per table with
# P_r = sum_{i<=r} C(bits,i) p^(bits-i) (1-p)^r; the governor picks the
# smallest r with 1-(1-P_r)^tables >= target. At 6 bits that is r=1
# (the old hand-set hamming-1), at the probe's 13 bits r=2, at the
# 16-bit cap r=3 — recall holds by construction instead of collapsing.
SRP_DESIGN_COSINE = 0.9   # the "true near-duplicate" design point
SRP_TARGET_RECALL = 0.99
SRP_RADIUS_MAX = 3        # cost ceiling: sum C(bits,i) probes per table


import math as _math

# per-bit agreement probability at the design cosine — ONE literal shared
# by the Python governor and (via repr injection) the DuckDB oracle
_SRP_P = 1.0 - _math.acos(SRP_DESIGN_COSINE) / _math.pi


def srp_probe_radius_for(bits: int, tables: int = SRP_TABLES) -> int:
    """Smallest hamming probe radius holding the recall target for a
    pair at SRP_DESIGN_COSINE, capped at SRP_RADIUS_MAX. The DuckDB
    oracle evaluates the IDENTICAL closed form from its own bits value,
    so Spark and oracle always probe the same keys at any scale."""
    import math

    p = _SRP_P
    P = 0.0
    for r in range(SRP_RADIUS_MAX + 1):
        P += math.comb(bits, r) * p ** (bits - r) * (1 - p) ** r
        if 1 - (1 - P) ** tables >= SRP_TARGET_RECALL:
            return r
    return SRP_RADIUS_MAX


# The oracle's radius table: srp_probe_radius_for evaluated ONCE in
# Python (exact math.comb arithmetic) for every width srp_bits_for can
# produce, injected into the SQL as integer literals (ADVICE r8: a SQL
# re-derivation with POWER() float arithmetic can drift a last ulp at a
# corpus size where cumulative recall sits exactly on the 0.99 boundary
# and probe a different key set — the radius is data-independent given
# bits, so there is nothing for SQL to compute).
def _srp_radius_case_sql() -> str:
    whens = " ".join(
        f"WHEN {b} THEN {srp_probe_radius_for(b)}"
        for b in range(SRP_BITS, SRP_MAX_BITS + 1)
    )
    return f"CASE bits {whens} ELSE {SRP_RADIUS_MAX} END"


# The OTHER recall lever (VERDICT r8 "cost-control on the recall
# lever", measured r9): probe cost is tables x sum_{i<=r} C(bits,i)
# keys per vector and candidate volume scales the same way, so RADIUS
# is the expensive dial (C(13,2)=78 of the 92 keys at 13 bits) while
# TABLES is the cheap one (+14 keys each) — classic LSH theory: more
# tables beat deeper probing on compute, multiprobe exists to save
# signature STORAGE at extra compute (Lv et al. VLDB'07 §1). The wide
# governor fixes radius at 1 and picks the smallest table count
# holding the recall target: at 13 bits that is 9 tables x 14 keys =
# 126 probe keys/vector vs the radius governor's 4 x 92 = 368 — ~2.9x
# less probe+candidate work for 2.25x more (integer-sized) signature
# rows. At 100 TB signatures are noise next to the vectors, so wide is
# the production default; the radius form remains the zero-extra-
# storage option.
SRP_WIDE_RADIUS = 1
SRP_WIDE_TABLES_MAX = 13   # T(16-bit cap) = 13 — the governor never clamps


def srp_tables_for(bits: int, radius: int = SRP_WIDE_RADIUS) -> int:
    """Smallest table count holding SRP_TARGET_RECALL for a pair at
    SRP_DESIGN_COSINE when every table probes hamming<=radius. Exact
    math.comb arithmetic, evaluated once in Python and injected into
    the DuckDB oracle as integer literals (same discipline as
    srp_probe_radius_for)."""
    import math

    p = _SRP_P
    P = sum(
        math.comb(bits, i) * p ** (bits - i) * (1 - p) ** i
        for i in range(radius + 1)
    )
    for t in range(1, SRP_WIDE_TABLES_MAX + 1):
        if 1 - (1 - P) ** t >= SRP_TARGET_RECALL:
            return t
    return SRP_WIDE_TABLES_MAX


def _srp_tables_case_sql() -> str:
    whens = " ".join(
        f"WHEN {b} THEN {srp_tables_for(b)}"
        for b in range(SRP_BITS, SRP_MAX_BITS + 1)
    )
    return f"CASE bits {whens} ELSE {SRP_WIDE_TABLES_MAX} END"


def _srp_probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks within the probe radius (mask 0 = the home
    bucket), in ascending order — the (bits choose <=r) keys each
    signature probes."""
    return [m for m in range(1 << bits) if bin(m).count("1") <= radius]


def _srp_signature(v, table: int, bits: int):
    """SRP bucket id for one table: bit p = sign of v · plane_p (dot
    rounded to 6 dp so both engines take the same branch at the
    boundary). Pure JVM expressions over literal ±1 plane arrays."""
    sig = F.lit(0)
    for p in range(bits):
        plane = F.array(*[F.lit(s) for s in _srp_plane(table, p)])
        dot = F.round(_dot(v, plane), 6)
        sig = sig + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    """Corpus cardinality for width derivation, memoized per
    (application, corpus) — the embeddings parquet is immutable within
    a session, but the radius multiprobe re-ran the count job on every
    call just to re-derive the same frozen signature width."""
    return session_memo(
        spark, "emb_count", sf_dir,
        lambda: load_table_spread(spark, sf_dir, "embeddings").count(),
    )


def _srp_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, table_id, sig) for every vector × SRP table, width
    derived from the corpus count, materialized once PER (application,
    corpus) — the shingle-set session-memo discipline (r12: each
    call used to re-count the corpus and re-localCheckpoint the full
    table, so every warm consumer paid the build again and each call
    leaked another checkpoint into the block manager). At warehouse
    scale this IS the persisted signature table. Shared by
    embedding_neardup_pairs, knn_graph, and the radius multiprobes."""

    def build() -> DataFrame:
        emb = load_table_spread(spark, sf_dir, "embeddings")
        corpus = emb.select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        bits = srp_bits_for(_emb_count(spark, sf_dir))
        return corpus.select(
            "vec_id", "v",
            F.explode(F.array(*[
                F.struct(F.lit(t).alias("table_id"), _srp_signature(F.col("v"), t, bits).alias("sig"))
                for t in range(SRP_TABLES)
            ])).alias("b"),
        ).select("vec_id", "v", "b.table_id", "b.sig").localCheckpoint()

    return session_memo(spark, "srp_sigs", sf_dir, build)


KNN_GRAPH_K = 3


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH: every vector's KNN_GRAPH_K most-similar
    neighbors among its SRP-LSH bucket-mates — the graph-construction
    primitive behind clustering/near-dup pipelines at scale (an exact
    k-NN graph is an all-pairs scan; bucketing bounds candidates the
    same way the near-dup pair join does, and recall follows the same
    SRP table/bit math). Ranking is cosine DESC with vec-id tiebreak —
    deterministic, so the DuckDB oracle replays it exactly.

    Plan: ONE signature materialization (shared helper), the band
    self-join as the only wide shuffle, distinct directed pairs, then a
    per-source window over candidate sets that are ~bucket-sized, not
    corpus-sized."""
    sigs = _srp_signature_table(spark, sf_dir)
    a, b = sigs.alias("a"), sigs.alias("b")
    cosine = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (_norm(F.col("a.v")) * _norm(F.col("b.v"))), 6
    )
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            cosine.alias("cosine"),
        )
        .dropDuplicates(["src", "dst"])
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src", "rank", "dst", "cosine")
    )


def knn_graph_wide(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """knn_graph on the WIDE recall-governed layout (ADVICE r9: the last
    home-bucket-only SRP consumers routed onto srp_tables_for-sized
    signatures): candidates are bucket-mates within hamming<=1 in any of
    srp_tables_for(bits) tables, so neighbor recall at the design cosine
    holds >= SRP_TARGET_RECALL at EVERY corpus width instead of decaying
    as p^bits per table (home-bucket agreement at the 100x probe's 13
    bits is ~0.25/table — the 4-table base form finds a true 0.9-cosine
    neighbor with p~0.68; this form is governed to 0.99).

    Plan — the slim-key discipline of _multiprobe_pairs_from, adapted to
    DIRECTED pairs: probes carry only (vec_id, table_id, probe_sig);
    hamming<=r is symmetric so one-sided probing with src != dst
    enumerates every directed candidate; dropDuplicates collapses
    per-table repeats BEFORE any vector math; vectors join back once per
    distinct edge for a single cosine; the per-source top-K window runs
    over ~bucket-sized candidate sets. Shuffles: the probe join + the
    src window — same count as the base form. store: as
    _srp_wide_sigs_tagged."""
    sigs, masks, source = _srp_wide_sigs_tagged(spark, sf_dir, store)
    return _knn_graph_from_sigs(
        sigs, masks,
        confirmed=_mp_confirmed_memo(spark, sf_dir, f"wide:{source}", sigs, masks),
    )


def _knn_graph_from_sigs(
    sigs: DataFrame, masks: list[int], confirmed: DataFrame | None = None
) -> DataFrame:
    """The probe/confirm/rank plan shared by knn_graph_wide and its
    persisted-index twin — one body, so the in-session and read-back
    forms cannot drift.

    The edge relation is symmetric, so the heavy stages run UNDIRECTED
    (vec_a < vec_b): the probe join emits each candidate pair once, the
    distinct dedups half the rows, and each cosine is evaluated ONCE
    per pair instead of once per direction — measured 2x less
    candidate-join/confirm work at the 100x probe. That undirected
    confirmed relation is EXACTLY _mp_confirmed_pairs (r13 — the graph
    and the multiprobe screens ran the identical probe/distinct/confirm
    stages as separate plans; now one shared body, and callers with a
    session-stable source pass the memoized relation). Only the final
    (cheap) projection mirrors each confirmed pair into both
    orientations before the per-source window."""
    if confirmed is None:
        confirmed = _mp_confirmed_pairs(sigs, masks)
    scored = confirmed.select(
        F.explode(
            F.array(
                F.struct(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")),
                F.struct(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")),
            )
        ).alias("e"),
        "cosine",
    ).select("e.src", "e.dst", "cosine")
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src", "rank", "dst", "cosine")
    )


# Per-source confirm budget for the capped k-NN graph (VERDICT r9 #3
# — the wide graph's 100x cost is candidate volume, and the named
# lever is a candidate cap with recall accounting). Small enough that
# the sf0.01 gate corpus actually overflows it, so the oracle
# exercises the capped path for real (the SIMHASH_BUCKET_CAP
# discipline); production would size it ~tables x bucket population.
KNN_CAND_CAP = 64

# Width of the RANKING sketch that orders candidates inside the cap: a
# fixed-width SRP signature used only for ranking, decoupled from the
# bucketing tables (whose total width varies with corpus size — at the
# sf0.001 test width, 3 tables x 6 bits = 18 concatenated bits, far too
# short to separate a design-point pair from background: measured
# twin hamming 5 vs background median 6, 3 planted twins lost). At 48
# bits the expected hammings are 48*acos(0.9)/pi ~ 6.9 (sigma 2.4) for
# a design-point pair vs 48*acos(0.3)/pi ~ 19.4 (sigma 3.4) for
# background — a ~3.5 sigma gap at EVERY corpus width, so the true
# neighbors sort into the cap with ~certainty while costing one
# xor+bit_count per candidate.
KNN_RANK_BITS = 48


def _rank_plane(plane: int) -> list[float]:
    """Deterministic +-1 hyperplane for the ranking sketch — the
    _srp_sign construction under its own namespace so the sketch
    planes can never collide with any bucketing table's."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"srprank:{plane}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for d in range(SRP_DIM)
    ]


def _rank_sketch(v):
    """48-bit SRP ranking sketch as a bigint column — same sign rule
    as _srp_signature (dot rounded to 6 dp so both engines take the
    same branch at the boundary)."""
    sig = F.lit(0).cast("bigint")
    for p in range(KNN_RANK_BITS):
        plane = F.array(*[F.lit(s) for s in _rank_plane(p)])
        dot = F.round(_dot(v, plane), 6)
        sig = sig + F.when(dot > 0, F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return sig


def _knn_slim_memo(
    spark: SparkSession, sf_dir: str, source: str, sigs: DataFrame
) -> DataFrame:
    """The (vec_id, table_id, sig, rs) relation — signatures with the
    48-bit ranking sketch attached — memoized per (application, corpus,
    signature source). r12: every capped-graph call re-projected the
    48-plane sketch and re-checkpointed the join (~1.5-2 s per call at
    sf0.1, pure rebuild of a value that never changes within a
    session); since r13 the persisted signature artifact carries rs as
    a column and the store path reads it directly, so this memo serves
    the LIVE branch.
    live and store entries coexist (ADVICE r12: a session alternating
    a live-branch call with a from_index twin must not thrash the
    corpus-sized checkpoint): they are separate slots, and the source
    is the version, so a store refresh/repoint (a new watermark-stamped
    source) replaces the store slot — keeping the old entry would pin
    one corpus-sized checkpoint per refresh cycle in the block manager
    forever."""

    def build() -> DataFrame:
        rsk = (
            sigs.filter(F.col("table_id") == 0)
            .select("vec_id", _rank_sketch(F.col("v")).alias("rs"))
        )
        return (
            sigs.select("vec_id", "table_id", "sig")
            .join(rsk, "vec_id")
            .localCheckpoint(eager=False)
        )

    kind = "store" if source.startswith("store:") else "live"
    return session_memo(spark, "knn_slim", (sf_dir, kind), build, version=source)


def knn_graph_wide_capped(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """knn_graph_wide under a PER-SOURCE confirm budget, candidates
    ranked by a FIXED-WIDTH RANKING SKETCH — signature-distance
    re-ranking (the SimHash-hamming ordering of Manku et al., WWW
    2007) on a 48-bit SRP sketch that exists only to order candidates:
    E[bit disagreement] = acos(cosine)/pi per bit, so a design-point
    pair (0.9 cosine) sits at ~7 of 48 bits while background (~0.3)
    sits at ~19 — a ~3.5 sigma gap, so the cap sheds only background
    and design-point recall holds at any density (planted-twin test).
    Two rejected rankings, both measured losing twins at the sf0.001
    width: collision COUNT (a twin colliding in exactly 1 table ties
    with hundreds of background 1-table candidates, 37/40) and
    concatenated BUCKETING-table hamming (total width varies with the
    corpus — 18 bits at test width, twin 5 vs background median 6).
    The sketch is computed from the vectors on the fly (48 JVM dot
    products per vector, one corpus scan, zero storage/manifest
    change) and its width never varies, so the separation is
    scale-stable.

    Plan — the cap engages BEFORE any vector math: each side's 8-byte
    sketch rides INTO the bucket join (r11 — hamming computed in the
    join projection; the r10 shape paid two sort-merge joins over the
    ~860M-row candidate relation to attach sketches afterwards),
    dropDuplicates collapses per-table repeats (the same shuffle the
    base form pays, 8 bytes/row wider), a per-source window keeps the
    KNN_CAND_CAP lowest by (sketch hamming ASC, dst ASC —
    deterministic, oracle-replayable), and ONLY the capped set joins
    the vector table for cosines: N x cap confirms instead of one per
    distinct candidate (~20x fewer at the 100x probe's density).
    Capped-away volume is observable via knn_graph_candidate_overflow.
    store: as _srp_wide_sigs_tagged."""
    sigs, masks, source = _srp_wide_sigs_tagged(spark, sf_dir, store)
    if source == "live":
        slim = _knn_slim_memo(spark, sf_dir, source, sigs)
    else:
        # store-backed: the persisted srp_sigs_wide rows carry rs as a
        # column (r13), so slim is a plain watermark-filtered read —
        # executor-loss-safe (recompute = re-read, no localCheckpoint
        # lineage truncation) and nothing to memoize
        slim = sigs.select("vec_id", "table_id", "sig", "rs")
    return _knn_graph_capped_from_sigs(sigs, masks, KNN_CAND_CAP, slim=slim)


def _knn_graph_capped_from_sigs(
    sigs: DataFrame, masks: list[int], cap: int, slim: DataFrame | None = None
) -> DataFrame:
    # The 8-byte ranking sketch rides INTO the bucket join instead of
    # joining onto the candidate relation afterwards (r11): the r10
    # shape attached ra/rb to the DISTINCT candidates — two extra
    # sort-merge joins over an ~860M-row relation in the static plan
    # (5 SMJ / 0 broadcast; the sketch table is corpus-sized, so a
    # broadcast hint is not a scale-safe fix — the dedup.py tombstone
    # discipline). See _knn_wide_candidates for the honest 100x
    # measurement note (band-flat at probe scale, structural at real
    # scale).
    #
    # materialized once (localCheckpoint, eager=False per ADVICE r10 —
    # no job until first materialization): the 48-plane projection and
    # the rs-attachment join feed BOTH sides of the bucket join.
    # Callers with a session-stable signature source pass the memoized
    # relation instead (_knn_slim_memo, r12).
    if slim is None:
        rsk = (
            sigs.filter(F.col("table_id") == 0)
            .select("vec_id", _rank_sketch(F.col("v")).alias("rs"))
        )
        slim = (
            sigs.select("vec_id", "table_id", "sig")
            .join(rsk, "vec_id")
            .localCheckpoint(eager=False)
        )
    cand = _knn_wide_candidates(slim, masks, with_hamming=True)
    capw = Window.partitionBy("src").orderBy(F.asc("hamming"), F.asc("dst"))
    capped = (
        cand.withColumn("crk", F.row_number().over(capw))
        .filter(F.col("crk") <= cap)
        .select("src", "dst")
    )
    vecs = sigs.filter(F.col("table_id") == 0).select("vec_id", "v")
    va, vb = vecs.alias("va"), vecs.alias("vb")
    cosine = F.round(
        _dot(F.col("va.v"), F.col("vb.v")) / (_norm(F.col("va.v")) * _norm(F.col("vb.v"))), 6
    )
    scored = (
        capped.join(va, capped.src == F.col("va.vec_id"))
        .join(vb, capped.dst == F.col("vb.vec_id"))
        .select("src", "dst", cosine.alias("cosine"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src", "rank", "dst", "cosine")
    )


def _knn_wide_candidates(
    sigs: DataFrame, masks: list[int], with_hamming: bool = False
) -> DataFrame:
    """Distinct DIRECTED candidate relation (src, dst): dst's signature
    lies within the probe radius of src's in at least one governed
    table. ONE join definition shared by the capped graph and its
    overflow report, so the recall accounting counts exactly the
    candidates the cap budgets.

    with_hamming=True (the capped graph, r11): the caller's sigs rows
    carry an `rs` ranking-sketch column, which rides through the probe
    explode and the bucket join so the 48-bit hamming is computed IN
    the join projection, removing the two post-distinct joins the r10
    shape used to attach sketches to the ~860M-row candidate relation
    (static plan: SortMergeJoin x2). Honest measurement note: at the
    100x probe the fresh re-derivation landed INSIDE the day's VM band
    (592.7 s vs the old shape's 562.7/420.3 — SCALE_100X.md r11), i.e.
    no measured wall-clock change at 200k vectors, consistent with AQE
    runtime-converting the 3 MB sketch side to broadcast there. The
    shape still matters at real scale: a 1e9-vector sketch table is
    ~16 GB — past any broadcast threshold, so the r10 shape degrades
    to two true corpus-candidate-scale sort-merge passes while this
    one never has them (8 bytes/row through the existing shuffle
    instead). Every duplicate of a (src, dst) pair carries the
    identical hamming (sketches are per-vector constants), so
    dropDuplicates returns the same relation the r10 shape ranked."""
    cols = ["vec_id", "table_id"] + (["rs"] if with_hamming else [])
    slim = sigs.select(*cols, "sig")
    probes = slim.select(
        *cols,
        F.explode(
            F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("probe_sig"),
    )
    a, b = probes.alias("a"), slim.alias("b")
    out = [F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")]
    if with_hamming:
        out.append(
            F.bit_count(F.col("a.rs").bitwiseXOR(F.col("b.rs"))).alias("hamming")
        )
    return (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.probe_sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(*out)
        .dropDuplicates(["src", "dst"])
    )


def knn_graph_candidate_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-only overflow report paired with knn_graph_wide_capped
    (the simhash_bucket_overflow discipline): how many source vectors
    exceeded the confirm budget, the worst candidate list, and the
    number of confirm slots the cap dropped — the recall accounting a
    capped run ships instead of the unbounded confirm.

    Counts derive from the session-memoized UNDIRECTED confirmed-pair
    relation mirrored into both orientations (r13): hamming<=r is
    symmetric, so (x, y) is a directed candidate iff the undirected
    pair {x, y} is — the mirror reproduces _knn_wide_candidates'
    relation row-for-row (pinned by
    tests/test_round13_ops.py::test_overflow_counts_match_directed_candidates)
    without re-running the probe join per call."""
    sigs, masks, source = _srp_wide_sigs_tagged(spark, sf_dir)
    conf = _mp_confirmed_memo(spark, sf_dir, f"wide:{source}", sigs, masks)
    cap = F.lit(KNN_CAND_CAP)
    sizes = (
        conf.select(
            F.explode(F.array(F.col("vec_a"), F.col("vec_b"))).alias("src")
        )
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    over = sizes.filter(F.col("n_cand") > cap)
    return over.agg(
        F.count(F.lit(1)).alias("over_sources"),
        F.coalesce(F.max("n_cand"), F.lit(0)).cast("bigint").alias("max_candidates"),
        F.coalesce(F.sum(F.col("n_cand") - cap), F.lit(0)).cast("bigint").alias("dropped_confirm_slots"),
    )


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup family's
    embedding variant): candidate pairs share an SRP-LSH bucket in at
    least one of SRP_TABLES hash tables, then confirm cosine >=
    threshold. Bucketing bounds pair generation exactly like the
    minhash band / simhash block joins, with bucket count scaling as
    2^SRP_BITS per table instead of a data-fixed cell id.

    Plan: signatures materialize once (localCheckpoint — the persisted
    signature table at warehouse scale), the self-join shuffles only
    (vec_id, table_id, sig, v), AQE splits any hot bucket, and the
    cosine confirm runs candidates-only. Signature width derives from
    the corpus count (srp_bits_for — one cheap count() scan) so bucket
    population stays ~constant at any scale; the oracle computes the
    identical width from count(embeddings), so verification holds at
    every scale factor, not just sf0.01.

    store: read the persisted partitionBy(table_id) signatures from it
    (the *_from_index twin passes one); None lets index_store.store_for
    decide."""
    from .index_store import store_for

    store = store or store_for(spark, sf_dir, "vecs")
    if store:  # warm environment: the width is frozen in the manifest
        return _srp_pairs_from_sigs(
            store.read(spark, "srp_sigs").select("vec_id", "v", "table_id", "sig")
        )
    return _srp_pairs_from_sigs(_srp_signature_table(spark, sf_dir))


def _srp_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """Bucket self-join + cosine confirm over a (vec_id, v, table_id,
    sig) SRP signature table — shared by embedding_neardup_pairs
    (session-memoized signatures) and the index_store *_from_index twin
    (the SAME table read back from the persisted partitionBy(table_id)
    artifact), so the two paths cannot drift."""
    a, b = sigs.alias("a"), sigs.alias("b")
    cosine = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (_norm(F.col("a.v")) * _norm(F.col("b.v"))), 6
    )
    return (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_COSINE)
        .dropDuplicates(["vec_a", "vec_b"])
    )


# The PRODUCTION emit threshold of the multiprobe screen (VERDICT r8
# #2): the governor guarantees recall for pairs at >= SRP_DESIGN_COSINE
# (0.9); emitting everything down to the 0.35 exploration floor made
# 12.6M of the 100x probe's output rows pairs no dedup decision would
# ever act on (SCALE_100X.md r8). The band variant cuts them IN CODE —
# threshold below the design point with margin for measurement noise,
# so every governed-recall pair still lands.
NEARDUP_BAND_COSINE = 0.8


def embedding_neardup_multiprobe(
    spark: SparkSession, sf_dir: str, confirm_cosine: float = NEARDUP_COSINE
) -> DataFrame:
    """embedding_neardup_pairs with RADIUS-GOVERNED MULTIPROBE (the
    multi-probe LSH of Lv et al., VLDB'07, with the radius picked by
    srp_probe_radius_for): each vector probes every hamming<=r
    neighbor signature per table, where r is the smallest radius
    holding SRP_TARGET_RECALL for a pair at SRP_DESIGN_COSINE under
    the corpus-adaptive width — recall no longer collapses as
    srp_bits_for widens (863 -> ~44/copy measured at 6 -> 13 bits
    before this governor; at 13 bits the governor picks r=2). The
    cost is sum_{i<=r} C(bits,i) candidate lookups per vector-table
    and ZERO extra signature storage — the same exchange IVF makes
    with nprobe, auto-scaled instead of hand-set.

    Plan — slim keys through the wide part, vectors only at the end:
    the probe explosion ((sum C(bits,i)) keys per vector-table) carries
    ONLY (vec_id, table_id, probe_sig) — never the 64-double embedding
    (carrying v through every probe row shuffled ~25x more bytes and
    recomputed each pair's cosine once per table it collided in). The
    bucket join emits bare (vec_a, vec_b) id pairs map-side,
    dropDuplicates collapses the per-table repeats BEFORE any vector
    math, and the embeddings join back once per DISTINCT candidate for
    a single cosine evaluation. hamming<=r is symmetric, so probing
    the a-side alone finds every qualifying pair. Output is a SUPERSET
    of the single-probe operator at the same threshold.

    confirm_cosine is the EMIT threshold (not a recall knob — the probe
    radius alone governs recall at the design point): the gate default
    keeps the exploration floor so the single-probe oracle relation
    holds; production screens pass NEARDUP_BAND_COSINE (the
    embedding_neardup_multiprobe_band registration) to cut the
    low-cosine tail at the source. Both emit forms filter ONE
    session-memoized confirmed-pair relation (_mp_confirmed_memo, r13 —
    the 92-key probe explosion + distinct + confirm used to rebuild per
    call; the sigs behind it are the session-stable
    _srp_signature_table)."""
    bits = srp_bits_for(_emb_count(spark, sf_dir))
    masks = _srp_probe_masks(bits, srp_probe_radius_for(bits))
    sigs = _srp_signature_table(spark, sf_dir)
    return _multiprobe_pairs_from(
        sigs, masks, confirm_cosine,
        confirmed=_mp_confirmed_memo(spark, sf_dir, "radius:live", sigs, masks),
    )


def _mp_confirmed_pairs(sigs: DataFrame, masks: list[int]) -> DataFrame:
    """(vec_a < vec_b, cosine) for every DISTINCT multiprobe candidate
    pair — the slim-key probe/candidate/confirm core shared by every
    multiprobe form (radius, band, wide) AND the undirected half of the
    wide k-NN graph, so they can never drift: the probe explosion
    carries only (vec_id, table_id, probe_sig), the bucket join emits
    bare id pairs, dropDuplicates collapses per-table repeats BEFORE
    any vector math, and the vector table joins back once per DISTINCT
    candidate for a single cosine evaluation. No threshold here — emit
    thresholds/top-K windows are the CONSUMERS' business, which is what
    lets one session-memoized relation (_mp_confirmed_memo) feed the
    floor form, the band form and the graph ranking."""
    slim = sigs.select("vec_id", "table_id", "sig")
    probes = slim.select(
        "vec_id", "table_id",
        F.explode(
            F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("probe_sig"),
    )
    a, b = probes.alias("a"), slim.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.probe_sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vecs = sigs.filter(F.col("table_id") == 0).select("vec_id", "v")
    va, vb = vecs.alias("va"), vecs.alias("vb")
    cosine = F.round(
        _dot(F.col("va.v"), F.col("vb.v")) / (_norm(F.col("va.v")) * _norm(F.col("vb.v"))), 6
    )
    return (
        cand.join(va, cand.vec_a == va.vec_id)
        .join(vb, cand.vec_b == vb.vec_id)
        .select("vec_a", "vec_b", cosine.alias("cosine"))
    )


# session memo of the confirmed multiprobe pair relation, keyed on
# (corpus, layout, live|store) — r13: the probe join +
# distinct + double vector join ran once PER CALL although the relation
# is a pure function of (sigs, masks), both frozen within a session for
# a session-stable source; with 2 radius consumers, 3+ wide consumers
# and the overflow report each paying it per call, the rebuild was the
# SRP family's largest remaining warm cost (guide §2.4). At warehouse
# scale this relation is the near-dup PAIR TABLE a deployment
# materializes once per corpus watermark (the knn_graph_capped
# published-artifact argument, one level down).
def _mp_confirmed_memo(
    spark: SparkSession, sf_dir: str, tag: str, sigs: DataFrame, masks: list[int]
) -> DataFrame:
    """_mp_confirmed_pairs memoized per (application, corpus, tag).
    tag = '<layout>:<source>' — layout separates the radius form's
    (4-table, hamming<=r) relation from the wide form's; source is the
    _srp_wide_sigs_tagged provenance so a store refresh/repoint mints a
    fresh version. Callers with per-run signature sources (the streaming
    ingest twins, the planted fixtures' augmented corpus — which has
    its own stable tag) must pass a tag that matches the sigs actually
    handed in. live and one store entry of each layout coexist (the
    _knn_slim_memo policy); a new store tag supersedes the old one."""
    layout, source = tag.split(":", 1)
    kind = "store" if source.startswith("store:") else "live"
    return session_memo(
        spark, "mp_confirmed", (sf_dir, layout, kind),
        lambda: _mp_confirmed_pairs(sigs, masks).localCheckpoint(eager=False),
        version=tag,
    )


def _multiprobe_pairs_from(
    sigs: DataFrame,
    masks: list[int],
    confirm_cosine: float,
    confirmed: DataFrame | None = None,
) -> DataFrame:
    """Threshold emit over the shared confirmed-pair relation (see
    _mp_confirmed_pairs). Callers with a session-stable signature
    source pass the memoized relation via `confirmed`; per-run sources
    (streaming ingest) take the derive-in-place default."""
    if confirmed is None:
        confirmed = _mp_confirmed_pairs(sigs, masks)
    return confirmed.filter(F.col("cosine") >= confirm_cosine)


def embedding_neardup_multiprobe_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production EMIT form of the multiprobe screen: same governed
    radius (recall 0.996 at the 0.9-cosine design point, SCALE_100X.md),
    emit threshold at NEARDUP_BAND_COSINE instead of the exploration
    floor — the 100x probe's 12.6M low-cosine rows never materialize.
    Measured r9: the cut bounds OUTPUT, not wall time (1052 s vs 1018 s
    at 100x — the candidate join dominates); the COMPUTE lever is
    embedding_neardup_multiprobe_wide."""
    return embedding_neardup_multiprobe(
        spark, sf_dir, confirm_cosine=NEARDUP_BAND_COSINE
    )


def _srp_wide_sigs(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> tuple[DataFrame, list[int]]:
    """(sigs, masks) for the WIDE governor layout — see
    _srp_wide_sigs_tagged for the branch logic; consumers that don't
    key a memo on the signature source use this two-tuple form."""
    sigs, masks, _source = _srp_wide_sigs_tagged(spark, sf_dir, store)
    return sigs, masks


def _srp_wide_sigs_tagged(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> tuple[DataFrame, list[int], str]:
    """(sigs, masks, source) for the WIDE governor layout —
    srp_tables_for(bits) tables, hamming<=SRP_WIDE_RADIUS probe masks.
    Reads the persisted partitionBy(table_id) `srp_sigs_wide` artifact
    of `store`, or of the store index_store.store_for picks when store
    is None (warm environment; width frozen in the manifest; the rows
    also carry the `rs` ranking sketch), else derives live and
    localCheckpoints. ONE provider shared by every wide-layout consumer
    (embedding_neardup_multiprobe_wide, knn_graph_wide,
    semantic_decontaminate_wide) so the layout and the probe masks can
    never drift between screens.

    `source` describes the sigs ACTUALLY RETURNED — the store's
    `store:{root}:{vec_watermark}` tag or `live` — from the ONE
    store_for decision that picked the branch (ADVICE r12: a second
    independent decision could flip between the sig resolution and the
    memo-key derivation, caching store-derived rows under the live
    key), and on the store branch from the same manifest snapshot whose
    watermark filtered the rows, so source-keyed memos always describe
    the relation they hold."""
    from .index_store import store_for

    store = store or store_for(spark, sf_dir, "vecs")
    if store:
        sigs = store.read(spark, "srp_sigs_wide").select("vec_id", "v", "table_id", "sig", "rs")
        return sigs, _srp_probe_masks(store.manifest["srp_bits"], SRP_WIDE_RADIUS), store.tag
    # live path memoized per (application, corpus) — the shingle-set
    # discipline (r12): six wide-layout consumers each re-counted the
    # corpus and re-materialized the checkpoint per CALL, so bench warm
    # passes paid the full sig build again and the session accumulated
    # one orphan checkpoint per query run.

    def build() -> tuple[DataFrame, list[int]]:
        emb = load_table_spread(spark, sf_dir, "embeddings")
        return _wide_sigs_live(emb.select(
            F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
        ))

    sigs, masks = session_memo(spark, "wide_sigs", sf_dir, build)
    return sigs, masks, "live"


def _wide_sigs_live(corpus: DataFrame) -> tuple[DataFrame, list[int]]:
    """(sigs, masks) derived live from a (vec_id, v) relation — the
    cold path of _srp_wide_sigs, factored out so the planted-leak gate
    variant computes the identical layout over its augmented corpus."""
    bits = srp_bits_for(corpus.count())
    tables = srp_tables_for(bits)
    sigs = corpus.select(
        "vec_id", "v",
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("table_id"),
                _srp_signature(F.col("v"), t, bits).alias("sig"),
            )
            for t in range(tables)
        ])).alias("b"),
    ).select("vec_id", "v", "b.table_id", "b.sig").localCheckpoint()
    return sigs, _srp_probe_masks(bits, SRP_WIDE_RADIUS)


def embedding_neardup_multiprobe_wide(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """The production COMPUTE form of the governed near-dup screen: the
    same recall contract (SRP_TARGET_RECALL at SRP_DESIGN_COSINE) met
    by MORE TABLES AT RADIUS 1 instead of radius 2 on 4 tables — see
    srp_tables_for. Probe keys per vector drop tables*sumC(bits,<=2) ->
    tables'*(bits+1) (368 -> 126 at the 100x probe's 13 bits) and the
    candidate join shrinks by the same factor, for 2.25x more
    integer-sized signature rows — the storage-for-compute exchange a
    warehouse makes without blinking (SCALE_100X.md measures both
    forms).

    Same slim-key plan as embedding_neardup_multiprobe (shared helper
    _multiprobe_pairs_from — the forms cannot drift). The recall-path
    difference means the candidate set (and therefore the emitted pair
    set at the exploration floor) legitimately differs from the radius
    form's — the oracle replays these exact tables and masks, and the
    planted-twin test pins the design-point contract. store: as
    _srp_wide_sigs_tagged."""
    sigs, masks, source = _srp_wide_sigs_tagged(spark, sf_dir, store)
    return _multiprobe_pairs_from(
        sigs, masks, NEARDUP_COSINE,
        confirmed=_mp_confirmed_memo(spark, sf_dir, f"wide:{source}", sigs, masks),
    )


def embedding_neardup_wide_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB DEFAULT of the governed near-dup screen: the wide
    layout's compute lever (tables-for-radius — 408 s vs 1047 s at the
    100x probe) COMPOSED with the band emit cut (the low-cosine tail
    never materializes — the r9 band measurement showed the cut bounds
    output, not wall time, so it costs nothing to stack on the cheaper
    layout). Same candidates as embedding_neardup_multiprobe_wide,
    emitted at NEARDUP_BAND_COSINE; every governed-recall pair still
    lands (planted-twin tables in SCALE_100X.md). Shares the
    session-memoized confirmed-pair relation with the floor form and
    the wide graph (_mp_confirmed_memo)."""
    sigs, masks, source = _srp_wide_sigs_tagged(spark, sf_dir)
    return _multiprobe_pairs_from(
        sigs, masks, NEARDUP_BAND_COSINE,
        confirmed=_mp_confirmed_memo(spark, sf_dir, f"wide:{source}", sigs, masks),
    )


MMR_LAMBDA = "0.7"   # relevance weight — EXACT decimal strings, never
MMR_OM = "0.3"       # floats: lambda*rel with rel at 6 dp lands on
                     # 7th-digit halves systematically, where Spark's
                     # shortest-repr HALF_UP and DuckDB's exact-binary
                     # round disagree (_dlit discipline)
MMR_CAND = TOP_K * 3           # candidates feeding the greedy


def ann_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSIFIED top-k retrieval — Maximal Marginal Relevance
    (Carbonell & Goldstein, SIGIR 1998), the standard re-rank RAG
    stacks run so the k passages aren't five near-copies: greedily pick
    argmax over remaining candidates of
        lambda*rel(q,d) - (1-lambda)*max_{s in selected} sim(d,s),
    ties by higher rel then lower id. Candidates are the exact
    brute-force top MMR_CAND per query; every similarity is the
    repo's round-6 cosine so both engines take identical branches.

    Plan: the candidate pass is the brute scorer's single corpus scan +
    per-query top-N window; the greedy itself runs as ONE pure-JVM
    higher-order-function fold per query row (candidates pack into a
    rank-sorted array; F.aggregate over sequence(1,k) appends the best
    remaining candidate, scoring diversity via zip_with dot products
    against the accumulator). No Python in the loop, no extra shuffle —
    the fold is a projection over ~MMR_CAND-sized arrays, which is why
    the greedy costs nothing at any corpus scale: scale lives entirely
    in the candidate pass (at 100 TB you'd swap the brute candidate
    stage for the IVF probe and keep this fold verbatim)."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).filter(F.col("query_id") < N_QUERIES)
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id", "corpus_id", "c_emb",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
            6,
        ).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("corpus_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_CAND)
    )
    packed = cand.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("rn").alias("rn"),
                    F.col("corpus_id").alias("cid"),
                    F.col("rel").alias("rel"),
                    F.col("c_emb").alias("v"),
                    _norm(F.col("c_emb")).alias("nrm"),
                )
            )
        ).alias("cands")
    )

    def _cos6(c, s):
        dot = F.aggregate(
            F.zip_with(c["v"], s["v"], lambda a, b: a * b),
            F.lit(0.0),
            lambda p, q: p + q,
        )
        return F.round(dot / (c["nrm"] * s["nrm"]), 6)

    def _mmr(c, acc):
        maxsim = F.coalesce(
            F.array_max(F.transform(acc, lambda s: _cos6(c, s))), F.lit(0.0)
        )
        # exact decimal: rel/maxsim are round-6 values so the casts are
        # lossless, and the weighted difference rounds deterministically
        return F.round(
            F.lit(MMR_LAMBDA).cast("decimal(2,1)") * c["rel"].cast("decimal(9,6)")
            - F.lit(MMR_OM).cast("decimal(2,1)") * maxsim.cast("decimal(9,6)"),
            6,
        ).cast("decimal(9,6)")

    def _better(x, m):
        return (x["score"] > m["score"]) | (
            (x["score"] == m["score"])
            & (
                (x["rel"] > m["rel"])
                | ((x["rel"] == m["rel"]) & (x["cid"] < m["cid"]))
            )
        )

    def _pick(cands, acc):
        rem = F.filter(
            cands, lambda c: ~F.exists(acc, lambda s: s["cid"] == c["cid"])
        )
        scored_rem = F.transform(
            rem,
            lambda c: F.struct(
                c["cid"].alias("cid"),
                c["rel"].alias("rel"),
                _mmr(c, acc).alias("score"),
                c["v"].alias("v"),
                c["nrm"].alias("nrm"),
            ),
        )
        best = F.aggregate(
            scored_rem,
            F.element_at(scored_rem, 1),
            lambda m, x: F.when(_better(x, m), x).otherwise(m),
        )
        return F.when(F.size(rem) == 0, acc).otherwise(F.array_append(acc, best))

    acc_t = (
        "array<struct<cid:bigint,rel:double,score:decimal(9,6),"
        "v:array<double>,nrm:double>>"
    )
    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(TOP_K)),
        F.expr(f"cast(array() as {acc_t})"),
        lambda acc, _i: _pick(F.col("cands"), acc),
    )
    return (
        packed.select("query_id", F.posexplode(sel))
        .select(
            "query_id",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("col.cid").alias("corpus_id"),
            F.col("col.rel").alias("cosine"),
            F.col("col.score").alias("mmr_score"),
        )
    )


SEM_DECON_REVIEW = 0.25    # any confirmed hit at/above this -> review
SEM_DECON_DROP = 0.35      # same bar as the embedding near-dup screen


def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space
    complement of `ngram_decontaminate` (dedup.py): a training vector
    is contaminated if it is cosine-close to a held-out benchmark
    vector (here the deterministic pseudo-benchmark vec_id % 17 == 0,
    the same convention the n-gram screen uses on doc_id). N-gram
    collision catches verbatim inclusion; THIS screen catches
    paraphrased/translated benchmark leakage that shares no 8-token
    window — the pairing modern curation stacks run (e.g. the
    paraphrase-contamination findings of Yang et al. 2023,
    "Rethinking Benchmark and Contamination ... with Rephrased
    Samples").

    Emits one row per FLAGGED corpus vector: confirmed-hit count, the
    max cosine, the nearest benchmark id (cosine DESC, id ASC — both
    engines replay the tie-break), and drop/review by threshold.

    Plan (the shape that matters at 100 TB): benchmarks are MBs while
    the corpus is the big side, so the benchmark SRP signatures
    BROADCAST and the corpus NEVER shuffles at candidate time — scan
    -> signature projection (pure JVM expressions) -> broadcast-hash
    join on (table, bucket). Only confirmed candidates (tiny) reach
    the one wide shuffle (per-vector window). Bucket width adapts to
    corpus size via srp_bits_for, so candidates-per-probe stay
    constant at any scale; the oracle derives the identical width from
    count(embeddings)."""
    sigs = _srp_signature_table(spark, sf_dir)
    bench = sigs.filter(F.col("vec_id") % 17 == 0)
    corpus = sigs.filter(F.col("vec_id") % 17 != 0)
    cosine = F.round(
        _dot(F.col("c.v"), F.col("b.v")) / (_norm(F.col("c.v")) * _norm(F.col("b.v"))), 6
    )
    cand = (
        corpus.alias("c")
        .join(
            F.broadcast(bench.alias("b")),
            (F.col("c.table_id") == F.col("b.table_id"))
            & (F.col("c.sig") == F.col("b.sig")),
        )
        .select(
            F.col("c.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("bench_id"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= SEM_DECON_REVIEW)
        .dropDuplicates(["vec_id", "bench_id"])
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("bench_id"))
    wc = Window.partitionBy("vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .withColumn("hit_ct", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "hit_ct",
            F.col("cosine").alias("max_cosine"),
            F.col("bench_id").alias("nearest_bench"),
            F.when(F.col("cosine") >= SEM_DECON_DROP, F.lit("drop"))
            .otherwise(F.lit("review"))
            .alias("decision"),
        )
    )


def semantic_decontaminate_wide(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """semantic_decontaminate on the WIDE recall-governed layout — the
    production form of the benchmark-leakage screen (a missed
    contaminated document is the expensive failure mode here, so recall
    is THE contract): same flag/decision semantics, candidates from
    srp_tables_for(bits) tables with hamming<=1 probing instead of the
    4-table home bucket.

    Plan keeps the base form's asymmetry — the BENCH side is the tiny
    side, so the probe explosion runs there (tables x (bits+1) keys per
    benchmark vector, still MBs) and BROADCASTS; the corpus side never
    explodes and never shuffles at candidate time. hamming<=r is
    symmetric, so bench-side probing finds every qualifying
    (corpus, bench) pair. Candidates are bare id pairs (slim-key
    discipline); vectors join back once per distinct pair — corpus
    vectors via one shuffle-free broadcast-probe join, bench vectors
    broadcast again for the cosine confirm. store: as
    _srp_wide_sigs_tagged."""
    sigs, masks = _srp_wide_sigs(spark, sf_dir, store)
    return _sem_decon_wide_from_sigs(sigs, masks)


# The PRODUCTION thresholds of the decontamination screen on a DENSE
# corpus (VERDICT r9 #2 — the same prose-vs-code gap the multiprobe
# floor had): at the 100x probe's density every corpus vector has some
# bench vector above the 0.25 exploration floor among its bucket-mates,
# so the screen flagged 188,236 of ~188,230 vectors — a flag that
# discriminates nothing. The band form reviews from the near-dup band
# (NEARDUP_BAND_COSINE, margin under the design point so every
# governed-recall leak still lands) and drops at the design point
# itself; everything below the band is below any cosine the governor
# certifies recall for, so flagging it was noise, not safety.
SEM_DECON_BAND_REVIEW = NEARDUP_BAND_COSINE   # 0.8 — review floor
SEM_DECON_BAND_DROP = SRP_DESIGN_COSINE       # 0.9 — certain leak


def semantic_decontaminate_band(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """The production EMIT form of the wide decontamination screen:
    same governed layout and recall contract as
    semantic_decontaminate_wide, review/drop thresholds at the design
    band instead of the exploration floor — the dense-corpus
    saturation (SCALE_100X.md r9) never materializes because
    sub-band cosines are filtered at the confirm, before the
    per-vector window shuffle. store: as _srp_wide_sigs_tagged."""
    sigs, masks = _srp_wide_sigs(spark, sf_dir, store)
    return _sem_decon_wide_from_sigs(
        sigs, masks,
        review_cosine=SEM_DECON_BAND_REVIEW,
        drop_cosine=SEM_DECON_BAND_DROP,
    )


# Planted-leak certification fixture for the band screen (VERDICT r10
# #1): at gate scale the corpus contains no pair above the 0.8 band, so
# semantic_decontaminate_band's oracle row hash-matched on 0 rows — a
# vacuous certification. The testdata is read-only, so the plant is
# DERIVED inside the query (and replayed verbatim by the oracle): for
# every DECON_PLANT_EVERY-th benchmark vector the corpus gains
#   - an EXACT COPY (cosine 1.0 — must flag at the drop point), and
#   - a ZERO-PREFIX twin (first DECON_PLANT_ZERO_DIMS coords zeroed —
#     cosine = sqrt(tail mass/total mass) ~ sqrt(1 - 20/64) ~ 0.83,
#     the review band; zeroing is EXACT float arithmetic, so no
#     cross-engine rounding argument is needed for the vector values).
# Plant ids sit at huge offsets whose residue mod 17 is nonzero, so
# they land corpus-side and never collide with real ids.
DECON_PLANT_EVERY = 5                    # plant from every 5th bench vector
DECON_PLANT_COPY_OFFSET = 1_000_000_001  # ≡ 8 (mod 17)
DECON_PLANT_ZERO_OFFSET = 2_000_000_002  # ≡ 16 (mod 17)
DECON_PLANT_ZERO_DIMS = 20

assert DECON_PLANT_COPY_OFFSET % 17 != 0 and DECON_PLANT_ZERO_OFFSET % 17 != 0


def _decon_planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v) of the corpus plus the derived plants."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    src = base.filter(F.col("vec_id") % (17 * DECON_PLANT_EVERY) == 0)
    copies = src.select(
        (F.col("vec_id") + F.lit(DECON_PLANT_COPY_OFFSET)).alias("vec_id"), "v"
    )
    zeroed = src.select(
        (F.col("vec_id") + F.lit(DECON_PLANT_ZERO_OFFSET)).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: F.when(i < F.lit(DECON_PLANT_ZERO_DIMS), F.lit(0.0)).otherwise(x),
        ).alias("v"),
    )
    return base.unionByName(copies).unionByName(zeroed)


# session memo of the plant-augmented wide sigs shared by BOTH planted
# gate fixtures (near-dup band + decontamination band), keyed on the
# corpus: each call used to re-count the augmented corpus and
# re-localCheckpoint its signature table — one full rebuild
# plus one leaked block-manager checkpoint per gate replay (r13; the
# plants are a pure derivation of the immutable corpus, so the live
# wide-sigs discipline applies verbatim).
def _planted_wide_sigs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[int]]:
    return session_memo(
        spark, "planted_wide_sigs", sf_dir,
        lambda: _wide_sigs_live(_decon_planted_corpus(spark, sf_dir)),
    )


def semantic_decontaminate_band_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_decontaminate_band over the plant-augmented corpus —
    the gate-certifiable form of the production decontamination
    contract: identical screen (same _sem_decon_wide_from_sigs helper,
    same band thresholds, same governed wide layout — bits/tables
    re-derived from the augmented count), non-empty at sf0.01 because
    the exact-copy plants are guaranteed drop-point hits (identical
    SRP signatures → home-bucket collision in every table). On
    unplanted ids the output must equal the unplanted screen's
    (tests/test_round11_ops.py pins this), so the certification reads
    onto semantic_decontaminate_band directly."""
    sigs, masks = _planted_wide_sigs(spark, sf_dir)
    return _sem_decon_wide_from_sigs(
        sigs, masks,
        review_cosine=SEM_DECON_BAND_REVIEW,
        drop_cosine=SEM_DECON_BAND_DROP,
    )


def embedding_neardup_band_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_neardup_wide_band over the plant-augmented corpus —
    the gate-certifiable form of the production near-dup EMIT contract
    (VERDICT r11 #1: at gate scale no real pair sits above the 0.8
    band, so the band row hash-matched on 0 rows — it certified the
    schema of nothing). Same fixture as the decontamination twin
    (_decon_planted_corpus — exact copies pair at cosine 1.0, zero-
    prefix twins at ~0.83, both inside the band), same screen as the
    100 TB default (shared _wide_sigs_live + _multiprobe_pairs_from
    helpers, band emit threshold — the forms cannot drift). The
    exact-copy plants are GUARANTEED emits: an identical vector has
    the identical signature in every table, so the mask-0 probe hits
    its source's home bucket and the confirm lands on cosine 1.0 ≥
    band. On unplanted pairs the output must equal the unplanted
    wide-band screen's (tests/test_round12_ops.py pins this), so the
    certification reads onto embedding_neardup_wide_band directly."""
    sigs, masks = _planted_wide_sigs(spark, sf_dir)
    return _multiprobe_pairs_from(
        sigs, masks, NEARDUP_BAND_COSINE,
        confirmed=_mp_confirmed_memo(
            spark, sf_dir, "wide-planted:live", sigs, masks
        ),
    )


def _sem_decon_wide_from_sigs(
    sigs: DataFrame,
    masks: list[int],
    review_cosine: float = SEM_DECON_REVIEW,
    drop_cosine: float = SEM_DECON_DROP,
) -> DataFrame:
    """The bench-probe/broadcast/confirm plan shared by
    semantic_decontaminate_wide, its design-band production form, and
    the persisted-index twin. review_cosine gates candidate emission
    (applied at the confirm, so the flagged set — and the window
    shuffle behind hit_ct — is bounded by it); drop_cosine splits
    drop from review among the flagged."""
    slim = sigs.select("vec_id", "table_id", "sig")
    corpus = slim.filter(F.col("vec_id") % 17 != 0)
    bench_probes = (
        slim.filter(F.col("vec_id") % 17 == 0)
        .select(
            F.col("vec_id").alias("bench_id"),
            "table_id",
            F.explode(
                F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("probe_sig"),
        )
    )
    cand_ids = (
        corpus.alias("c")
        .join(
            F.broadcast(bench_probes.alias("b")),
            (F.col("c.table_id") == F.col("b.table_id"))
            & (F.col("c.sig") == F.col("b.probe_sig")),
        )
        .select(F.col("c.vec_id").alias("vec_id"), "bench_id")
        .dropDuplicates(["vec_id", "bench_id"])
    )
    vecs = sigs.filter(F.col("table_id") == 0).select(
        F.col("vec_id").alias("v_id"), "v"
    )
    # only the BENCH vectors broadcast for the confirm (1/17 of the
    # corpus — broadcasting the full vector table would ship 17x the
    # bytes and blow the broadcast limit at the scale this screen is
    # framed for; the join key is always a bench id)
    bench_vecs = vecs.filter(F.col("v_id") % 17 == 0)
    cosine = F.round(
        _dot(F.col("cv.v"), F.col("bv.v")) / (_norm(F.col("cv.v")) * _norm(F.col("bv.v"))), 6
    )
    cand = (
        cand_ids.join(vecs.alias("cv"), cand_ids.vec_id == F.col("cv.v_id"))
        .join(F.broadcast(bench_vecs.alias("bv")), cand_ids.bench_id == F.col("bv.v_id"))
        .select("vec_id", "bench_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(review_cosine))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("bench_id"))
    wc = Window.partitionBy("vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .withColumn("hit_ct", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "hit_ct",
            F.col("cosine").alias("max_cosine"),
            F.col("bench_id").alias("nearest_bench"),
            F.when(F.col("cosine") >= F.lit(drop_cosine), F.lit("drop"))
            .otherwise(F.lit("review"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# Product Quantization (PQ) — Jégou et al., "Product Quantization for
# Nearest Neighbor Search" (TPAMI 2011), the standard embedding
# compression behind FAISS IndexPQ: split each vector into PQ_M
# subvectors, k-means each subspace into PQ_K codes, store PQ_M bytes
# per vector (here 8 bytes vs 512 — 64x), score queries against the
# RECONSTRUCTED vectors (asymmetric distance computation, ADC).
# ---------------------------------------------------------------------------

PQ_M = 8                  # subspaces
PQ_SUB = SRP_DIM // PQ_M  # dims per subspace
PQ_K = 16                 # codes per subspace (4-bit PQ)
PQ_ITERS = 2              # fixed Lloyd rounds, oracle-replayable
PQ_TRAIN_PER_CODE = 32    # sample budget per code, FAISS-style
PQ_SHORTLIST = TOP_K * 10 # ADC shortlist width before exact rerank —
                          # PQ shortlists run wide (FAISS k_factor-style)
                          # because 4-bit reconstruction blurs fine ranks


def pq_train_mod(n: int) -> int:
    return max(1, n // (PQ_K * PQ_TRAIN_PER_CODE))


def _py_l2_6(a: list[float], b: list[float]) -> float:
    """Squared L2 by sequential left fold, HALF_UP-rounded at 6 dp —
    bit-equal to the Spark zip_with/aggregate fold and DuckDB's
    list_dot_product over the element-difference list (probed bit-exact
    across all three engines)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return _round6_half_up(acc)


def _pq_codebooks_spec(sample: list[tuple[int, list[float]]]) -> list[list[tuple[int, list[float]]]]:
    """Driver-side PQ training, exact-replay semantics per subspace:
    seeds are the PQ_K lowest-id sample subvectors; assignment is
    round-6 squared-L2 with smallest-code tiebreak; centroids are true
    MEANS (L2 k-means — reconstruction needs magnitudes, unlike the
    spherical IVF quantizer) computed as exact decimal(18,9) element
    sums divided by member count, rounded HALF_UP at 6 dp. Every step
    is replayed verbatim by the DuckDB oracle."""
    books: list[list[tuple[int, list[float]]]] = []
    for m in range(PQ_M):
        vecs = [v[m * PQ_SUB:(m + 1) * PQ_SUB] for _, v in sample]
        cent = [(c, vecs[c]) for c in range(min(PQ_K, len(vecs)))]
        for _ in range(PQ_ITERS):
            members: dict[int, list[list[float]]] = {}
            for v in vecs:
                best = min((_py_l2_6(v, cv), c) for c, cv in cent)
                members.setdefault(best[1], []).append(v)
            cent = [
                (
                    c,
                    [
                        _round6_half_up(
                            float(sum((_dec9(v[i]) for v in members[c]), start=_dec9(0.0)))
                            / len(members[c])
                        )
                        for i in range(PQ_SUB)
                    ],
                )
                for c in sorted(members)
            ]
        books.append(cent)
    return books


def _pq_cached_codebooks(spark: SparkSession, sf_dir: str, corpus: DataFrame):
    def build():
        n = corpus.count()
        mod = pq_train_mod(n)
        rows = (
            corpus.filter(F.col("corpus_id") % mod == 0)
            .select("corpus_id", "c_emb")
            .collect()
        )
        sample = sorted((int(r.corpus_id), [float(x) for x in r.c_emb]) for r in rows)
        return _pq_codebooks_spec(sample)

    return session_memo(spark, "pq_codebooks", sf_dir, build)


def _l2_6(a, b):
    return F.round(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v),
        6,
    )


def _pq_codes_expr(books: list[list[tuple[int, list[float]]]]):
    """The PQ CODE WORD for `c_emb` — array of PQ_M nearest-codebook-
    entry ids (round-6 squared-L2, smallest code on ties; the same
    assignment _pq_recon_expr makes inline). This is what a real index
    persists: PQ_M small ints per vector instead of the full-precision
    floats — the index_store writes this column and reconstructs at
    read time via _pq_recon_from_codes."""
    parts = []
    for m, cent in enumerate(books):
        subv = F.slice("c_emb", m * PQ_SUB + 1, PQ_SUB)
        scored = F.array(*[
            F.struct(_l2_6(subv, F.array(*[F.lit(x) for x in cv])).alias("d"),
                     F.lit(c).alias("code"))
            for c, cv in cent
        ])
        parts.append(F.sort_array(scored).getItem(0).getField("code"))
    return F.array(*parts)


def _pq_recon_from_codes(books: list[list[tuple[int, list[float]]]], codes_col):
    """Codebook reconstruction from a STORED codes column (the read
    side of the persisted PQ artifact): per subspace, a literal-map
    lookup of the code — no distance computation at read time."""
    recon_parts = []
    for m, cent in enumerate(books):
        lookup = F.create_map(*[
            e for c, cv in cent
            for e in (F.lit(c), F.array(*[F.lit(x) for x in cv]))
        ])
        recon_parts.append(F.element_at(lookup, F.element_at(codes_col, m + 1)))
    return F.concat(*recon_parts)


def _pq_recon_expr(books: list[list[tuple[int, list[float]]]]):
    """PQ encode+reconstruct as ONE codegen expression over `c_emb`:
    per subspace, nearest codebook entry by round-6 squared-L2 (smallest
    code on ties — sort_array over (d, code) structs), then the
    codebook vector looked up from a literal map; subspace
    reconstructions concat back to full width. The codebook is ~8 KB of
    plan literals — the broadcast-as-constants pattern the IVF
    centroids use. Shared by ann_pq_adc and ann_ivfpq_topk."""
    recon_parts = []
    for m, cent in enumerate(books):
        subv = F.slice("c_emb", m * PQ_SUB + 1, PQ_SUB)
        scored = F.array(*[
            F.struct(_l2_6(subv, F.array(*[F.lit(x) for x in cv])).alias("d"),
                     F.lit(c).alias("code"))
            for c, cv in cent
        ])
        code = F.sort_array(scored).getItem(0).getField("code")
        lookup = F.create_map(*[
            e for c, cv in cent
            for e in (F.lit(c), F.array(*[F.lit(x) for x in cv]))
        ])
        recon_parts.append(F.element_at(lookup, code))
    return F.concat(*recon_parts)


def _pq_encoded_cells(
    spark: SparkSession, sf_dir: str, corpus: DataFrame, cent, books
) -> DataFrame:
    """The PQ-encoded, cell-assigned corpus — r_emb (the codebook
    reconstruction) alongside the IVF cell — materialized once per
    (application, corpus, quantizer+codebook). This IS the write-time
    artifact the docstrings promise ('codes are precomputed at write
    time alongside the cell assignment'): the encode expression is a
    large interpreted higher-order-function tree, so evaluating it once
    and checkpointing turns every later ADC scan (ann_pq_adc full scan,
    ann_ivfpq_topk probed cells) into a cheap read, exactly like the
    persisted PQ codes of a FAISS index."""
    fp = hashlib.md5((repr(cent) + repr(books)).encode()).hexdigest()[:16]
    return session_memo(
        spark, "pq_encoded_cells", sf_dir,
        lambda: _cached_cells(spark, sf_dir, corpus, cent).withColumn(
            "r_emb", _pq_recon_expr(books)
        ).localCheckpoint(),
        version=fp,
    )


def ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, store: Store | None = None
) -> DataFrame:
    """IVF-PQ (the production FAISS composite, both scale levers at
    once): the trained coarse quantizer prunes the SEARCH SPACE — a
    query touches only its nearest cell's inverted list, a
    partition-pruned read at warehouse scale — and PQ compresses the
    SCANNED BYTES — vectors in the probed list score against their
    4-bit-code reconstruction (~1.6% of the float64 bytes), with only
    the ADC shortlist touching full-precision vectors for the exact
    rerank. Same memoized quantizer as ann_ivf_topk, same memoized
    codebooks as ann_pq_adc; the PQ encode runs AFTER the probe join,
    so only probed-cell rows evaluate it (at scale codes are
    precomputed at write time alongside the cell assignment).

    store (the *_from_index twin): the cells and the PQ code words are
    read from their co-partitioned partitionBy(cell) tables and the
    probed rows reconstructed from the STORED codes by a literal-map
    lookup of the manifest codebooks (no distance computation at read
    time); the ADC shortlist then joins back to the full-precision
    cells rows for the exact rerank. None derives live."""
    cells, queries, cent = _ivf_inputs(spark, sf_dir, store)
    if store:
        enc = store.read(spark, "pq_codes").select("corpus_id", "codes", "cell")
    else:
        corpus = _ivf_corpus_queries(spark, sf_dir)[0]
        books = _pq_cached_codebooks(spark, sf_dir, corpus)
        enc = _pq_encoded_cells(spark, sf_dir, corpus, cent, books)
    probed = _probe_cells(queries, cent, 1).select(
        "query_id", "q_emb", "q_norm", F.col("cell").alias("probe_cell")
    )
    with_recon = enc.join(F.broadcast(probed), enc.cell == probed.probe_cell, "inner")
    if store:
        recon = _pq_recon_from_codes(store.manifest["pq_books"], F.col("codes"))
        with_recon = with_recon.withColumn("r_emb", recon)
    adc = F.round(
        _dot(F.col("q_emb"), F.col("r_emb")) / (F.col("q_norm") * _norm(F.col("r_emb"))), 6
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("corpus_id"))
    exact_src = [] if store else ["c_emb", "c_norm"]
    shortlist = (
        with_recon.select("query_id", "probe_cell", "corpus_id", *exact_src, "q_emb", "q_norm", adc.alias("adc_cosine"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= PQ_SHORTLIST)
    )
    rerank = shortlist
    if store:
        # rerank join keeps the cell equi-condition so the second
        # ivf_cells read is ALSO pruned to the probed partition —
        # without it the shortlist's corpus_id join scans every cell
        # and rerank cost grows with the corpus
        rerank = shortlist.join(
            cells,
            (shortlist.corpus_id == cells.corpus_id) & (shortlist.probe_cell == cells.cell),
        )
    exact = F.round(
        _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        rerank.select(
            shortlist.query_id, "probe_cell", shortlist.corpus_id,
            "adc_cosine", exact.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "probe_cell", "rank", "corpus_id", "cosine", "adc_cosine")
    )


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN via asymmetric distance computation: corpus
    vectors live as PQ_M 4-bit codes (64x smaller than float64), the
    query scores against each vector's RECONSTRUCTION (codebook
    concatenation) — at 100 TB the scored scan reads ~1.6% of the
    embedding bytes, and the codebook (PQ_M x PQ_K x PQ_SUB doubles,
    ~8 KB) broadcasts as plan literals exactly like the IVF centroids.
    Output carries both the ADC score (what the index ranks by) and
    the exact cosine of the surviving top-k (the rerank a production
    stack would serve).

    Training is a driver-side sample collect (the FAISS pattern — a
    quantizer never sees the full corpus) memoized per session;
    encoding + scoring are pure codegen expressions, one window per
    query for the top-k."""
    corpus, queries = _ivf_corpus_queries(spark, sf_dir)
    cent = _ivf_cached_centroids(spark, sf_dir, corpus)
    books = _pq_cached_codebooks(spark, sf_dir, corpus)
    encoded = _pq_encoded_cells(spark, sf_dir, corpus, cent, books).select(
        "corpus_id", "c_emb", "r_emb"
    )
    adc = F.round(
        _dot(F.col("q_emb"), F.col("r_emb"))
        / (_norm(F.col("q_emb")) * _norm(F.col("r_emb"))),
        6,
    )
    exact = F.round(
        _dot(F.col("q_emb"), F.col("c_emb"))
        / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
        6,
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"), F.asc("corpus_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        encoded.crossJoin(F.broadcast(queries))
        .select("query_id", "corpus_id", "c_emb", "q_emb", adc.alias("adc_cosine"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= PQ_SHORTLIST)
        .select("query_id", "corpus_id", "adc_cosine", exact.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "corpus_id", "cosine", "adc_cosine")
    )


SQ8_LEVELS = 254  # int8 code range 0..254 (255 levels), FAISS SQ8-style


def ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact rerank — the COMPRSSED-
    domain scale path that complements IVF's pruning path: each corpus
    vector is stored as 64 int8 codes (per-dimension min/max affine
    quantization, the FAISS ScalarQuantizer recipe), an 8x memory/IO
    reduction, scored approximately in the compressed domain, and only
    TOP_K*RERANK_FACTOR candidates per query touch the full-precision
    vectors. At 100 TB the full-precision corpus stays on cold storage;
    the scan reads the codes table (12.5% of the bytes) and the rerank
    is a candidates-only join — the same confirm-candidates-only shape
    as the LSH dedup family.

    Determinism: per-dim min/max are exact double aggregates both
    engines compute identically; codes use FLOOR(x + 0.5) (identical
    floor semantics everywhere, no ROUND half-mode trap); approx and
    exact cosines round to 6 dp with corpus_id tiebreaks. The stats
    row stays IN-PLAN (1-row broadcast crossJoin) — no driver collect."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).filter(F.col("query_id") < N_QUERIES)

    stats = (
        corpus.select(F.posexplode("c_emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s"))
        .select(
            F.transform("s", lambda e: e.mn).alias("mn_arr"),
            F.transform("s", lambda e: (e.mx - e.mn) / float(SQ8_LEVELS)).alias("sc_arr"),
        )
    )
    with_stats = corpus.crossJoin(F.broadcast(stats))
    codes = F.zip_with(
        F.zip_with(F.col("c_emb"), F.col("mn_arr"), lambda x, m: x - m),
        F.col("sc_arr"),
        lambda d, s: F.when(s == 0.0, 0.0).otherwise(F.floor(d / s + 0.5).cast("double")),
    )
    dequant = F.zip_with(
        F.zip_with(codes, F.col("sc_arr"), lambda c, s: c * s),
        F.col("mn_arr"),
        lambda t, m: t + m,
    )
    dq = with_stats.select("corpus_id", "c_emb", dequant.alias("dq_emb"))

    approx = dq.crossJoin(F.broadcast(queries)).select(
        "query_id", "corpus_id", "c_emb", "q_emb",
        F.round(
            _dot(F.col("q_emb"), F.col("dq_emb"))
            / (_norm(F.col("q_emb")) * _norm(F.col("dq_emb"))),
            6,
        ).alias("approx_cosine"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("approx_cosine"), F.asc("corpus_id"))
    cand = approx.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= TOP_K * RERANK_FACTOR
    )
    fine = cand.select(
        "query_id", "corpus_id", "approx_cosine",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        fine.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "corpus_id", "cosine", "approx_cosine")
    )


# Radius (range) search: all corpus vectors with cosine >= RANGE_TAU.
# Threshold calibrated to the synthetic corpus (near-orthogonal 64-dim
# vectors: max query-corpus cosine ~0.49 at sf0.01) so results are
# non-empty at every sf. RANGE_EPS absorbs float-fold noise AND the
# 6-dp HALF_UP rounding of the final cosine (a raw cosine of tau-5e-7
# rounds UP to tau and must survive the screen).
RANGE_TAU = 0.35
RANGE_EPS = 1e-6


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query (FAISS range_search): EVERY corpus vector within a
    cosine threshold of each query — the retrieval API dedup-style
    consumers need when "how many neighbors" is data-dependent (top-k
    truncates real matches and pads with noise).

    EXACT results via compressed-domain filter-and-refine: the corpus
    is screened with its SQ8 codes (the ann_sq8_rerank quantizer — 8x
    less IO at scale), but unlike a heuristic shortlist the screen
    keeps everything whose quantization-error UPPER BOUND could still
    clear the threshold: dot(q,x) <= dot(q, dequant(x)) + sum_i
    |q_i|*step_i/2 (per-dim reconstruction error is at most half a
    quantization step; no clipping — codes span the corpus min/max by
    construction), so with the exact stored norm the screened-out pairs
    PROVABLY fall below tau and recall is 100% — the oracle is plain
    brute force, not a replay of the screen. On near-orthogonal
    embeddings the bound sits ~0.01 above the true cosine, so the
    exact-confirm stage touches a tiny candidate fraction
    (tests/test_round6_ops.py bounds it at <25% of all pairs).

    At 100 TB: the screen scans the codes table (with the norm stored
    alongside, the write-time artifact SQ8 indexes persist), queries
    broadcast, candidates-only rows read the full-precision vectors —
    the confirm-candidates-only shape the LSH dedup family uses."""
    cand = _range_search_candidates(spark, sf_dir)
    return (
        cand.select(
            "query_id",
            "corpus_id",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_TAU)
    )


def _range_search_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed-domain screen — its own seam so the pruning test
    bounds the CANDIDATE count, not just the verified output."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    ).filter(F.col("query_id") < N_QUERIES)

    stats = (
        corpus.select(F.posexplode("c_emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s"))
        .select(
            F.transform("s", lambda e: e.mn).alias("mn_arr"),
            F.transform("s", lambda e: (e.mx - e.mn) / float(SQ8_LEVELS)).alias("sc_arr"),
        )
    )
    with_stats = corpus.crossJoin(F.broadcast(stats))
    codes = F.zip_with(
        F.zip_with(F.col("c_emb"), F.col("mn_arr"), lambda x, m: x - m),
        F.col("sc_arr"),
        lambda d, s: F.when(s == 0.0, 0.0).otherwise(F.floor(d / s + 0.5).cast("double")),
    )
    dequant = F.zip_with(
        F.zip_with(codes, F.col("sc_arr"), lambda c, s: c * s),
        F.col("mn_arr"),
        lambda t, m: t + m,
    )
    # at scale (dq_emb, c_norm) IS the stored codes artifact; c_emb is
    # carried here only for the confirm projection
    dq = with_stats.select(
        "corpus_id", "c_emb", dequant.alias("dq_emb"), _norm(F.col("c_emb")).alias("c_norm")
    )

    q_side = queries.crossJoin(F.broadcast(stats)).select(
        "query_id",
        "q_emb",
        _norm(F.col("q_emb")).alias("q_norm"),
        (
            F.aggregate(
                F.zip_with(F.col("q_emb"), F.col("sc_arr"), lambda q, s: F.abs(q) * s),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / 2
        ).alias("q_slack"),
    )
    ub = (_dot(F.col("q_emb"), F.col("dq_emb")) + F.col("q_slack")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    return dq.crossJoin(F.broadcast(q_side)).filter(ub >= RANGE_TAU - RANGE_EPS)


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding corpus —
    the batch QA step before indexing (a dead dimension, a variance
    collapse, or an exploded range signals a bad embedding run, and
    the min/max feed the SQ8 quantizer directly). One posexplode +
    one 64-key aggregate with map-side combine; sums run in exact
    DECIMAL so the profile is order-independent and hash-stable."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    x = F.col("x")
    exploded = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    s1 = F.sum(F.round(x, 9).cast("decimal(28,9)"))
    s2 = F.sum(F.round(x * x, 12).cast("decimal(28,12)"))
    agg = exploded.groupBy("pos").agg(
        F.count("*").alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    mean = F.round(F.col("s1").cast("double") / F.col("n").cast("double"), 9)
    var = F.round(
        F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean, 9
    )
    return agg.select(
        "pos", "n",
        mean.alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9).alias("std"),
        F.round("mn", 9).alias("mn"),
        F.round("mx", 9).alias("mx"),
    ).orderBy("pos")


PCA_ITERS = 3


def sq8_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression QA for the SQ8 index: per label, the reconstruction
    fidelity of the scalar quantizer — mean and worst 6-dp
    cosine(original, dequantized) plus the vector count — the
    ship/no-ship readout a pipeline checks BEFORE swapping the
    full-precision index for the 8x-smaller codes table (a label whose
    worst-case cosine dips below the recall budget keeps full
    precision; the rest compress). Shares ann_sq8_rerank's quantizer
    recipe (per-dim min/max affine, FLOOR(x+0.5) codes), so the report
    measures exactly the codes that index would serve.

    Plan: per-dim min/max is one bounded aggregate folded to a 1-row
    broadcast (64 mins + 64 scales as plan literals); codes, dequant,
    and cosine are pure array expressions in the scan projection; the
    rollup is one label-keyed aggregate whose mean uses 6-dp decimal
    summands (order-independent, engine-identical)."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "label",
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    stats = (
        corpus.select(F.posexplode("c_emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s"))
        .select(
            F.transform("s", lambda e: e.mn).alias("mn_arr"),
            F.transform("s", lambda e: (e.mx - e.mn) / float(SQ8_LEVELS)).alias("sc_arr"),
        )
    )
    codes = F.zip_with(
        F.zip_with(F.col("c_emb"), F.col("mn_arr"), lambda x, m: x - m),
        F.col("sc_arr"),
        lambda d, s: F.when(s == 0.0, 0.0).otherwise(F.floor(d / s + 0.5).cast("double")),
    )
    dequant = F.zip_with(
        F.zip_with(codes, F.col("sc_arr"), lambda c, s: c * s),
        F.col("mn_arr"),
        lambda v, m: v + m,
    )
    cos = _cos6(F.col("c_emb"), dequant).cast("decimal(9,6)")
    per_vec = corpus.crossJoin(F.broadcast(stats)).select("label", cos.alias("cos"))
    return per_vec.groupBy("label").agg(
        F.count("*").alias("vec_ct"),
        F.round(
            F.sum(F.col("cos").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).cast("decimal(9,6)").alias("mean_cos"),
        F.min("cos").alias("worst_cos"),
    )


def embedding_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus via POWER
    ITERATION over the covariance matrix — the whitening/decorrelation
    primitive (and the building block of spectral hashing / PCA'd PQ).
    One corpus-scale pass builds C = E[(x-m)(x-m)^T] as 64x64 = 4096
    decimal-summed cells (the X^T X outer-product aggregation, map-side
    combinable — the only thing that scales with the corpus); the
    PCA_ITERS matvec+normalize rounds then run over the 4096-row C and
    a 64-row vector. Every step follows the repo rounding discipline
    (terms rounded into DECIMAL before summing, vectors re-rounded at
    6 dp), so the unrolled DuckDB oracle hash-matches bit-for-bit.

    Output: (pos, loading) for the final unit vector plus the Rayleigh-
    style lambda estimate (||C v|| of the last round)."""
    emb = load_table_spread(spark, sf_dir, "embeddings")
    vecs = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    n1 = vecs.agg(F.count("*").alias("n"))
    means = (
        vecs.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.round(F.col("x"), 9).cast("decimal(28,9)")).alias("s"))
        .crossJoin(F.broadcast(n1))
        .select("pos", F.round(F.col("s").cast("double") / F.col("n").cast("double"), 6).alias("mean"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("ms"))
        .select(F.transform("ms", lambda e: e.mean).alias("m"))
    )
    d = SRP_DIM
    # Full d*d = 4096 terms per vector, deliberately NOT the
    # upper-triangle-then-mirror variant: measured head-to-head at
    # sf0.1, the ragged sequence(i, d-1) inner loop runs ~20% SLOWER
    # than this constant-shape double loop despite half the terms
    # (variable-length nested transform + flatten defeats the
    # expression fusion the rectangular loop gets), and the mirror
    # union added a second pass over the cells on top.
    pair_terms = F.expr(
        f"flatten(transform(sequence(0, {d - 1}), i -> "
        f"transform(sequence(0, {d - 1}), j -> "
        f"struct(i AS i, j AS j, "
        f"cast(round((v[i] - m[i]) * (v[j] - m[j]), 12) as decimal(28,12)) AS t))))"
    )
    cov = (
        vecs.crossJoin(F.broadcast(means))
        .select(F.explode(pair_terms).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.sum("p.t").alias("st"))
        .crossJoin(F.broadcast(n1))
        .select(
            "i", "j",
            F.round(F.col("st").cast("double") / F.col("n").cast("double"), 9).alias("c"),
        )
    )
    # checkpoint the 4096 cells — every matvec iteration re-reads C,
    # and without the checkpoint each of the PCA_ITERS rounds would
    # replay the corpus-scale aggregate. Memoized per (application,
    # corpus) since r13 (the SRP signature-table discipline): C is a
    # pure function of the immutable corpus, and rebuilding the one
    # corpus-scale pass per CALL was the query's whole warm cost.
    cov = session_memo(spark, "pca_cov", sf_dir, cov.localCheckpoint)
    # v0 = e_1 (unit basis vector)
    v = spark.range(d).select(
        F.col("id").cast("int").alias("j"),
        F.when(F.col("id") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("vj"),
    )
    norm = None
    for _ in range(PCA_ITERS):
        u = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.round(F.col("c") * F.col("vj"), 12).cast("decimal(28,12)")).alias("su"))
            .select("i", F.col("su").cast("double").alias("u"))
            # d-row matvec result, referenced TWICE per round (the norm
            # aggregate and the renormalized v) with each round nesting
            # the last — without the checkpoint the final plan replays
            # the first matvec 2^PCA_ITERS times (r13: executed plan
            # 22 -> 8 exchanges, warm ~4.8 -> ~1.6 s)
            .localCheckpoint(eager=False)
        )
        nrm = u.agg(
            F.sqrt(
                F.sum(F.round(F.col("u") * F.col("u"), 12).cast("decimal(28,12)")).cast("double")
            ).alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"),
            F.round(F.col("u") / F.col("nrm"), 6).alias("vj"),
        )
        norm = nrm
    return (
        v.crossJoin(F.broadcast(norm))
        .select(
            F.col("j").alias("pos"),
            F.col("vj").alias("loading"),
            F.round("nrm", 6).alias("lambda_est"),
        )
        .orderBy("pos")
    )


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_cosine_topk_arrow": ann_cosine_topk_arrow,  # hash-exact (GEMM + boundary recompute)
    "knn_label_vote": knn_label_vote,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_multiprobe": ann_ivf_multiprobe,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_recall_report": ann_recall_report,
    "embedding_cluster_profile": embedding_cluster_profile,
    "hard_negative_mining": hard_negative_mining,
    "ann_filtered_topk": ann_filtered_topk,
    "semantic_dedup": semantic_dedup,
    "ann_truncated_rerank": ann_truncated_rerank,
    "ann_sq8_rerank": ann_sq8_rerank,
    "ann_range_search": ann_range_search,
    "sq8_quantization_error": sq8_quantization_error,
    "ann_pq_adc": ann_pq_adc,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_principal_component": embedding_principal_component,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "embedding_neardup_multiprobe": embedding_neardup_multiprobe,
    "embedding_neardup_multiprobe_band": embedding_neardup_multiprobe_band,
    "embedding_neardup_multiprobe_wide": embedding_neardup_multiprobe_wide,
    "embedding_neardup_wide_band": embedding_neardup_wide_band,
    "embedding_neardup_band_planted": embedding_neardup_band_planted,
    "knn_graph": knn_graph,
    "knn_graph_wide": knn_graph_wide,
    "knn_graph_wide_capped": knn_graph_wide_capped,
    "knn_graph_candidate_overflow": knn_graph_candidate_overflow,
    "semantic_decontaminate": semantic_decontaminate,
    "semantic_decontaminate_wide": semantic_decontaminate_wide,
    "semantic_decontaminate_band": semantic_decontaminate_band,
    "semantic_decontaminate_band_planted": semantic_decontaminate_band_planted,
    "ann_mmr_topk": ann_mmr_topk,
}


def _mmr_oracle() -> str:
    """Unrolled greedy: TOP_K chained selection steps (no recursion —
    each step's argmax is a window over the not-yet-selected
    candidates, diversity via a correlated MAX over precomputed
    candidate-pair cosines). Semantically identical to the Spark fold;
    deliberately a different shape so the two engines can't share a
    bug."""
    base = f"""
    WITH corpus AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scoredall AS (
        SELECT query_id, cid, v,
               {_duck_cos('q_emb', 'v')} AS rel
        FROM corpus, queries
    ), cand AS (
        SELECT query_id, cid, v, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rel DESC, cid ASC) AS rn
            FROM scoredall
        ) WHERE rn <= {MMR_CAND}
    ), pairs AS (
        SELECT a.query_id, a.cid AS a, b.cid AS b,
               {_duck_cos('a.v', 'b.v')} AS cos
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.cid <> b.cid
    ), selall0 AS (
        SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS cid,
               CAST(NULL AS DOUBLE) AS rel, CAST(NULL AS DECIMAL(9,6)) AS score,
               0 AS rank
        WHERE 1 = 0
    )"""
    steps = []
    prev = "selall0"
    for i in range(1, TOP_K + 1):
        steps.append(f""", sel{i} AS (
        SELECT query_id, cid, rel, score, {i} AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, rel DESC, cid ASC) AS rn
            FROM (
                SELECT c.query_id, c.cid, c.rel,
                       CAST(ROUND(
                           CAST({MMR_LAMBDA} AS DECIMAL(2,1))
                             * CAST(c.rel AS DECIMAL(9,6))
                           - CAST({MMR_OM} AS DECIMAL(2,1))
                             * CAST(COALESCE((
                               SELECT MAX(p.cos) FROM pairs p
                               WHERE p.query_id = c.query_id AND p.a = c.cid
                                 AND p.b IN (SELECT s.cid FROM {prev} s
                                             WHERE s.query_id = c.query_id)
                           ), 0.0) AS DECIMAL(9,6)), 6) AS DECIMAL(9,6)) AS score
                FROM cand c
                WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                                  WHERE s.query_id = c.query_id AND s.cid = c.cid)
            )
        ) WHERE rn = 1
    ), selall{i} AS (
        SELECT * FROM {prev}
        UNION ALL SELECT query_id, cid, rel, score, rank FROM sel{i}
    )""")
        prev = f"selall{i}"
    return base + "".join(steps) + f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, cid AS corpus_id,
           rel AS cosine, score AS mmr_score
    FROM {prev}
    """

def _duck_cos(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )


def _ivf_cells_cte() -> tuple[str, str]:
    """WITH-chain replaying the spherical-k-means coarse quantizer in
    DuckDB up to the per-vector cell assignment (`cells`): same training
    sample (corpus_id % tmod = 0), same seeds (nlist lowest sample ids),
    same nlist/tmod formulas, same fixed IVF_ITERS rounds of round-6
    cosine assignment + exact-decimal element sums — so both engines
    derive identical cells at every scale factor. Shared prefix of the
    ann_ivf_* oracles and the semantic_dedup oracle."""
    parts = [f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), cfg AS (
        SELECT nlist, GREATEST(1, CAST(FLOOR(cnt / (nlist * {IVF_TRAIN_PER_CELL}.0)) AS INTEGER)) AS tmod
        FROM (
            SELECT COUNT(*) AS cnt,
                   CAST(LEAST({IVF_MAX_CELLS}, GREATEST({IVF_MIN_CELLS},
                        CEIL(COUNT(*) / {IVF_TARGET_CELL}.0))) AS INTEGER) AS nlist
            FROM corpus
        )
    ), sample AS (
        SELECT corpus_id, c_emb FROM corpus, cfg WHERE corpus_id % tmod = 0
    ), cent0 AS (
        SELECT CAST(rn - 1 AS INTEGER) AS cell, c_emb AS cvec
        FROM (SELECT c_emb, ROW_NUMBER() OVER (ORDER BY corpus_id) AS rn FROM sample), cfg
        WHERE rn <= nlist
    )"""]
    prev = "cent0"
    for i in range(1, IVF_ITERS + 1):
        parts.append(f""", assign{i} AS (
        SELECT corpus_id, c_emb, cell FROM (
            SELECT c.corpus_id, c.c_emb, k.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.corpus_id ORDER BY
                       {_duck_cos('c.c_emb', 'k.cvec')} DESC, k.cell ASC) AS rn
            FROM sample c CROSS JOIN {prev} k
        ) WHERE rn = 1
    ), cent{i}_e AS (
        SELECT cell, i.range AS pos,
               SUM(CAST(c_emb[CAST(i.range AS INTEGER) + 1] AS DECIMAL(18,9))) AS s
        FROM assign{i}, range({SRP_DIM}) i
        GROUP BY 1, 2
    ), cent{i} AS (
        SELECT cell, list(CAST(s AS DOUBLE) ORDER BY pos) AS cvec FROM cent{i}_e GROUP BY cell
    )""")
        prev = f"cent{i}"
    parts.append(f""", cells AS (
        SELECT corpus_id, c_emb, cell FROM (
            SELECT c.corpus_id, c.c_emb, k.cell,
                   ROW_NUMBER() OVER (PARTITION BY c.corpus_id ORDER BY
                       {_duck_cos('c.c_emb', 'k.cvec')} DESC, k.cell ASC) AS rn
            FROM corpus c CROSS JOIN {prev} k
        ) WHERE rn = 1
    )""")
    return "".join(parts), prev


def _ivf_oracle(probe_filter: str, select_tail: str) -> str:
    """Full IVF probe oracle: the shared cells chain + probe/score/rank."""
    cells_cte, prev = _ivf_cells_cte()
    return cells_cte + f""", probe AS (
        SELECT query_id, q_emb, cell AS probe_cell FROM (
            SELECT q.query_id, q.q_emb, k.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       {_duck_cos('q.q_emb', 'k.cvec')} DESC, k.cell ASC) AS rn
            FROM queries q CROSS JOIN {prev} k
        ) WHERE {probe_filter}
    ), scored AS (
        SELECT p.query_id, p.probe_cell, c.corpus_id, c.cell,
               {_duck_cos('p.q_emb', 'c.c_emb')} AS cosine
        FROM cells c JOIN probe p ON c.cell = p.probe_cell
    ), ranked AS (
        SELECT query_id, probe_cell, corpus_id, cell, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    )
    {select_tail}
    """


def _pq_codebook_cte() -> tuple[str, str]:
    """CTE fragment (appended after a chain that already defines
    `corpus`) replaying PQ training + encoding + reconstruction in
    DuckDB: same sample (corpus_id % tmod = 0), same seeds (PQ_K
    lowest-id subvectors), same round-6 squared-L2 assignment with code
    tiebreak, same exact-decimal mean centroids rounded at 6 dp — one
    CTE chain carrying the subspace id instead of PQ_M copies. Returns
    (fragment, last_codebook_name); the fragment ends with `recon`
    (corpus_id → reconstructed vector). Shared by the ann_pq_adc and
    ann_ivfpq_topk oracles (names prefixed pq/cb so the fragment
    composes with the IVF cells chain without CTE clashes)."""
    d2 = (
        "ROUND(list_dot_product("
        "list_transform(list_zip(s.v, k.cvec), x -> x[1] - x[2]), "
        "list_transform(list_zip(s.v, k.cvec), x -> x[1] - x[2])), 6)"
    )
    parts = [f""", pqcfg AS (
        SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / {PQ_K * PQ_TRAIN_PER_CODE}.0) AS INTEGER)) AS tmod
        FROM corpus
    ), sub AS (
        SELECT corpus_id, CAST(g.range AS INTEGER) AS m,
               c_emb[CAST(g.range AS INTEGER) * {PQ_SUB} + 1 :
                     CAST(g.range AS INTEGER) * {PQ_SUB} + {PQ_SUB}] AS v
        FROM corpus, pqcfg, range({PQ_M}) g
        WHERE corpus_id % tmod = 0
    ), cb0 AS (
        SELECT m, CAST(rn - 1 AS INTEGER) AS code, v AS cvec FROM (
            SELECT m, v, ROW_NUMBER() OVER (PARTITION BY m ORDER BY corpus_id) AS rn
            FROM sub
        ) WHERE rn <= {PQ_K}
    )"""]
    prev = "cb0"
    for i in range(1, PQ_ITERS + 1):
        parts.append(f""", asg{i} AS (
        SELECT corpus_id, m, v, code FROM (
            SELECT s.corpus_id, s.m, s.v, k.code,
                   ROW_NUMBER() OVER (PARTITION BY s.corpus_id, s.m
                       ORDER BY {d2} ASC, k.code ASC) AS rn
            FROM sub s JOIN {prev} k ON s.m = k.m
        ) WHERE rn = 1
    ), cbe{i} AS (
        SELECT m, code, CAST(g.range AS INTEGER) AS pos,
               ROUND(CAST(SUM(CAST(v[CAST(g.range AS INTEGER) + 1] AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 6) AS e
        FROM asg{i}, range({PQ_SUB}) g
        GROUP BY 1, 2, 3
    ), cb{i} AS (
        SELECT m, code, list(e ORDER BY pos) AS cvec FROM cbe{i} GROUP BY m, code
    )""")
        prev = f"cb{i}"
    parts.append(f""", csub AS (
        SELECT corpus_id, CAST(g.range AS INTEGER) AS m,
               c_emb[CAST(g.range AS INTEGER) * {PQ_SUB} + 1 :
                     CAST(g.range AS INTEGER) * {PQ_SUB} + {PQ_SUB}] AS v
        FROM corpus, range({PQ_M}) g
    ), codes AS (
        SELECT corpus_id, m, code FROM (
            SELECT s.corpus_id, s.m, k.code,
                   ROW_NUMBER() OVER (PARTITION BY s.corpus_id, s.m
                       ORDER BY {d2} ASC, k.code ASC) AS rn
            FROM csub s JOIN {prev} k ON s.m = k.m
        ) WHERE rn = 1
    ), recon AS (
        SELECT c.corpus_id, flatten(list(k.cvec ORDER BY c.m)) AS r_emb
        FROM codes c JOIN {prev} k ON c.m = k.m AND c.code = k.code
        GROUP BY c.corpus_id
    )""")
    return "".join(parts), prev


def _pq_oracle() -> str:
    """Full flat-PQ ADC oracle: corpus/queries header + the shared
    codebook/recon fragment + ADC scoring, shortlist, and exact
    rerank."""
    frag, _ = _pq_codebook_cte()
    return f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    )""" + frag + f""", adc AS (
        SELECT q.query_id, r.corpus_id,
               ROUND(list_dot_product(q.q_emb, r.r_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(r.r_emb, r.r_emb))), 6) AS adc_cosine
        FROM recon r CROSS JOIN queries q
    ), cand AS (
        SELECT query_id, corpus_id, adc_cosine FROM (
            SELECT a.query_id, a.corpus_id, a.adc_cosine,
                   ROW_NUMBER() OVER (PARTITION BY a.query_id
                       ORDER BY a.adc_cosine DESC, a.corpus_id ASC) AS crank
            FROM adc a
        ) WHERE crank <= {PQ_SHORTLIST}
    ), fine AS (
        SELECT d.query_id, d.corpus_id, d.adc_cosine,
               ROUND(list_dot_product(q.q_emb, c.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(c.c_emb, c.c_emb))), 6) AS cosine
        FROM cand d
        JOIN corpus c ON d.corpus_id = c.corpus_id
        JOIN queries q ON d.query_id = q.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, cosine, adc_cosine
    FROM (
        SELECT query_id, corpus_id, cosine, adc_cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM fine
    ) WHERE rank <= {TOP_K}
    """


def _ivfpq_oracle() -> str:
    """IVF-PQ composite oracle: the IVF cells chain (defines corpus,
    queries, cells and the final centroid table) + the PQ codebook/recon
    fragment + single-probe ADC scoring, shortlist, and exact rerank —
    the DuckDB replay of ann_ivfpq_topk."""
    cells_cte, prev = _ivf_cells_cte()
    frag, _ = _pq_codebook_cte()
    return cells_cte + frag + f""", probe AS (
        SELECT query_id, q_emb, cell AS probe_cell FROM (
            SELECT q.query_id, q.q_emb, k.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       {_duck_cos('q.q_emb', 'k.cvec')} DESC, k.cell ASC) AS rn
            FROM queries q CROSS JOIN {prev} k
        ) WHERE rn = 1
    ), padc AS (
        SELECT p.query_id, p.probe_cell, c.corpus_id, c.c_emb, p.q_emb,
               ROUND(list_dot_product(p.q_emb, r.r_emb)
                     / (sqrt(list_dot_product(p.q_emb, p.q_emb))
                        * sqrt(list_dot_product(r.r_emb, r.r_emb))), 6) AS adc_cosine
        FROM cells c
        JOIN probe p ON c.cell = p.probe_cell
        JOIN recon r ON c.corpus_id = r.corpus_id
    ), pcand AS (
        SELECT query_id, probe_cell, corpus_id, c_emb, q_emb, adc_cosine FROM (
            SELECT a.*, ROW_NUMBER() OVER (PARTITION BY a.query_id
                       ORDER BY a.adc_cosine DESC, a.corpus_id ASC) AS crank
            FROM padc a
        ) WHERE crank <= {PQ_SHORTLIST}
    ), pfine AS (
        SELECT query_id, probe_cell, corpus_id, adc_cosine,
               {_duck_cos('q_emb', 'c_emb')} AS cosine
        FROM pcand
    )
    SELECT query_id, probe_cell, CAST(rank AS INTEGER) AS rank, corpus_id, cosine, adc_cosine
    FROM (
        SELECT query_id, probe_cell, corpus_id, cosine, adc_cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM pfine
    ) WHERE rank <= {TOP_K}
    """


def _pca_oracle() -> str:
    """Unrolled replay of the power iteration: decimal-summed means,
    covariance cells, and matvec/normalize rounds — same rounding grid
    as the Spark side at every step."""
    d = SRP_DIM
    parts = [f"""
    WITH vecs AS (
        SELECT embedding::DOUBLE[] AS v FROM embeddings
    ), n1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vecs
    ), mean_e AS (
        SELECT CAST(g.range AS INTEGER) AS pos,
               SUM(CAST(ROUND(v[CAST(g.range AS INTEGER) + 1], 9) AS DECIMAL(28,9))) AS s
        FROM vecs, range({d}) g GROUP BY 1
    ), means AS (
        SELECT list(ROUND(CAST(s AS DOUBLE) / CAST(n.n AS DOUBLE), 6) ORDER BY pos) AS m
        FROM mean_e, n1 n GROUP BY n.n
    ), cov_e AS (
        SELECT CAST(gi.range AS INTEGER) AS i, CAST(gj.range AS INTEGER) AS j,
               SUM(CAST(ROUND(
                   (v[CAST(gi.range AS INTEGER) + 1] - m[CAST(gi.range AS INTEGER) + 1])
                   * (v[CAST(gj.range AS INTEGER) + 1] - m[CAST(gj.range AS INTEGER) + 1]), 12)
                   AS DECIMAL(28,12))) AS st
        FROM vecs, means, range({d}) gi, range({d}) gj
        GROUP BY 1, 2
    ), cov AS (
        SELECT i, j, ROUND(CAST(st AS DOUBLE) / CAST(n.n AS DOUBLE), 9) AS c
        FROM cov_e, n1 n
    ), v0 AS (
        SELECT CAST(g.range AS INTEGER) AS j,
               CASE WHEN g.range = 0 THEN 1.0 ELSE 0.0 END AS vj
        FROM range({d}) g
    )"""]
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        parts.append(f""", u{k} AS (
        SELECT cov.i,
               CAST(SUM(CAST(ROUND(cov.c * p.vj, 12) AS DECIMAL(28,12))) AS DOUBLE) AS u
        FROM cov JOIN {prev} p ON cov.j = p.j
        GROUP BY cov.i
    ), nk{k} AS (
        SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 12) AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
        FROM u{k}
    ), v{k} AS (
        SELECT u{k}.i AS j, ROUND(u{k}.u / nk{k}.nrm, 6) AS vj
        FROM u{k}, nk{k}
    )""")
        prev = f"v{k}"
    parts.append(f"""
    SELECT p.j AS pos, p.vj AS loading, ROUND(nk{PCA_ITERS}.nrm, 6) AS lambda_est
    FROM v{PCA_ITERS} p, nk{PCA_ITERS}
    ORDER BY pos
    """)
    return "".join(parts)


_DUCK_SCORED = f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb, label AS corpus_label
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT query_id, corpus_id, corpus_label,
               ROUND(list_dot_product(q_emb, c_emb)
                     / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 6) AS cosine
        FROM corpus, queries
    ), ranked AS (
        SELECT query_id, corpus_id, corpus_label, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    )
"""

# width-adaptive SRP signature replay shared by the embedding near-dup
# and knn-graph oracles: `bits` is computed from count(embeddings) with
# the same clamp srp_bits_for uses; plane terms beyond the derived
# width are masked out, so the same SQL verifies every sf.
_DUCK_SRP_SIGS = (
    "\n    WITH vecs AS (\n"
    "        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings\n"
    "    ), bcfg AS (\n"
    f"        SELECT LEAST({SRP_MAX_BITS}, GREATEST({SRP_BITS},\n"
    f"            CAST(CEIL(LOG2(GREATEST(COUNT(*), 2) / {SRP_TARGET_BUCKET}.0)) AS INTEGER))) AS bits\n"
    "        FROM vecs\n"
    "    ), sigs AS (\n        "
    + "\n        UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS table_id, ("
        + " + ".join(
            f"CASE WHEN {p} < bits AND ROUND(list_dot_product(v, "
            f"[{', '.join(str(s) for s in _SRP_PLANES[t][p])}]), 6) > 0 "
            f"THEN {1 << p} ELSE 0 END"
            for p in range(SRP_MAX_BITS)
        )
        + ") AS sig FROM vecs, bcfg"
        for t in range(SRP_TABLES)
    )
    + "\n    )\n"
)

# Wide-governor signature CTE: signatures for every table the wide
# governor could need (SRP_WIDE_TABLES_MAX), then `kept` filters to the
# corpus-derived table count from tcfg — the table-count twin of the
# width-adaptive bits CASE.
_DUCK_VECS_BASE = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

# The plant-augmented vecs relation (semantic_decontaminate_band_planted):
# base corpus + exact copies + zero-prefix twins of every
# DECON_PLANT_EVERY-th benchmark vector, ids at the plant offsets.
# range(1, len+1) is 1-based like DuckDB array indexing; Spark's
# transform zeroes the same first DECON_PLANT_ZERO_DIMS elements.
_DUCK_VECS_PLANTED = f"""SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT CAST(vec_id + {DECON_PLANT_COPY_OFFSET} AS BIGINT), embedding::DOUBLE[]
        FROM embeddings WHERE vec_id % {17 * DECON_PLANT_EVERY} = 0
        UNION ALL
        SELECT CAST(vec_id + {DECON_PLANT_ZERO_OFFSET} AS BIGINT),
               list_transform(range(1, len(embedding) + 1),
                              i -> CASE WHEN i <= {DECON_PLANT_ZERO_DIMS}
                                        THEN 0.0::DOUBLE
                                        ELSE embedding[i]::DOUBLE END)
        FROM embeddings WHERE vec_id % {17 * DECON_PLANT_EVERY} = 0"""


def _duck_srp_sigs_wide(vecs_sql: str = _DUCK_VECS_BASE) -> str:
    """The wide-governor signature CTE chain over an arbitrary vecs
    relation — the default keeps every existing oracle byte-identical;
    the planted gate variant passes its augmented relation."""
    return (
    "\n    WITH vecs AS (\n"
    "        " + vecs_sql + "\n"
    "    ), bcfg AS (\n"
    f"        SELECT LEAST({SRP_MAX_BITS}, GREATEST({SRP_BITS},\n"
    f"            CAST(CEIL(LOG2(GREATEST(COUNT(*), 2) / {SRP_TARGET_BUCKET}.0)) AS INTEGER))) AS bits\n"
    "        FROM vecs\n"
    "    ), tcfg AS (\n"
    f"        SELECT bits, {_srp_tables_case_sql()} AS tables FROM bcfg\n"
    "    ), sigs AS (\n        "
    + "\n        UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS table_id, ("
        + " + ".join(
            f"CASE WHEN {p} < bits AND ROUND(list_dot_product(v, "
            f"[{', '.join(str(s) for s in _srp_plane(t, p))}]), 6) > 0 "
            f"THEN {1 << p} ELSE 0 END"
            for p in range(SRP_MAX_BITS)
        )
        + ") AS sig FROM vecs, bcfg"
        for t in range(SRP_WIDE_TABLES_MAX)
    )
    + "\n    ), kept AS (\n"
    "        SELECT s.vec_id, s.v, s.table_id, s.sig FROM sigs s, tcfg\n"
    "        WHERE s.table_id < tcfg.tables\n"
    "    )\n"
    )


_DUCK_SRP_SIGS_WIDE = _duck_srp_sigs_wide()


def _multiprobe_wide_oracle(threshold: float, vecs_sql: str = _DUCK_VECS_BASE) -> str:
    """The wide-governor pair relation: radius fixed at SRP_WIDE_RADIUS,
    table count from the injected srp_tables_for CASE. vecs_sql swaps
    the corpus relation (default keeps every existing oracle
    byte-identical); the planted gate variant passes the augmented
    relation — the _sem_decon_wide_oracle discipline."""
    return _duck_srp_sigs_wide(vecs_sql) + f"""
    , probes AS (
        SELECT vec_id, v, table_id,
               unnest(list_transform(
                   list_filter(range(0, (1::BIGINT << bits)),
                               m -> bit_count(m) <= {SRP_WIDE_RADIUS}),
                   m -> xor(sig, m))) AS probe_sig
        FROM kept, bcfg
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM probes a JOIN kept b
      ON a.table_id = b.table_id AND a.probe_sig = b.sig AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
    """


def _multiprobe_oracle(threshold: float) -> str:
    """The multiprobe pair relation at a given emit threshold — shared
    by the gate entry (exploration floor) and the production band
    variant, so the two can never drift structurally.

    One-sided hamming<=r probe expansion (symmetric relation, so
    probing the a-side is complete); list_transform over range(bits)
    keeps the oracle width-adaptive like the signature CTE itself."""
    return _DUCK_SRP_SIGS + f"""
    , rcfg AS (
        -- the radius governor: srp_probe_radius_for evaluated in Python
        -- (exact math.comb) for every possible width and injected as
        -- integer literals — no float closed form to drift from Spark's
        SELECT bits, {_srp_radius_case_sql()} AS radius
        FROM bcfg
    ), probes AS (
        SELECT vec_id, v, table_id,
               unnest(list_transform(
                   list_filter(range(0, (1::BIGINT << bits)),
                               m -> bit_count(m) <= radius),
                   m -> xor(sig, m))) AS probe_sig
        FROM sigs, rcfg
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM probes a JOIN sigs b
      ON a.table_id = b.table_id AND a.probe_sig = b.sig AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
    """


# Distinct directed wide-probe candidate relation — shared by the
# capped k-NN graph oracle and its overflow report so the two read the
# identical candidate set (the _knn_wide_candidates mirror).
_DUCK_KNN_WIDE_CAND = f"""
    , probes AS (
        SELECT vec_id, table_id,
               unnest(list_transform(
                   list_filter(range(0, (1::BIGINT << bits)),
                               m -> bit_count(m) <= {SRP_WIDE_RADIUS}),
                   m -> xor(sig, m))) AS probe_sig
        FROM kept, bcfg
    ), cand AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM probes a JOIN kept b
          ON a.table_id = b.table_id AND a.probe_sig = b.sig AND a.vec_id <> b.vec_id
    )
"""


def _duck_rank_sketch_cte() -> str:
    """The 48-bit ranking sketch as a DuckDB CTE over `vecs` — the
    identical sign rule and plane literals as _rank_sketch, so both
    engines order candidates by the same hamming."""
    cases = " + ".join(
        f"CASE WHEN ROUND(list_dot_product(v, "
        f"[{', '.join(str(s) for s in _rank_plane(p))}]), 6) > 0 "
        f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END"
        for p in range(KNN_RANK_BITS)
    )
    return f"""
    , rsk AS (
        SELECT vec_id, ({cases}) AS rs FROM vecs
    )
"""


def _sem_decon_wide_oracle(
    review: float, drop: float, vecs_sql: str = _DUCK_VECS_BASE
) -> str:
    """The wide decontamination relation at given review/drop
    thresholds — shared by the exploration-floor gate entry, the
    design-band production form, and the planted certification fixture
    so the three can never drift structurally (the multiprobe
    _multiprobe_oracle discipline)."""
    return _duck_srp_sigs_wide(vecs_sql) + f"""
    , bprobes AS (
        SELECT vec_id AS bench_id, table_id,
               unnest(list_transform(
                   list_filter(range(0, (1::BIGINT << bits)),
                               m -> bit_count(m) <= {SRP_WIDE_RADIUS}),
                   m -> xor(sig, m))) AS probe_sig
        FROM kept, bcfg
        WHERE vec_id % 17 = 0
    ), cand_ids AS (
        SELECT DISTINCT c.vec_id AS vec_id, b.bench_id AS bench_id
        FROM kept c JOIN bprobes b
          ON c.table_id = b.table_id AND c.sig = b.probe_sig
        WHERE c.vec_id % 17 <> 0
    ), cand AS (
        SELECT i.vec_id, i.bench_id, {_duck_cos('cv.v', 'bv.v')} AS cosine
        FROM cand_ids i JOIN vecs cv ON i.vec_id = cv.vec_id
                        JOIN vecs bv ON i.bench_id = bv.vec_id
        WHERE {_duck_cos('cv.v', 'bv.v')} >= {review}
    ), ranked AS (
        SELECT vec_id, bench_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, bench_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY vec_id) AS hit_ct
        FROM cand
    )
    SELECT vec_id, CAST(hit_ct AS BIGINT) AS hit_ct, cosine AS max_cosine,
           bench_id AS nearest_bench,
           CASE WHEN cosine >= {drop} THEN 'drop' ELSE 'review' END AS decision
    FROM ranked WHERE rn = 1
    """


ORACLES = {
    "ann_cosine_topk": _DUCK_SCORED + f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, corpus_label, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
    "ann_cosine_topk_arrow": _DUCK_SCORED + f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
    # brute force IS the oracle: the SQ8 screen is lossless by the
    # quantization-error bound, so the result must equal the full scan
    "ann_range_search": f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    )
    SELECT query_id, corpus_id, {_duck_cos('q_emb', 'c_emb')} AS cosine
    FROM queries CROSS JOIN corpus
    WHERE {_duck_cos('q_emb', 'c_emb')} >= {RANGE_TAU}
    """,
    "ann_ivf_topk": _ivf_oracle(
        "rn = 1",
        f"SELECT query_id, probe_cell, CAST(rank AS INTEGER) AS rank, corpus_id, cosine"
        f" FROM ranked WHERE rank <= {TOP_K}",
    ),
    "ann_filtered_topk": f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb, label
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb, label
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT query_id, q.label AS query_label, corpus_id,
               {_duck_cos('q_emb', 'c_emb')} AS cosine
        FROM corpus c JOIN queries q USING (label)
    )
    SELECT query_id, query_label, CAST(rank AS INTEGER) AS rank, corpus_id, cosine
    FROM (
        SELECT query_id, query_label, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
    "hard_negative_mining": f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb, label AS corpus_label
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb, label AS query_label
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT query_id, query_label, corpus_id, corpus_label,
               {_duck_cos('q_emb', 'c_emb')} AS cosine
        FROM corpus, queries
        WHERE corpus_label <> query_label
    )
    SELECT query_id, query_label, CAST(rank AS INTEGER) AS rank, corpus_id, corpus_label, cosine
    FROM (
        SELECT query_id, query_label, corpus_id, corpus_label, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {HN_K}
    """,
    "embedding_cluster_profile": _ivf_cells_cte()[0] + f""", ccent AS (
        SELECT cell AS k_cell, cvec FROM {_ivf_cells_cte()[1]}
    ), scored AS (
        SELECT c.cell, e.label,
               {_duck_cos('c.c_emb', 'k.cvec')} AS own_cos
        FROM cells c
        JOIN ccent k ON c.cell = k.k_cell
        JOIN embeddings e ON c.corpus_id = e.vec_id
    ), per_label AS (
        SELECT cell, label, COUNT(*) AS ct FROM scored GROUP BY 1, 2
    ), majority AS (
        SELECT cell, label AS majority_label, CAST(ct AS BIGINT) AS majority_ct FROM (
            SELECT cell, label, ct,
                   ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ct DESC, label ASC) AS rn
            FROM per_label
        ) WHERE rn = 1
    ), sizes AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(own_cos AS DECIMAL(18,6))) AS sum_own_cos
        FROM scored GROUP BY cell
    )
    SELECT s.cell, s.n, s.sum_own_cos, m.majority_label, m.majority_ct
    FROM sizes s JOIN majority m ON s.cell = m.cell
    """,
    "semantic_dedup": _ivf_cells_cte()[0] + f""", witnesses AS (
        SELECT b.corpus_id AS b_id, MIN(a.corpus_id) AS dup_of
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.corpus_id < b.corpus_id
        WHERE {_duck_cos('a.c_emb', 'b.c_emb')} >= {SEMDEDUP_TAU}
        GROUP BY b.corpus_id
    )
    SELECT c.corpus_id AS vec_id, c.cell, w.dup_of, w.dup_of IS NULL AS kept
    FROM cells c LEFT JOIN witnesses w ON c.corpus_id = w.b_id
    """,
    "ann_truncated_rerank": f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), coarse AS (
        SELECT q.query_id, c.corpus_id, q.q_emb, c.c_emb,
               ROUND(list_dot_product(q.q_emb[1:{TRUNC_DIMS}], c.c_emb[1:{TRUNC_DIMS}])
                     / (sqrt(list_dot_product(q.q_emb[1:{TRUNC_DIMS}], q.q_emb[1:{TRUNC_DIMS}]))
                        * sqrt(list_dot_product(c.c_emb[1:{TRUNC_DIMS}], c.c_emb[1:{TRUNC_DIMS}]))), 6) AS coarse_cos
        FROM corpus c CROSS JOIN queries q
    ), cand AS (
        SELECT * FROM (
            SELECT query_id, corpus_id, q_emb, c_emb,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY coarse_cos DESC, corpus_id ASC) AS crank
            FROM coarse
        ) WHERE crank <= {TOP_K * RERANK_FACTOR}
    ), fine AS (
        SELECT query_id, corpus_id,
               ROUND(list_dot_product(q_emb, c_emb)
                     / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 6) AS cosine
        FROM cand
    ), ranked AS (
        SELECT query_id, corpus_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM fine
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
    "ann_pq_adc": _pq_oracle(),
    "ann_ivfpq_topk": _ivfpq_oracle(),
    "ann_recall_report": _ivf_oracle(
        "rn = 1",
        f""", approx AS (
        SELECT query_id, corpus_id FROM ranked WHERE rank <= {TOP_K}
    ), exact AS (
        SELECT query_id, corpus_id FROM (
            SELECT q.query_id, c.corpus_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       {_duck_cos('q.q_emb', 'c.c_emb')} DESC, c.corpus_id ASC) AS xrank
            FROM corpus c CROSS JOIN queries q
        ) WHERE xrank <= {TOP_K}
    ), hits AS (
        SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM approx a JOIN exact e
          ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
        GROUP BY a.query_id
    )
    SELECT q.query_id, COALESCE(h.hits, 0) AS hits,
           CAST(ROUND(CAST(COALESCE(h.hits, 0) AS DECIMAL(18,6)) / {TOP_K}, 4) AS DECIMAL(9,4)) AS recall_at_k
    FROM queries q LEFT JOIN hits h ON q.query_id = h.query_id
    """,
    ),
    "embedding_principal_component": _pca_oracle(),
    "embedding_dim_stats": f"""
    WITH x AS (
        SELECT CAST(g.range AS INTEGER) AS pos,
               embedding[CAST(g.range AS INTEGER) + 1]::DOUBLE AS x
        FROM embeddings, range({SRP_DIM}) g
    ), agg AS (
        SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS s1,
               SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12))) AS s2,
               MIN(x) AS mn, MAX(x) AS mx
        FROM x GROUP BY pos
    )
    SELECT pos, n,
           ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mean,
           ROUND(sqrt(GREATEST(ROUND(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                 - ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9)
                   * ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9), 9), 0.0)), 9) AS std,
           ROUND(mn, 9) AS mn, ROUND(mx, 9) AS mx
    FROM agg
    ORDER BY pos
    """,
    "sq8_quantization_error": f"""
    WITH corpus AS (
        SELECT label, vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), stats AS (
        SELECT CAST(g.range AS INTEGER) AS pos,
               MIN(c_emb[CAST(g.range AS INTEGER) + 1]) AS mn,
               MAX(c_emb[CAST(g.range AS INTEGER) + 1]) AS mx
        FROM corpus, range({SRP_DIM}) g GROUP BY 1
    ), deq AS (
        SELECT corpus_id,
               list(CASE WHEN s.mx = s.mn THEN s.mn
                    ELSE FLOOR((c_emb[s.pos + 1] - s.mn) / ((s.mx - s.mn) / {SQ8_LEVELS}.0) + 0.5)
                         * ((s.mx - s.mn) / {SQ8_LEVELS}.0) + s.mn
                    END ORDER BY s.pos) AS dq_emb
        FROM corpus, stats s GROUP BY corpus_id
    ), pv AS (
        SELECT c.label,
               CAST({_duck_cos('c.c_emb', 'd.dq_emb')} AS DECIMAL(9,6)) AS cos
        FROM corpus c JOIN deq d USING (corpus_id)
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS vec_ct,
           CAST(ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
                AS DECIMAL(9,6)) AS mean_cos,
           MIN(cos) AS worst_cos
    FROM pv GROUP BY label
    """,
    "ann_sq8_rerank": f"""
    WITH corpus AS (
        SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), queries AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), stats AS (
        SELECT CAST(g.range AS INTEGER) AS pos,
               MIN(c_emb[CAST(g.range AS INTEGER) + 1]) AS mn,
               MAX(c_emb[CAST(g.range AS INTEGER) + 1]) AS mx
        FROM corpus, range({SRP_DIM}) g GROUP BY 1
    ), deq AS (
        SELECT corpus_id,
               list(CASE WHEN s.mx = s.mn THEN s.mn
                    ELSE FLOOR((c_emb[s.pos + 1] - s.mn) / ((s.mx - s.mn) / {SQ8_LEVELS}.0) + 0.5)
                         * ((s.mx - s.mn) / {SQ8_LEVELS}.0) + s.mn
                    END ORDER BY s.pos) AS dq_emb
        FROM corpus, stats s GROUP BY corpus_id
    ), approx AS (
        SELECT q.query_id, d.corpus_id,
               ROUND(list_dot_product(q.q_emb, d.dq_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(d.dq_emb, d.dq_emb))), 6) AS approx_cosine
        FROM deq d CROSS JOIN queries q
    ), cand AS (
        SELECT * FROM (
            SELECT query_id, corpus_id, approx_cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_cosine DESC, corpus_id ASC) AS crank
            FROM approx
        ) WHERE crank <= {TOP_K * RERANK_FACTOR}
    ), fine AS (
        SELECT a.query_id, a.corpus_id, a.approx_cosine,
               ROUND(list_dot_product(q.q_emb, c.c_emb)
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(c.c_emb, c.c_emb))), 6) AS cosine
        FROM cand a
        JOIN corpus c ON a.corpus_id = c.corpus_id
        JOIN queries q ON a.query_id = q.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, cosine, approx_cosine
    FROM (
        SELECT query_id, corpus_id, cosine, approx_cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id ASC) AS rank
        FROM fine
    ) WHERE rank <= {TOP_K}
    """,
    "ann_ivf_multiprobe": _ivf_oracle(
        f"rn <= {N_PROBE}",
        f"SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id,"
        f" cell AS from_cell, cosine FROM ranked WHERE rank <= {TOP_K}",
    ),
    "embedding_neardup_pairs": _DUCK_SRP_SIGS + f"""
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM sigs a JOIN sigs b
      ON a.table_id = b.table_id AND a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= {NEARDUP_COSINE}
    """,
    "embedding_neardup_multiprobe": _multiprobe_oracle(NEARDUP_COSINE),
    "embedding_neardup_multiprobe_band": _multiprobe_oracle(NEARDUP_BAND_COSINE),
    "embedding_neardup_multiprobe_wide": _multiprobe_wide_oracle(NEARDUP_COSINE),
    "embedding_neardup_wide_band": _multiprobe_wide_oracle(NEARDUP_BAND_COSINE),
    "embedding_neardup_band_planted": _multiprobe_wide_oracle(
        NEARDUP_BAND_COSINE, _DUCK_VECS_PLANTED
    ),
    "knn_graph": _DUCK_SRP_SIGS + f"""
    , cand AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM sigs a JOIN sigs b
          ON a.table_id = b.table_id AND a.sig = b.sig AND a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT src, dst, cosine,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
        FROM cand
    )
    SELECT src, CAST(rnk AS INTEGER) AS rank, dst, cosine
    FROM ranked WHERE rnk <= {KNN_GRAPH_K}
    """,
    "knn_graph_wide": _DUCK_SRP_SIGS_WIDE + f"""
    , probes AS (
        SELECT vec_id, table_id,
               unnest(list_transform(
                   list_filter(range(0, (1::BIGINT << bits)),
                               m -> bit_count(m) <= {SRP_WIDE_RADIUS}),
                   m -> xor(sig, m))) AS probe_sig
        FROM kept, bcfg
    ), cand AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM probes a JOIN kept b
          ON a.table_id = b.table_id AND a.probe_sig = b.sig AND a.vec_id <> b.vec_id
    ), scored AS (
        SELECT c.src, c.dst, {_duck_cos('va.v', 'vb.v')} AS cosine
        FROM cand c JOIN vecs va ON c.src = va.vec_id
                    JOIN vecs vb ON c.dst = vb.vec_id
    ), ranked AS (
        SELECT src, dst, cosine,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
        FROM scored
    )
    SELECT src, CAST(rnk AS INTEGER) AS rank, dst, cosine
    FROM ranked WHERE rnk <= {KNN_GRAPH_K}
    """,
    "knn_graph_wide_capped": _DUCK_SRP_SIGS_WIDE + _DUCK_KNN_WIDE_CAND
    + _duck_rank_sketch_cte() + f"""
    , capped AS (
        SELECT c.src, c.dst,
               ROW_NUMBER() OVER (PARTITION BY c.src ORDER BY
                   bit_count(xor(a.rs, b.rs)) ASC, c.dst ASC) AS crk
        FROM cand c JOIN rsk a ON c.src = a.vec_id
                    JOIN rsk b ON c.dst = b.vec_id
    ), scored AS (
        SELECT c.src, c.dst, {_duck_cos('va.v', 'vb.v')} AS cosine
        FROM capped c JOIN vecs va ON c.src = va.vec_id
                      JOIN vecs vb ON c.dst = vb.vec_id
        WHERE c.crk <= {KNN_CAND_CAP}
    ), ranked AS (
        SELECT src, dst, cosine,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
        FROM scored
    )
    SELECT src, CAST(rnk AS INTEGER) AS rank, dst, cosine
    FROM ranked WHERE rnk <= {KNN_GRAPH_K}
    """,
    "knn_graph_candidate_overflow": _DUCK_SRP_SIGS_WIDE + _DUCK_KNN_WIDE_CAND + f"""
    , sizes AS (
        SELECT src, COUNT(*) AS n_cand FROM cand GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS over_sources,
           CAST(COALESCE(MAX(n_cand), 0) AS BIGINT) AS max_candidates,
           CAST(COALESCE(SUM(n_cand - {KNN_CAND_CAP}), 0) AS BIGINT) AS dropped_confirm_slots
    FROM sizes WHERE n_cand > {KNN_CAND_CAP}
    """,
    "semantic_decontaminate_wide": _sem_decon_wide_oracle(
        SEM_DECON_REVIEW, SEM_DECON_DROP
    ),
    "semantic_decontaminate_band": _sem_decon_wide_oracle(
        SEM_DECON_BAND_REVIEW, SEM_DECON_BAND_DROP
    ),
    "semantic_decontaminate_band_planted": _sem_decon_wide_oracle(
        SEM_DECON_BAND_REVIEW, SEM_DECON_BAND_DROP, _DUCK_VECS_PLANTED
    ),
    "ann_mmr_topk": _mmr_oracle(),
    "semantic_decontaminate": _DUCK_SRP_SIGS + f"""
    , cand AS (
        SELECT DISTINCT c.vec_id AS vec_id, b.vec_id AS bench_id,
               {_duck_cos('c.v', 'b.v')} AS cosine
        FROM sigs c JOIN sigs b
          ON c.table_id = b.table_id AND c.sig = b.sig
        WHERE c.vec_id % 17 <> 0 AND b.vec_id % 17 = 0
          AND {_duck_cos('c.v', 'b.v')} >= {SEM_DECON_REVIEW}
    ), ranked AS (
        SELECT vec_id, bench_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, bench_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY vec_id) AS hit_ct
        FROM cand
    )
    SELECT vec_id, CAST(hit_ct AS BIGINT) AS hit_ct, cosine AS max_cosine,
           bench_id AS nearest_bench,
           CASE WHEN cosine >= {SEM_DECON_DROP} THEN 'drop' ELSE 'review' END AS decision
    FROM ranked WHERE rn = 1
    """,
    "knn_label_vote": _DUCK_SCORED + f"""
    , votes AS (
        SELECT query_id, corpus_label, CAST(COUNT(*) AS BIGINT) AS votes
        FROM ranked WHERE rank <= {TOP_K}
        GROUP BY 1, 2
    ), best AS (
        SELECT query_id, corpus_label AS predicted_label, votes,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, corpus_label ASC) AS rn
        FROM votes
    )
    SELECT query_id, predicted_label, votes FROM best WHERE rn = 1
    """,
}
