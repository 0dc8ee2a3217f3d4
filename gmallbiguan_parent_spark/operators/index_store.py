"""Persisted dedup/ANN index artifacts with incremental maintenance.

The dedup/ANN families build five derived tables — shingle sets,
MinHash-LSH bands, SimHash fingerprints, IVF cell assignments, SRP
signatures. Within one session those live as session-memoized
localCheckpoints (memo.py), but a fresh session rebuilds them from the
raw corpus — at 100 TB a rebuild-per-job is not a plan. This module
persists them as WRITTEN partitioned parquet
tables (the layout a warehouse maintains next to the corpus) plus a
JSON manifest freezing the corpus-derived parameters:

    <root>/MANIFEST.json    watermarks, n_docs/n_vecs at build,
                            simhash layout, SRP width, the trained IVF
                            quantizer (k x dim doubles — bounded)
    <root>/shingle_sets/    (doc_id, s array<string>)
    <root>/minhash_bands/   partitionBy(band_id): (doc_id, band_key)
    <root>/simhash_fp/      (doc_id, sim_hi, sim_lo)
    <root>/ivf_cells/       partitionBy(cell): (corpus_id, c_emb, c_norm)
    <root>/srp_sigs/        partitionBy(table_id): (vec_id, sig, v)

refresh_index() is the incremental path: it indexes ONLY rows past the
manifest watermark (the append-only-corpus shape) with the FROZEN
parameters — the quantizer is never retrained, the simhash layout and
SRP width never flip mid-index (production re-indexes when a layout
threshold is crossed; flipping silently would make old and new rows
un-joinable). tests/test_index_store.py proves refresh(delta) ==
rebuild(full) artifact-for-artifact under the same frozen parameters.

The *_from_index queries are the in-session operators' own bodies
run over the tables READ BACK from the store (each operator takes an
optional `store` and reads its inputs from it), so they hash-match the
original operators' DuckDB oracles verbatim: the persisted artifact
provably carries the same information as the in-session build. Default
root is a per-session temp dir (the driver owns no writable warehouse
path); set SPARK_GRAFT_INDEX_DIR to persist across sessions — then a
fresh session's query cost drops to read-only.

store_for() is the one place that decides between live derivation and
a store read. With require=False (the base neardup/ANN operators) it
returns None — derive live — unless SPARK_GRAFT_INDEX_DIR is set and
the full-corpus store carries the family, is unscoped, is at the
current layout and is fresh. An old-layout store is left alone
(upgrading it is the index path's decision, never a side effect of a
serving query), and a corpus grown past the manifest watermark serves
live, because a stale store would silently omit every pair involving
the new rows; the freshness verdict is memoized on the corpus file
listing and the manifest watermark, so both corpus growth and a
refresh_index are seen by the next query. With require=True (the
*_from_index twins) it is ensure_index, and a store whose manifest
lacks the family fails loud with ValueError. Either way it returns a
Store: one manifest snapshot whose watermark filters every artifact
the query reads, so a refresh committing mid-query can never stamp
one watermark onto rows filtered at another.

Reference parity: the reference keeps no derived index tables (its
dedup surface is per-key Flink state, RT/app/dwm2/UV2.java:61-112);
this is the warehouse-scale generalization the LLM-pipeline operators
named in their docstrings (e.g. similarity.py _cached_cells,
dedup.py _shingle_sets).
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import _listing, load_table_spread
from ..memo import session_memo
from .dedup import (
    N_BANDS,
    SIMHASH_WIDE_MIN_DOCS,
    _minhash_banded_from_sets,
    _shingles,
    incremental_neardup,
    minhash_lsh_pairs,
    simhash_fingerprint,
    simhash_neardup_pairs,
)
from .similarity import (
    N_QUERIES,
    SRP_BITS,
    SRP_MAX_BITS,
    SRP_TABLES,
    SRP_TARGET_BUCKET,
    _srp_tables_case_sql,
    _assign_cells,
    _ivf_cached_centroids,
    _pq_codes_expr,
    _rank_sketch,
    _srp_signature,
    ann_ivf_multiprobe,
    ann_ivf_topk,
    ann_ivfpq_topk,
    embedding_neardup_multiprobe_wide,
    embedding_neardup_pairs,
    knn_graph_wide,
    knn_graph_wide_capped,
    semantic_decontaminate_band,
    semantic_decontaminate_wide,
    srp_bits_for,
    srp_tables_for,
)
from .text import bpe_doc_tokens

MANIFEST = "MANIFEST.json"

# Artifact-layout version stamped into every manifest. Bump it whenever
# an artifact gains/changes a COLUMN the readers depend on (a new
# directory is already caught by the _FAMILY_ARTIFACTS dir check):
# a store published at an older version fails _layout_current, so
# ensure_index rebuilds/swap-upgrades it and store_for serves live
# until then — readers can never select a column an old store lacks.
#   v2 (r13): srp_sigs_wide carries the 48-bit ranking sketch `rs`.
_LAYOUT_VERSION = 2


def _write(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Overwrite-only writer: every artifact write targets its own
    ingest=<watermark> directory, so builds AND refreshes are
    retry-idempotent — a crashed refresh retried by a scheduler (the
    manifest watermark unchanged) re-selects the identical delta and
    OVERWRITES its own ingest partition instead of appending the delta
    a second time (the at-least-once duplication the streaming ledgers
    guard against, applied to the batch maintenance path)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# Driver threads used to OVERLAP independent artifact jobs inside one
# build/refresh (guide §2.6 — actions are only sequential because the
# driver calls them sequentially; while one write's stage tails off,
# the next job's tasks back-fill the freed cores). 1 = the old fully
# sequential build. Parallelism never changes WHAT is written: jobs
# are split strictly along data-dependency lines (bands wait on the
# shingle checkpoint, pq_codes on the cell assignment), each artifact
# still lands via its own idempotent overwrite, and the manifest —
# the commit point — is written after every job has joined.
_BUILD_THREADS = max(1, int(os.environ.get("SPARK_GRAFT_BUILD_THREADS", "3")))


def _run_jobs(jobs) -> None:
    """Run independent artifact thunks, overlapping them on driver
    threads when _BUILD_THREADS > 1; first failure propagates after all
    submitted jobs finish (the pool join), so a raising build never
    leaves a thread still writing into a root the caller is deleting."""
    if _BUILD_THREADS == 1 or len(jobs) == 1:
        for j in jobs:
            j()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(_BUILD_THREADS, len(jobs))) as pool:
        futs = [pool.submit(j) for j in jobs]
    for f in futs:
        f.result()


def _doc_artifacts(spark: SparkSession, docs: DataFrame, root: str, ingest: int) -> None:
    """Per-document artifacts (each row independent of the rest of the
    corpus, so a refresh's delta rows are byte-identical to a full
    rebuild's): shingle sets, LSH bands, simhash fingerprints — all
    computed FROM THE DELTA ITSELF (one shingling pass shared by sets
    and bands via the checkpoint; fingerprints per-row), never by
    joining a corpus-scale table: the refresh cost is delta-sized, and
    no session memo that predates the delta can silently drop rows.
    The eager shingle checkpoint materializes first; the three writes
    that follow are mutually independent and overlap (_run_jobs)."""
    sets = docs.select("doc_id", _shingles(F.col("text")).alias("s")).localCheckpoint()
    from .dedup import _simhash_fp_from_docs

    _run_jobs([
        lambda: _write(sets, f"{root}/shingle_sets/ingest={ingest}"),
        lambda: _write(
            _minhash_banded_from_sets(sets),
            f"{root}/minhash_bands/ingest={ingest}",
            partition_by=["band_id"],
        ),
        lambda: _write(_simhash_fp_from_docs(docs), f"{root}/simhash_fp/ingest={ingest}"),
    ])


def _vec_artifacts(vecs: DataFrame, root: str, ingest: int, centroids,
                   srp_bits: int, pq_books) -> None:
    """Per-vector artifacts under FROZEN parameters: IVF cell
    assignment against the stored quantizer, PQ code words against the
    stored codebooks, SRP signatures at the stored width."""
    corpus = vecs.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ).filter(F.col("corpus_id") >= N_QUERIES)
    assigned = _assign_cells(corpus, centroids).localCheckpoint()

    def _cells_then_codes() -> None:
        _write(assigned, f"{root}/ivf_cells/ingest={ingest}", partition_by=["cell"])
        # PQ code words: PQ_M small ints per vector — the compressed form a
        # real index persists (reconstruction happens at read time via the
        # manifest codebooks); co-partitioned with the cells so an IVF-PQ
        # probe prunes both tables to one partition
        _write(
            assigned.select(
                "corpus_id", _pq_codes_expr(pq_books).alias("codes"), "cell"
            ),
            f"{root}/pq_codes/ingest={ingest}",
            partition_by=["cell"],
        )

    v = vecs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    sigs = v.select(
        "vec_id", "v",
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("table_id"),
                _srp_signature(F.col("v"), t, srp_bits).alias("sig"),
            )
            for t in range(SRP_TABLES)
        ])).alias("b"),
    ).select("vec_id", "v", "b.table_id", "b.sig")
    # the wide-governor layout (r9): srp_tables_for(width) tables probed
    # at hamming<=1 — ~3x less probe/candidate work at equal recall
    # (SCALE_100X.md). Table count is a pure function of the FROZEN
    # width, so refresh reproduces it without a new manifest parameter.
    # r13 (layout v2): each row also carries `rs`, the 48-bit RANKING
    # sketch the capped k-NN graph orders candidates by — computed once
    # per vector BEFORE the table explode (fixed width, deterministic
    # planes: refresh reproduces it without a manifest parameter), so
    # the capped graph's slim relation becomes a plain store read
    # instead of a per-session 48-plane recompute + localCheckpoint
    # (executor-loss-safe: recompute = re-read, VERDICT r12 #5).
    wide = srp_tables_for(srp_bits)
    sigs_w = v.select(
        "vec_id", "v", _rank_sketch(F.col("v")).alias("rs"),
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("table_id"),
                _srp_signature(F.col("v"), t, srp_bits).alias("sig"),
            )
            for t in range(wide)
        ])).alias("b"),
    ).select("vec_id", "v", "rs", "b.table_id", "b.sig")
    # three independent chains — the IVF pair, the base signature table,
    # the wide signature table — overlap on driver threads (_run_jobs)
    _run_jobs([
        _cells_then_codes,
        lambda: _write(sigs, f"{root}/srp_sigs/ingest={ingest}", partition_by=["table_id"]),
        lambda: _write(sigs_w, f"{root}/srp_sigs_wide/ingest={ingest}", partition_by=["table_id"]),
    ])


def _scope_pred(scope, col: str):
    """Compile a serializable scope spec to a Column predicate. The only
    spec today is ("mod", m, r): `col % m == r` — the membership rule of
    a variant store (e.g. ref_even). Specs are json-round-trippable so
    refresh_index can REAPPLY the build's scope to every delta (ADVICE
    r7: an unrecorded scope would let a refresh ingest out-of-scope
    rows into the variant's artifacts, silently corrupting its
    screening contract)."""
    if scope is None:
        return None
    kind = scope[0]
    if kind == "mod":
        _, m, r = scope
        return F.col(col) % int(m) == int(r)
    raise ValueError(f"unknown scope spec: {scope!r}")


def build_index(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    doc_pred=None,
    vec_pred=None,
    doc_scope=None,
    vec_scope=None,
    centroids=None,
    simhash_wide: bool | None = None,
    srp_bits: int | None = None,
    pq_books=None,
    bpe_rules=None,
    families: tuple[str, ...] = ("docs", "vecs", "bpe"),
) -> dict:
    """Full index build: write the requested artifact families +
    manifest.

    TWO DISTINCT ROW-RESTRICTION CONTRACTS:
    - doc_scope/vec_scope: a SERIALIZABLE membership rule of the variant
      (("mod", 2, 0) = even ids only). Recorded in the manifest and
      REAPPLIED by refresh_index to every delta — out-of-scope rows can
      never enter the artifacts.
    - doc_pred/vec_pred: an OPAQUE Column used to simulate a corpus
      PREFIX (the tests' "corpus as of watermark" builds; refresh is
      then expected to ingest past it). Opaque predicates cannot be
      reapplied, so the manifest flags them and refresh_index refuses
      unless the caller asserts the prefix contract with
      assume_prefix_pred=True.

    centroids/simhash_wide/srp_bits/
    pq_books/bpe_rules override the corpus-derived parameters — the
    refresh-equality test rebuilds the FULL corpus under the subset
    build's frozen parameters, which is exactly what refresh(delta)
    must equal. families limits the build to the artifact groups a
    variant actually consumes ("docs" = shingle sets + bands + simhash,
    "vecs" = IVF/PQ/SRP, "bpe" = the tokenizer) — the ref_even
    screening variant builds docs only instead of paying quantizer/
    codebook/tokenizer training it never reads.

    Scale: every artifact is one pass over its corpus (the same plans
    the in-session operators run), written through the partitioning
    each consumer probes by — band_id for the LSH join, cell for the
    pruned IVF read, table_id for the SRP bucket join — under an
    ingest=<watermark> top-level partition that makes build AND
    refresh retry-idempotent. At 100 TB this job runs once; every
    dedup/ANN query thereafter reads, never derives."""
    docs = load_table_spread(spark, sf_dir, "documents")
    if doc_scope is not None:
        docs = docs.filter(_scope_pred(doc_scope, "doc_id"))
    if doc_pred is not None:
        docs = docs.filter(doc_pred)
    vecs = load_table_spread(spark, sf_dir, "embeddings")
    if vec_scope is not None:
        vecs = vecs.filter(_scope_pred(vec_scope, "vec_id"))
    if vec_pred is not None:
        vecs = vecs.filter(vec_pred)

    # corpus-derived frozen parameters (the SAME derivations the
    # in-session operators and the DuckDB oracles use)
    n_docs = docs.count() if {"docs", "bpe"} & set(families) else 0
    n_vecs = vecs.count() if "vecs" in families else 0
    doc_wm = (
        docs.agg(F.max("doc_id")).first()[0] if {"docs", "bpe"} & set(families) else None
    )
    vec_wm = vecs.agg(F.max("vec_id")).first()[0] if "vecs" in families else None
    if simhash_wide is None:
        simhash_wide = n_docs >= SIMHASH_WIDE_MIN_DOCS
    if srp_bits is None:
        srp_bits = srp_bits_for(n_vecs)

    # The three family jobs are mutually independent (distinct corpora /
    # distinct artifact dirs) — overlap them on driver threads
    # (_run_jobs, guide §2.6). Each job resolves its own trainings
    # before its writes; the manifest below is assembled only after
    # every job has joined.
    trained: dict[str, object] = {
        "centroids": centroids, "pq_books": pq_books, "bpe_rules": bpe_rules,
    }

    def _vecs_job() -> None:
        centroids, pq_books = trained["centroids"], trained["pq_books"]
        corpus = vecs.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").cast("array<double>").alias("c_emb"),
        ).filter(F.col("corpus_id") >= N_QUERIES)
        if centroids is None:
            from .similarity import _ivf_centroids

            if vec_pred is None and vec_scope is None:
                # full corpus: share the session-memoized trained quantizer
                centroids = _ivf_cached_centroids(spark, sf_dir, corpus)
            else:
                # subset/scoped build: train directly — the session cache
                # is keyed on (app, corpus) and must never hold
                # subset-trained centroids that would corrupt
                # same-session ann_ivf_topk
                centroids = _ivf_centroids(spark, corpus)
        if pq_books is None:
            from .similarity import (
                _pq_cached_codebooks, _pq_codebooks_spec, pq_train_mod,
            )

            if vec_pred is None and vec_scope is None:
                pq_books = _pq_cached_codebooks(spark, sf_dir, corpus)
            else:  # same cache-pollution rationale as the centroids above
                mod = pq_train_mod(corpus.count())
                rows = (
                    corpus.filter(F.col("corpus_id") % mod == 0)
                    .select("corpus_id", "c_emb")
                    .collect()
                )
                pq_books = _pq_codebooks_spec(
                    sorted((int(r.corpus_id), [float(x) for x in r.c_emb]) for r in rows)
                )
        trained["centroids"], trained["pq_books"] = centroids, pq_books
        _vec_artifacts(vecs, root, vec_wm, centroids, srp_bits, pq_books)

    def _bpe_job() -> None:
        bpe_rules = trained["bpe_rules"]
        if bpe_rules is None:
            from .text import _bpe_train, _bpe_train_on, _bpe_vocab_from_docs

            if doc_pred is None and doc_scope is None:
                # full corpus: share the session-memoized trained tokenizer
                bpe_rules, bpe_vocab = _bpe_train(spark, sf_dir)
            else:  # subset/scoped build: train directly on the restricted
                # docs, never through the full-corpus memo (a scoped store
                # must not carry out-of-scope vocabulary rows)
                bpe_rules, bpe_vocab = _bpe_train_on(_bpe_vocab_from_docs(docs))
        else:
            # frozen rules (refresh-equality rebuilds): segment the corpus
            # vocabulary through the stored chain, no retraining
            from .text import _bpe_apply_rules, _bpe_vocab_from_docs

            bpe_vocab = _bpe_apply_rules(_bpe_vocab_from_docs(docs), bpe_rules)
        trained["bpe_rules"] = bpe_rules
        # the trained tokenizer's APPLY table: token -> merged symbol
        # sequence (wct is training-internal and not part of the artifact)
        _write(
            bpe_vocab.select("tok", "syms"), f"{root}/bpe_vocab/ingest={doc_wm}"
        )

    jobs = []
    if "vecs" in families:
        jobs.append(_vecs_job)
    else:
        trained["centroids"], trained["pq_books"] = [], []
    if "bpe" in families:
        jobs.append(_bpe_job)
    else:
        trained["bpe_rules"] = []
    if "docs" in families:
        jobs.append(lambda: _doc_artifacts(spark, docs, root, doc_wm))
    _run_jobs(jobs)
    centroids, pq_books, bpe_rules = (
        trained["centroids"], trained["pq_books"], trained["bpe_rules"]
    )

    manifest = {
        "sf_dir": sf_dir,
        "layout": _LAYOUT_VERSION,
        "families": list(families),
        "doc_watermark": doc_wm,
        "vec_watermark": vec_wm,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "simhash_wide": simhash_wide,
        "srp_bits": srp_bits,
        # k x dim doubles — bounded driver state; json round-trips
        # float64 exactly (shortest-repr), so a fresh session loads the
        # trained quantizer/codebooks bit-identical instead of retraining
        "centroids": [[c, list(map(float, v))] for c, v in centroids],
        "pq_books": [
            [[c, list(map(float, v))] for c, v in book] for book in pq_books
        ],
        # (step, lhs, rhs, merged, pair_ct) — the trained merge chain
        "bpe_rules": [list(r) for r in bpe_rules],
        # variant membership rules, reapplied verbatim by refresh_index
        "doc_scope": list(doc_scope) if doc_scope else None,
        "vec_scope": list(vec_scope) if vec_scope else None,
        # opaque prefix-simulation predicates can't be reapplied — flag
        # them so refresh_index demands the prefix contract explicitly
        "opaque_pred": doc_pred is not None or vec_pred is not None,
    }
    tmp = f"{root}/{MANIFEST}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, f"{root}/{MANIFEST}")  # commit point: artifacts land
    # first, the manifest last — a crash before this line leaves the
    # watermark unchanged and the retry overwrites the same ingest dirs
    return manifest


def read_manifest(root: str) -> dict:
    with open(f"{root}/{MANIFEST}") as f:
        m = json.load(f)
    m["centroids"] = [(int(c), [float(x) for x in v]) for c, v in m["centroids"]]
    m["pq_books"] = [
        [(int(c), [float(x) for x in v]) for c, v in book] for book in m["pq_books"]
    ]
    m["bpe_rules"] = [
        (int(s), lhs, rhs, merged, int(ct)) for s, lhs, rhs, merged, ct in m["bpe_rules"]
    ]
    return m


_DOC_ARTIFACTS = ("shingle_sets", "minhash_bands", "simhash_fp", "bpe_vocab")
_VEC_ARTIFACTS = ("ivf_cells", "pq_codes", "srp_sigs", "srp_sigs_wide")
_VEC_ARTIFACT_SET = set(_VEC_ARTIFACTS)


def _heal_uncommitted(root: str, m: dict) -> None:
    """Delete ingest partitions whose tag exceeds the manifest
    watermark: they are by definition UNCOMMITTED — a refresh crashed
    after writing them but before the manifest commit, and if the
    corpus has since grown, the retry's delta gets a HIGHER tag, so the
    orphan would survive and duplicate its rows in every artifact
    (ADVICE r7). Mirrors the ledger compaction's heal-before-serve:
    runs at the top of refresh_index and when ensure_index adopts an
    existing root."""
    import shutil

    for name, wm_key in (
        *((n, "doc_watermark") for n in _DOC_ARTIFACTS),
        *((n, "vec_watermark") for n in _VEC_ARTIFACTS),
    ):
        d = f"{root}/{name}"
        wm = m.get(wm_key)
        if not os.path.isdir(d) or wm is None:
            continue
        for sub in os.listdir(d):
            if sub.startswith("ingest=") and int(sub.split("=", 1)[1]) > wm:
                shutil.rmtree(os.path.join(d, sub), ignore_errors=True)


def refresh_index(
    spark: SparkSession, sf_dir: str, root: str, assume_prefix_pred: bool = False
) -> dict:
    """Incremental maintenance: index ONLY rows past the manifest
    watermark (append-only corpus — the daily-ingest shape) under the
    FROZEN parameters, write the delta's artifact rows into a new
    ingest=<delta max id> partition of each table, advance the
    watermark. The build's doc_scope/vec_scope membership rules are
    REAPPLIED to the delta (a variant store never ingests out-of-scope
    rows); a build made with an opaque doc_pred/vec_pred is refused
    unless assume_prefix_pred=True asserts the predicate was a corpus
    prefix that the refresh is meant to ingest past. Cost is one pass
    over the DELTA, never the corpus (every artifact is computed from
    the delta rows directly); the quantizer is never retrained (new
    vectors are assigned to the existing cells, exactly FAISS's
    add-after-train contract). RETRY-IDEMPOTENT end to end: a re-run
    after a committed manifest sees an empty delta and no-ops; a retry
    after a crash BEFORE the manifest commit re-derives the identical
    ingest tag and overwrites its own partitions; and if the corpus
    GREW between crash and retry, _heal_uncommitted first deletes the
    crashed attempt's orphan partitions (tag > watermark) — never a
    duplicate row."""
    m = read_manifest(root)
    if m.get("opaque_pred") and not assume_prefix_pred:
        raise ValueError(
            f"{root}: manifest was built with an opaque doc_pred/vec_pred that "
            "cannot be reapplied to the delta. If the predicate was a corpus "
            "prefix (a watermark simulation), pass assume_prefix_pred=True; "
            "if it was a variant membership rule, rebuild with "
            "doc_scope/vec_scope so refresh can enforce it."
        )
    _heal_uncommitted(root, m)
    fams = set(m.get("families", _ALL_FAMILIES))
    doc_scope_pred = _scope_pred(m.get("doc_scope"), "doc_id")
    vec_scope_pred = _scope_pred(m.get("vec_scope"), "vec_id")
    new_docs = load_table_spread(spark, sf_dir, "documents").filter(
        F.col("doc_id") > m["doc_watermark"]
    ) if "docs" in fams or "bpe" in fams else None
    if new_docs is not None and doc_scope_pred is not None:
        new_docs = new_docs.filter(doc_scope_pred)
    new_vecs = load_table_spread(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") > m["vec_watermark"]
    ) if "vecs" in fams else None
    if new_vecs is not None and vec_scope_pred is not None:
        new_vecs = new_vecs.filter(vec_scope_pred)
    n_new_docs = new_docs.count() if new_docs is not None else 0
    n_new_vecs = new_vecs.count() if new_vecs is not None else 0
    if n_new_docs:
        # the delta's ingest tag is its max id — deterministic given
        # (corpus, manifest), so a crashed refresh retried before the
        # manifest commit OVERWRITES its own ingest partitions instead
        # of appending the delta twice
        new_doc_wm = int(new_docs.agg(F.max("doc_id")).first()[0])
        if "docs" in fams:
            _doc_artifacts(spark, new_docs, root, new_doc_wm)
        if "bpe" in fams:
            # OUT-OF-VOCABULARY segmentation: words seen only in the
            # delta segment through the FROZEN merge chain (a shipped
            # tokenizer never retrains on new text); words already in
            # the stored vocab keep their stored segmentation
            from .text import _bpe_apply_rules, _bpe_vocab_from_docs

            stored_toks = Store(root, m).read(spark, "bpe_vocab").select("tok")
            new_vocab = _bpe_vocab_from_docs(new_docs).join(
                stored_toks, "tok", "left_anti"
            )
            _write(
                _bpe_apply_rules(new_vocab, m["bpe_rules"]).select("tok", "syms"),
                f"{root}/bpe_vocab/ingest={new_doc_wm}",
            )
        m["doc_watermark"] = max(m["doc_watermark"], new_doc_wm)
    if n_new_vecs:
        new_vec_wm = int(new_vecs.agg(F.max("vec_id")).first()[0])
        _vec_artifacts(
            new_vecs, root, new_vec_wm, m["centroids"], m["srp_bits"], m["pq_books"]
        )
        m["vec_watermark"] = max(m["vec_watermark"], new_vec_wm)
    m["n_docs"] += n_new_docs
    m["n_vecs"] += n_new_vecs
    out = dict(m)
    m["centroids"] = [[c, list(map(float, v))] for c, v in m["centroids"]]
    m["pq_books"] = [
        [[c, list(map(float, v))] for c, v in book] for book in m["pq_books"]
    ]
    tmp = f"{root}/{MANIFEST}.tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, f"{root}/{MANIFEST}")
    return out


_FAMILY_ARTIFACTS = {
    "docs": ("shingle_sets", "minhash_bands", "simhash_fp"),
    "vecs": _VEC_ARTIFACTS,
    "bpe": ("bpe_vocab",),
}
_ALL_FAMILIES = tuple(_FAMILY_ARTIFACTS)


def _layout_current(root: str) -> dict | None:
    """The manifest of the store at root — None unless it is readable AND
    the store carries every
    artifact directory the CURRENT code derives for its families
    (_FAMILY_ARTIFACTS — the general mechanism, so the NEXT
    artifact-adding round inherits the upgrade path instead of
    reproducing the missing-dir read failure). A manifest written by an
    older engine layout (pre-r9 stores have no srp_sigs_wide) would
    otherwise short-circuit the build and break the wide from_index
    readers; instead, ensure_index demotes such a store to the takeover
    path, which rebuilds privately and swaps it out atomically — the
    same discipline as a crashed manifest-less root. Callers must run
    _repair_compact FIRST: a crashed compaction swap leaves a healthy
    artifact under _old_<name>, which must be healed, not rebuilt."""
    try:
        m = read_manifest(root)
    except Exception:
        return None
    # pre-v2 manifests carry no layout key — default 1, never current
    if m.get("layout", 1) != _LAYOUT_VERSION:
        return None
    fams = set(m.get("families", _ALL_FAMILIES))
    current = all(
        os.path.isdir(f"{root}/{art}")
        for fam in fams
        for art in _FAMILY_ARTIFACTS.get(fam, ())
    )
    return m if current else None


def _shared_root_path(base: str, sf_dir: str, variant: str) -> str:
    """The stable shared-store path under SPARK_GRAFT_INDEX_DIR — one
    derivation shared by ensure_index and store_for's pre-check."""
    return os.path.join(base, sf_dir.strip("/").replace("/", "_"), variant)


def ensure_index(
    spark: SparkSession, sf_dir: str, variant: str = "full", **build_kwargs
) -> str:
    """Root of a built index store for (corpus, variant); builds on
    first use (session memo). With SPARK_GRAFT_INDEX_DIR set the root
    is a stable path and an existing manifest short-circuits the build
    entirely — the fresh-session read-only path.

    CROSS-PROCESS SAFETY (ADVICE r7): under a shared
    SPARK_GRAFT_INDEX_DIR, two fresh sessions can race the first
    build. Each builds into its own pid-suffixed sibling directory and
    PUBLISHES with one atomic rename — the loser detects the winner's
    manifest and adopts it, discarding its own build. A reader can
    therefore never observe a half-built shared root. (compact_index
    remains an in-place maintenance job: run it from the single
    maintenance owner, not concurrently with other processes'
    first-use builds.)"""
    return session_memo(
        spark, "index_root", (sf_dir, variant),
        lambda: _open_root(spark, sf_dir, variant, build_kwargs),
    )


def _open_root(spark: SparkSession, sf_dir: str, variant: str, build_kwargs: dict) -> str:
    """ensure_index's memo miss: adopt, heal, or build and publish."""
    import shutil

    base = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if base:
        root = _shared_root_path(base, sf_dir, variant)
        os.makedirs(os.path.dirname(root), exist_ok=True)
    else:
        root = tempfile.mkdtemp(prefix=f"idx_{variant}_")
        import atexit

        atexit.register(shutil.rmtree, root, ignore_errors=True)
    has_manifest = os.path.exists(f"{root}/{MANIFEST}")
    if has_manifest:
        # heal a crashed compaction swap BEFORE judging the layout: a
        # mid-swap artifact sits under _old_<name> and would otherwise
        # read as a missing layout piece, demoting a healthy repairable
        # store to a full rebuild (and a root takeover from a READER)
        _repair_compact(root)
    if has_manifest and _layout_current(root):
        pass  # adopt as-is
        # NOTE: no _heal_uncommitted here — readers never see
        # above-watermark partitions (Store.read filters them), and
        # deleting them from a reader would race a concurrent
        # refresh_index mid-write. The destructive heal belongs to the
        # refresh owner alone.
    elif base:
        # build privately, publish atomically
        stage = f"{root}.build.{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        try:
            build_index(spark, sf_dir, stage, **build_kwargs)
        except BaseException:
            # never leak a multi-GB partial stage into the shared dir
            shutil.rmtree(stage, ignore_errors=True)
            raise
        try:
            os.rename(stage, root)  # atomic: manifest+artifacts together
        except OSError:
            if _layout_current(root):
                # lost the race to a concurrent builder — adopt theirs
                # (a mid-race winner runs CURRENT code, so its layout is
                # complete; an old-layout store never passes this check
                # and takes the aside path below)
                shutil.rmtree(stage, ignore_errors=True)
            else:
                # a manifest-less root (crashed in-place build) or an
                # OLD-LAYOUT store (readable manifest, missing a
                # current-code artifact) blocks the rename. Take over
                # WITHOUT deleting: move it aside atomically. Re-check
                # for a winner IMMEDIATELY before the aside-rename
                # (ADVICE r8: a winner publishing between the first
                # check and here would get its COMPLETE store moved
                # aside, leaving root briefly absent and the store
                # stranded) — the remaining window is two syscalls wide,
                # and the post-rename sweep below closes even that.
                aside = f"{root}.crashed.{os.getpid()}"
                shutil.rmtree(aside, ignore_errors=True)
                if _layout_current(root):
                    shutil.rmtree(stage, ignore_errors=True)  # adopt winner
                else:
                    try:
                        os.rename(root, aside)
                        os.rename(stage, root)
                    except OSError:
                        if _layout_current(root):
                            shutil.rmtree(stage, ignore_errors=True)
                        else:
                            raise
                    else:
                        if os.path.exists(f"{aside}/{MANIFEST}"):
                            # lost the two-syscall race after all: the
                            # aside holds a concurrent winner's COMPLETE
                            # store of the same (corpus, variant) — the
                            # build is deterministic, so our published
                            # root carries identical content; delete the
                            # stranded copy instead of leaking it (no
                            # process ever resolved the aside path, and
                            # open file handles survive the unlink)
                            shutil.rmtree(aside, ignore_errors=True)
    else:
        build_index(spark, sf_dir, root, **build_kwargs)
    return root


_COMPACT_PARTS = {
    "shingle_sets": [],
    "minhash_bands": ["band_id"],
    "simhash_fp": [],
    "ivf_cells": ["cell"],
    "pq_codes": ["cell"],
    "srp_sigs": ["table_id"],
    "srp_sigs_wide": ["table_id"],
    "bpe_vocab": [],
}


def _repair_compact(root: str) -> None:
    """Crash repair for compact_index's two-rename swap: if a previous
    compaction died between os.replace(src, old) and
    os.replace(stage, src), the artifact directory is missing while
    _old_/_compact_ hold the data — restore the OLD layout (the
    staged copy may be incomplete) and clean the stage. Runs at the
    top of compact_index and ensure_index, so the window is healed
    before any read path can hit it."""
    import shutil

    for name in _COMPACT_PARTS:
        src, old = f"{root}/{name}", f"{root}/_old_{name}"
        if os.path.isdir(old) and not os.path.isdir(src):
            os.replace(old, src)
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(f"{root}/_compact_{name}", ignore_errors=True)


def compact_index(spark: SparkSession, root: str) -> dict[str, int]:
    """Small-files maintenance: every refresh adds an ingest=<wm>
    partition with its own part-files, so a long-lived index
    accumulates one directory per refresh — the classic small-files
    tax on every probe read. Compaction folds each artifact's ingest
    history into a SINGLE ingest=<current watermark> partition with
    consolidated files and identical content (read -> staging dir ->
    directory swap). The swap is two renames; a crash between them
    leaves the artifact dir briefly absent, which _repair_compact
    (invoked here and by ensure_index) heals by restoring the old
    layout — re-run compact_index to finish. Returns per-artifact file
    counts. At warehouse scale this is the OPTIMIZE/rewrite-data-files
    job table formats schedule."""
    import shutil

    _repair_compact(root)
    m = read_manifest(root)
    out: dict[str, int] = {}
    for name, pcols in _COMPACT_PARTS.items():
        src = f"{root}/{name}"
        if not os.path.isdir(src):
            continue
        # family watermark by the SAME membership Store.read uses —
        # a hand-listed tuple here once omitted srp_sigs_wide, folding
        # it into ingest=<doc_watermark>, which the vec-watermark read
        # filter then excluded ENTIRELY when doc_wm > vec_wm (silent
        # empty reads after compaction; masked on test corpora where
        # the two watermarks coincide)
        wm = m["vec_watermark"] if name in _VEC_ARTIFACT_SET else m["doc_watermark"]
        stage = f"{root}/_compact_{name}"
        shutil.rmtree(stage, ignore_errors=True)
        # drop the discovered ingest column; the fold IS the new ingest
        df = spark.read.parquet(src).drop("ingest")
        # localCheckpoint breaks the read's lineage on the directory we
        # are about to replace
        df = df.localCheckpoint()
        w = df.coalesce(max(1, spark.sparkContext.defaultParallelism // 4)).write
        if pcols:
            w = w.partitionBy(*pcols)
        w.mode("overwrite").parquet(f"{stage}/ingest={wm}")
        old = f"{root}/_old_{name}"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(stage, src)
        shutil.rmtree(old, ignore_errors=True)
        out[name] = sum(
            1 for _, _, files in os.walk(src) for f in files if f.endswith(".parquet")
        )
    return out


_LEDGER_COMPACT_MARKER = "_COMPACT_MANIFEST.json"


def compact_ledger(spark: SparkSession, ledger: str, upto: int) -> None:
    """Fold a batch_id-partitioned admission ledger's partitions with
    id <= upto into the single partition batch_id=<upto> (additive
    rows, so the fold is a plain union — re-summed identically on
    read). Contract: `upto` must be strictly below any batch that
    could still RETRY (quiesced stream, or < the last checkpoint-
    committed id) — _ledger_prior excludes a batch's own partition,
    so folding history INTO a retryable batch's partition would hide
    that history from its retry. Expired keys (aged-out hours,
    tombstoned fingerprints) are the rows a production compaction
    drops here.

    CRASH SAFETY: the fold is staged completely, then a marker file
    records the partitions to delete, then deletion + rename happen.
    A crash at ANY point is recoverable: the marker makes
    _ledger_prior fail loudly (no serving against truncated history),
    and re-running compact_ledger resumes the pending swap from the
    marker before doing anything else."""
    import shutil

    _resume_ledger_compact(ledger)
    done = sorted(
        (d for d in os.listdir(ledger)
         if d.startswith("batch_id=") and int(d.split("=", 1)[1]) <= upto),
        key=lambda d: int(d.split("=", 1)[1]),
    )
    if len(done) <= 1:
        return
    folded = spark.read.parquet(*(os.path.join(ledger, d) for d in done))
    stage = f"{ledger}/_compact"
    shutil.rmtree(stage, ignore_errors=True)
    folded.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(stage)
    marker = os.path.join(ledger, _LEDGER_COMPACT_MARKER)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"upto": upto, "fold": done}, f)
    os.replace(tmp, marker)  # intent committed: stage is authoritative
    for d in done:
        shutil.rmtree(os.path.join(ledger, d), ignore_errors=True)
    os.replace(stage, os.path.join(ledger, f"batch_id={upto}"))
    os.remove(marker)


def _resume_ledger_compact(ledger: str) -> None:
    """Finish a compaction that crashed after its intent marker: the
    staged fold is complete by marker contract, so re-delete any listed
    partitions still present, complete the rename, clear the marker."""
    import shutil

    marker = os.path.join(ledger, _LEDGER_COMPACT_MARKER)
    if not os.path.exists(marker):
        return
    with open(marker) as f:
        intent = json.load(f)
    stage = f"{ledger}/_compact"
    if os.path.isdir(stage):
        for d in intent["fold"]:
            shutil.rmtree(os.path.join(ledger, d), ignore_errors=True)
        os.replace(stage, os.path.join(ledger, f"batch_id={intent['upto']}"))
    os.remove(marker)


class Store(NamedTuple):
    """One manifest snapshot of a built index store (see store_for)."""

    root: str
    manifest: dict

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Watermark-filtered artifact read: only ingest partitions at or
        below this manifest's watermark are COMMITTED — a concurrent or
        crashed refresh's higher-tagged partitions are invisible to
        readers (partition-pruned filter, zero data cost). This makes
        reads safe against in-flight maintenance WITHOUT deleting
        anything: the destructive heal runs only inside refresh_index,
        which — like compact_index — is a single-owner maintenance job."""
        wm_key = "vec_watermark" if name in _VEC_ARTIFACT_SET else "doc_watermark"
        return spark.read.parquet(f"{self.root}/{name}").filter(
            F.col("ingest") <= self.manifest[wm_key]
        )

    @property
    def tag(self) -> str:
        """`store:{root}:{vec_watermark}`, the memo tag of vector rows read
        through this snapshot."""
        return f"store:{self.root}:{self.manifest['vec_watermark']}"


def store_for(
    spark: SparkSession, sf_dir: str, family: str, *, require: bool = False,
    variant: str = "full", **build_kwargs,
) -> Store | None:
    """The index store a query over `family` ("docs", "vecs" or "bpe")
    reads, or None to derive live — the policy is the module
    docstring's store_for paragraph. require=True is the *_from_index
    path: ensure_index(variant, **build_kwargs), then ValueError if the
    manifest lacks the family. Once ensure_index's memo holds the root,
    every path reads the manifest once."""
    if require:
        root = ensure_index(spark, sf_dir, variant, **build_kwargs)
        m = read_manifest(root)
        if family not in m.get("families", _ALL_FAMILIES):
            raise ValueError(
                f"index store {root} has no {family!r} family; rebuild it with that family"
            )
        return Store(root, m)
    base = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if not base:
        return None
    shared = _shared_root_path(base, sf_dir, "full")
    m = None
    if os.path.exists(f"{shared}/{MANIFEST}"):
        m = _layout_current(shared)
        if m is None:
            return None
    root = ensure_index(spark, sf_dir)
    if m is None or root != shared:  # built just now, or memoized under another base
        m = read_manifest(root)
    if (
        family not in m.get("families", _ALL_FAMILIES)
        or m.get("doc_scope")
        or m.get("vec_scope")
        or m.get("opaque_pred")
    ):
        return None
    table, id_col, wm_key = (
        ("embeddings", "vec_id", "vec_watermark")
        if family == "vecs"
        else ("documents", "doc_id", "doc_watermark")
    )

    def fresh() -> bool:
        cur = load_table_spread(spark, sf_dir, table).agg(F.max(id_col)).first()[0]
        return cur is None or cur <= m[wm_key]

    # os.stat listing, no Spark job: any corpus file added, replaced or
    # rewritten in place forces one fresh max() scan, and so does a
    # refresh_index that moves the watermark
    version = (table, _listing(f"{sf_dir}/{table}.parquet"), m[wm_key])
    if not session_memo(spark, "fresh", (root, family), fresh, version=version):
        return None
    return Store(root, m)


def minhash_lsh_pairs_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_lsh_pairs over the PERSISTED band + shingle-set tables —
    same body, same oracle, but the query reads partitioned parquet
    instead of deriving signatures: the fresh-session cost of the whole
    LSH family drops to the one-time build (or to pure reads under
    SPARK_GRAFT_INDEX_DIR)."""
    return minhash_lsh_pairs(spark, sf_dir, store_for(spark, sf_dir, "docs", require=True))


def simhash_neardup_pairs_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_neardup_pairs over the persisted fingerprint table; the
    banding layout comes FROZEN from the manifest, not re-derived — old
    and new fingerprints always band identically."""
    store = store_for(spark, sf_dir, "docs", require=True)
    return simhash_neardup_pairs(spark, sf_dir, store=store)


def ann_ivf_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_topk over the persisted partitionBy(cell) assignment and
    the manifest's trained quantizer — the serving path a fresh session
    takes: load centroids (k x dim json, no training), probe, and read
    ONLY the probed cell's partition (partition pruning over the
    written layout — the disk form of the localCheckpoint pruning
    tests/test_ivf_partition_pruning.py asserts)."""
    return ann_ivf_topk(spark, sf_dir, store_for(spark, sf_dir, "vecs", require=True))


def ann_ivfpq_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivfpq_topk over the persisted index: cells AND 4-bit PQ code
    words read from their co-partitioned partitionBy(cell) tables,
    codebooks/quantizer loaded from the manifest; reconstruction is a
    literal-map lookup of the STORED codes (the write-time encode paid
    the distance computation once). Oracle: ann_ivfpq_topk's
    verbatim."""
    return ann_ivfpq_topk(spark, sf_dir, store_for(spark, sf_dir, "vecs", require=True))


def ann_ivf_multiprobe_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_multiprobe over the persisted index: each query probes
    its N_PROBE nearest cells of the STORED partitionBy(cell) layout
    with the manifest's trained quantizer — two pruned directory reads
    instead of one, the recall/cost dial turned on the disk layout.
    Oracle: ann_ivf_multiprobe's verbatim."""
    store = store_for(spark, sf_dir, "vecs", require=True)
    return ann_ivf_multiprobe(spark, sf_dir, store)


def index_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops surface of the store: per corpus, the manifest watermark vs
    the live corpus maximum and the row lag — the staleness metric a
    scheduler alerts on (lag > 0 means refresh_index is due). On the
    gate's full build the lag is provably zero, so the DuckDB oracle
    derives both numbers from the corpus alone — a nonzero lag would
    hash-mismatch, making this an end-to-end freshness check of the
    build+manifest path."""
    root = ensure_index(spark, sf_dir)
    m = read_manifest(root)
    docs = load_table_spread(spark, sf_dir, "documents").agg(
        F.max("doc_id").alias("mx"),
        F.sum((F.col("doc_id") > m["doc_watermark"]).cast("long")).alias("lag"),
    )
    vecs = load_table_spread(spark, sf_dir, "embeddings").agg(
        F.max("vec_id").alias("mx"),
        F.sum((F.col("vec_id") > m["vec_watermark"]).cast("long")).alias("lag"),
    )
    return (
        docs.select(
            F.lit("documents").alias("corpus"),
            F.lit(m["doc_watermark"]).cast("long").alias("watermark"),
            F.col("mx").cast("long").alias("corpus_max"),
            F.col("lag").alias("lag_rows"),
        )
        .unionByName(
            vecs.select(
                F.lit("embeddings").alias("corpus"),
                F.lit(m["vec_watermark"]).cast("long").alias("watermark"),
                F.col("mx").cast("long").alias("corpus_max"),
                F.col("lag").alias("lag_rows"),
            )
        )
    )


def embedding_neardup_pairs_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_neardup_pairs over the persisted partitionBy(table_id)
    SRP signature table, width frozen in the manifest."""
    store = store_for(spark, sf_dir, "vecs", require=True)
    return embedding_neardup_pairs(spark, sf_dir, store)


def embedding_neardup_wide_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_neardup_multiprobe_wide over the PERSISTED wide
    signature layout: the production serving shape of the r9 governor —
    build srp_tables_for(width) tables once, every query thereafter is
    a partition-pruned read + the hamming<=1 probe join. Same body,
    same oracle as the in-session wide form — the proof the persisted
    layout carries identical information. The confirmed-pair memo is
    shared with the in-session wide consumers under the same store tag
    (they read the same sigs when the store is live)."""
    store = store_for(spark, sf_dir, "vecs", require=True)
    return embedding_neardup_multiprobe_wide(spark, sf_dir, store)


def knn_graph_wide_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_graph_wide over the persisted wide signature layout — graph
    construction as a store read: partition-pruned srp_sigs_wide scan +
    the shared undirected probe/confirm + mirror/rank plan, same oracle
    as the in-session form."""
    return knn_graph_wide(spark, sf_dir, store_for(spark, sf_dir, "vecs", require=True))


def knn_graph_capped_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_graph_wide_capped over the persisted wide signature layout:
    the r10 sketch-ranked confirm budget as a store read — since layout
    v2 the store carries the ranking sketch as the `rs` column, so the
    slim relation is a plain read (no per-session recompute, no lineage
    truncation to lose with an executor); same oracle as the
    in-session form."""
    store = store_for(spark, sf_dir, "vecs", require=True)
    return knn_graph_wide_capped(spark, sf_dir, store)


# The capped k-NN graph as a DERIVED TABLE of the store (VERDICT r10
# #3): the r11 100x probe measured that re-deriving the graph from the
# persisted signatures costs 420-563 s fresh at 200k vectors — only
# ~1.1-1.5x under the 637 s no-store build, because the candidate
# probe join + per-source budget window dominate and the store can
# only remove the signature pass. A graph is not a query a warehouse
# re-runs per session; it is a table it MATERIALIZES once per corpus
# watermark and re-reads for pennies — the same build-once argument
# that created the index store, applied one level up. _GRAPH_META.json
# (leading underscore: invisible to parquet readers) is written LAST
# and doubles as the commit marker; it pins the corpus watermark and
# the (cap, k) contract, so a grown corpus or retuned budget makes the
# artifact invisible and the reader falls back to live derivation
# (readers never mutate shared state — republish is an explicit
# maintenance call, like refresh_index).
_GRAPH_META = "_GRAPH_META.json"


def _graph_meta_current(root: str) -> bool:
    from .similarity import KNN_CAND_CAP, KNN_GRAPH_K

    p = f"{root}/knn_graph_capped/{_GRAPH_META}"
    try:
        with open(p) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        # absent OR truncated/corrupt (a crashed writer): not current —
        # the reader re-derives instead of erroring until manual repair
        return False
    m = read_manifest(root)
    return (
        meta.get("vec_watermark") == m.get("vec_watermark")
        and meta.get("cap") == KNN_CAND_CAP
        and meta.get("k") == KNN_GRAPH_K
    )


# A dead-looking pid's staging dir must sit unmodified this long before
# the sweep may remove it: local pid liveness says nothing about a
# publisher in another pid namespace sharing the index volume, but any
# LIVE publisher touches its stage far more often than this (the stage
# receives the derivation's parquet writes), so the age converts "pid
# not found here" into "genuinely abandoned".
_SWEEP_MIN_AGE_S = 3600


def _tree_max_mtime(d: str) -> float:
    """Most recent mtime anywhere under d (dirs AND files), or the first
    one found younger than _SWEEP_MIN_AGE_S: the sweep only asks whether
    anything is recent, so the walk stops there. The top-level dir
    mtime alone is NOT a liveness signal for a Spark write in flight:
    task output lands under <d>/_temporary/... and only job start and
    final commit touch the top level, so a foreign publisher whose
    derivation runs longer than the sweep age would look abandoned by
    the top-level mtime while its task files are seconds old
    (ADVICE r12)."""
    import time

    recent = time.time() - _SWEEP_MIN_AGE_S
    newest = os.path.getmtime(d)
    for sub, dirs, files in os.walk(d):
        for name in dirs + files:
            if newest > recent:
                return newest
            try:
                newest = max(newest, os.path.getmtime(os.path.join(sub, name)))
            except OSError:
                continue  # entry vanished mid-walk (task commit/cleanup)
    return newest


def _sweep_orphan_graph_dirs(path: str) -> None:
    """Remove graph build/stale staging dirs left by CRASHED publishers
    (ADVICE r11: the old sweep removed only the CURRENT pid's stage, so
    a crashed publisher with a different pid leaked its dirs under the
    index root forever). Only dead pids are swept — a live concurrent
    publisher's in-flight stage is left untouched, and a pid alive
    under another uid (PermissionError from the probe signal) is
    conservatively treated as live. The pid liveness probe only sees
    THIS host's pid namespace, so a dir whose pid looks dead is still
    left alone until its WHOLE TREE has sat unmodified for
    _SWEEP_MIN_AGE_S (max mtime over the tree — in-flight Spark writes
    touch _temporary/ task files continuously while the top-level dir
    mtime stays at job start, ADVICE r12) — a publisher on another host
    (or container) sharing the index volume writes continuously while
    alive, so a tree this old marks a true crash rather than a
    foreign-namespace pid collision."""
    import glob
    import shutil
    import time

    for d in glob.glob(f"{path}.build.*") + glob.glob(f"{path}.stale.*"):
        try:
            pid = int(d.rsplit(".", 1)[-1])
        except ValueError:
            shutil.rmtree(d, ignore_errors=True)  # unparseable: not ours to keep
            continue
        if pid == os.getpid():
            continue  # this process's own stage is managed by the publish flow
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            try:
                age = time.time() - _tree_max_mtime(d)
            except OSError:
                continue  # vanished mid-sweep: another sweeper got it
            if age >= _SWEEP_MIN_AGE_S:
                shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def publish_knn_graph(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the capped k-NN graph into the store: derive from
    the persisted signatures into a pid-staged directory (meta stamped
    INSIDE the stage, so the commit marker travels with the atomic
    rename — a crashed publish leaves either no dir or a dead-pid
    stage the next publish sweeps, never a half-published artifact),
    then swap it in with the ensure_index takeover recipe: the rename
    loser adopts a concurrent winner's current artifact, and a STALE
    incumbent is moved aside before the retry (restored if the retry
    fails, so a live artifact always remains) — two publishers under
    a shared SPARK_GRAFT_INDEX_DIR can never interleave writes into
    one live directory. The commit watermark is read BEFORE the
    derivation and re-checked after (ADVICE r11 TOCTOU: an ingest
    landing mid-build must not get stamped onto a graph derived from
    the older corpus) — on drift the build is discarded and re-run
    once against the moved watermark. Content for a given (watermark,
    cap, k) is deterministic, so whichever publisher wins, readers see
    the same graph. No-op when the published graph is already
    current."""
    import shutil

    from .similarity import KNN_CAND_CAP, KNN_GRAPH_K

    root = ensure_index(spark, sf_dir)
    path = f"{root}/knn_graph_capped"
    _sweep_orphan_graph_dirs(path)
    for _attempt in range(2):
        if _graph_meta_current(root):
            return path
        pre_wm = read_manifest(root).get("vec_watermark")
        stage = f"{path}.build.{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        try:
            knn_graph_capped_from_index(spark, sf_dir).write.mode("overwrite").parquet(stage)
            if read_manifest(root).get("vec_watermark") != pre_wm:
                # ingest landed mid-build: the derived edges reflect the
                # older corpus — discard instead of stamping stale edges
                # current, then retry against the moved watermark
                shutil.rmtree(stage, ignore_errors=True)
                continue
            with open(f"{stage}/{_GRAPH_META}", "w") as f:
                json.dump(
                    {"vec_watermark": pre_wm,
                     "cap": KNN_CAND_CAP, "k": KNN_GRAPH_K}, f,
                )
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        try:
            os.rename(stage, path)
        except OSError:
            if _graph_meta_current(root):
                shutil.rmtree(stage, ignore_errors=True)  # lost to a current winner
            else:
                aside = f"{path}.stale.{os.getpid()}"
                shutil.rmtree(aside, ignore_errors=True)
                try:
                    os.rename(path, aside)
                except OSError:
                    shutil.rmtree(stage, ignore_errors=True)
                    if not _graph_meta_current(root):
                        raise
                    return path
                try:
                    os.rename(stage, path)
                except OSError:
                    # restore the incumbent before raising so a live
                    # artifact always remains (ADVICE r11), and never
                    # leak the aside copy on the failure path
                    shutil.rmtree(stage, ignore_errors=True)
                    try:
                        os.rename(aside, path)
                    except OSError:
                        pass  # a concurrent winner already owns path
                    if not _graph_meta_current(root):
                        shutil.rmtree(aside, ignore_errors=True)
                        raise
                shutil.rmtree(aside, ignore_errors=True)
        return path
    raise RuntimeError(
        "publish_knn_graph: corpus watermark moved during both build "
        "attempts — quiesce ingest (or rerun) before publishing"
    )


def knn_graph_capped_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived-table lifecycle of the capped graph in one query:
    publish once per corpus watermark (no-op when current), then READ
    the materialized edges — the shape every later session under
    SPARK_GRAFT_INDEX_DIR gets for the cost of a 4-column parquet scan
    (the r11 100x probe: 420-563 s re-derivation -> seconds). Same
    oracle as knn_graph_wide_capped: the artifact provably carries the
    identical graph."""
    publish_knn_graph(spark, sf_dir)
    root = ensure_index(spark, sf_dir)
    return spark.read.parquet(f"{root}/knn_graph_capped").select(
        "src", "rank", "dst", "cosine"
    )


def semantic_decontaminate_band_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """semantic_decontaminate_band over the persisted wide signature
    layout: the design-band production screen as a store read; same
    oracle as the in-session band form."""
    store = store_for(spark, sf_dir, "vecs", require=True)
    return semantic_decontaminate_band(spark, sf_dir, store)


def semantic_decontaminate_wide_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """semantic_decontaminate_wide over the persisted wide signature
    layout: the daily-contamination-screen shape — benchmark probes
    derive fresh from the store's own bench signatures and broadcast
    against the stored corpus table; same oracle as the in-session
    form."""
    store = store_for(spark, sf_dir, "vecs", require=True)
    return semantic_decontaminate_wide(spark, sf_dir, store)


def incremental_neardup_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest screen AGAINST THE STORE: the reference corpus
    (even doc_ids) lives as a built index variant; the incoming batch
    (odd doc_ids) is shingled/banded fresh and joined against the
    STORED band table, confirmed against the STORED shingle sets — the
    batch never touches reference text, which is the property that
    makes a 100 TB reference corpus affordable to screen against daily.
    Same output and oracle as incremental_neardup (which derives both
    sides in-session). The variant's doc_scope is a serializable
    membership rule: the manifest records it and refresh_index
    reapplies it to every delta; it builds the docs family only — no
    quantizer/codebook/tokenizer training."""
    store = store_for(spark, sf_dir, "docs", require=True, variant="ref_even",
                      doc_scope=("mod", 2, 0), families=("docs",))
    return incremental_neardup(spark, sf_dir, store)


def bpe_doc_tokens_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bpe_doc_tokens served from the PERSISTED tokenizer: the apply
    table (token -> merged symbol sequence) reads from the store
    instead of re-running the training loop's sequential 1-row
    collects — applying a shipped tokenizer is a broadcast-join lookup,
    exactly how production tokenization runs. Oracle: bpe_doc_tokens'
    verbatim."""
    return bpe_doc_tokens(spark, sf_dir, store_for(spark, sf_dir, "bpe", require=True))


def index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Artifact-integrity report: row count per persisted table. Each
    count has a closed form over the base tables (one set row and one
    fingerprint per doc, N_BANDS band rows per doc, SRP_TABLES
    signature rows per vector, one cell row per corpus vector), so the
    DuckDB oracle derives the expected counts from the raw corpus and
    the gate hash-checks that the store is COMPLETE — no partition
    dropped, no doc skipped."""
    root = ensure_index(spark, sf_dir)
    parts = [
        ("shingle_sets", f"{root}/shingle_sets"),
        ("minhash_bands", f"{root}/minhash_bands"),
        ("simhash_fp", f"{root}/simhash_fp"),
        ("ivf_cells", f"{root}/ivf_cells"),
        ("pq_codes", f"{root}/pq_codes"),
        ("srp_sigs", f"{root}/srp_sigs"),
        ("srp_sigs_wide", f"{root}/srp_sigs_wide"),
        ("bpe_vocab", f"{root}/bpe_vocab"),
    ]
    dfs = [
        spark.read.parquet(path)
        .agg(F.count("*").alias("row_ct"))
        .select(F.lit(name).alias("artifact"), "row_ct")
        for name, path in parts
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


QUERIES = {
    "minhash_lsh_pairs_from_index": minhash_lsh_pairs_from_index,
    "simhash_neardup_pairs_from_index": simhash_neardup_pairs_from_index,
    "ann_ivf_topk_from_index": ann_ivf_topk_from_index,
    "ann_ivfpq_topk_from_index": ann_ivfpq_topk_from_index,
    "ann_ivf_multiprobe_from_index": ann_ivf_multiprobe_from_index,
    "index_freshness": index_freshness,
    "embedding_neardup_pairs_from_index": embedding_neardup_pairs_from_index,
    "embedding_neardup_wide_from_index": embedding_neardup_wide_from_index,
    "knn_graph_wide_from_index": knn_graph_wide_from_index,
    "knn_graph_capped_from_index": knn_graph_capped_from_index,
    "knn_graph_capped_published": knn_graph_capped_published,
    "semantic_decontaminate_wide_from_index": semantic_decontaminate_wide_from_index,
    "semantic_decontaminate_band_from_index": semantic_decontaminate_band_from_index,
    "incremental_neardup_from_index": incremental_neardup_from_index,
    "bpe_doc_tokens_from_index": bpe_doc_tokens_from_index,
    "index_stats": index_stats,
}

from .dedup import ORACLES as _DEDUP_ORACLES
from .similarity import ORACLES as _SIM_ORACLES
from .text import ORACLES as _TEXT_ORACLES

ORACLES = {
    # the from_index twins must answer EXACTLY like the in-session
    # operators — their oracles apply verbatim, which is the proof that
    # the persisted artifact carries the same information
    "minhash_lsh_pairs_from_index": _DEDUP_ORACLES["minhash_lsh_pairs"],
    "simhash_neardup_pairs_from_index": _DEDUP_ORACLES["simhash_neardup_pairs"],
    "ann_ivf_topk_from_index": _SIM_ORACLES["ann_ivf_topk"],
    "ann_ivfpq_topk_from_index": _SIM_ORACLES["ann_ivfpq_topk"],
    "ann_ivf_multiprobe_from_index": _SIM_ORACLES["ann_ivf_multiprobe"],
    # lag is provably 0 on the gate's full build, so the corpus alone
    # determines the answer; a build/manifest drift would hash-mismatch
    "index_freshness": """
    SELECT 'documents' AS corpus, CAST(MAX(doc_id) AS BIGINT) AS watermark,
           CAST(MAX(doc_id) AS BIGINT) AS corpus_max, CAST(0 AS BIGINT) AS lag_rows
    FROM documents
    UNION ALL
    SELECT 'embeddings', CAST(MAX(vec_id) AS BIGINT), CAST(MAX(vec_id) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM embeddings
    """,
    "embedding_neardup_pairs_from_index": _SIM_ORACLES["embedding_neardup_pairs"],
    "embedding_neardup_wide_from_index": _SIM_ORACLES["embedding_neardup_multiprobe_wide"],
    "knn_graph_wide_from_index": _SIM_ORACLES["knn_graph_wide"],
    "knn_graph_capped_from_index": _SIM_ORACLES["knn_graph_wide_capped"],
    "knn_graph_capped_published": _SIM_ORACLES["knn_graph_wide_capped"],
    "semantic_decontaminate_wide_from_index": _SIM_ORACLES["semantic_decontaminate_wide"],
    "semantic_decontaminate_band_from_index": _SIM_ORACLES["semantic_decontaminate_band"],
    "incremental_neardup_from_index": _DEDUP_ORACLES["incremental_neardup"],
    "bpe_doc_tokens_from_index": _TEXT_ORACLES["bpe_doc_tokens"],
    # closed-form artifact counts over the base tables (see docstring):
    # N_BANDS bands/doc, SRP_TABLES sigs/vec, queries excluded from
    # ivf_cells
    "index_stats": f"""
    SELECT 'shingle_sets' AS artifact, CAST(COUNT(*) AS BIGINT) AS row_ct FROM documents
    UNION ALL
    SELECT 'minhash_bands', CAST({N_BANDS} * COUNT(*) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'simhash_fp', CAST(COUNT(*) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'ivf_cells', CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id >= {N_QUERIES}
    UNION ALL
    SELECT 'pq_codes', CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id >= {N_QUERIES}
    UNION ALL
    SELECT 'srp_sigs', CAST({SRP_TABLES} * COUNT(*) AS BIGINT) FROM embeddings
    UNION ALL
    SELECT 'srp_sigs_wide', CAST(tables * n AS BIGINT) FROM (
        SELECT {_srp_tables_case_sql()} AS tables, n FROM (
            SELECT LEAST({SRP_MAX_BITS}, GREATEST({SRP_BITS},
                CAST(CEIL(LOG2(GREATEST(n, 2) / {SRP_TARGET_BUCKET}.0)) AS INTEGER))) AS bits, n
            FROM (SELECT COUNT(*) AS n FROM embeddings)
        )
    )
    UNION ALL
    SELECT 'bpe_vocab', CAST(COUNT(DISTINCT tok) AS BIGINT) FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    )
    """,
}
