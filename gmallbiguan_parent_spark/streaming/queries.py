"""Streaming queries exposed through the driver contract: each runs a
bounded Structured Streaming replay inside the call and returns the
materialized result as a batch DataFrame, so the driver's oracle gate
hash-checks STREAMING semantics, not just batch twins.

- stream_visitor_stats_q: complete-mode windowed aggregation → memory
  sink. Complete mode re-emits every window, so a bounded replay equals
  the batch answer exactly (oracle-checked). Distinct counts are not
  legal inside streaming aggs — pv/value measures only.
- stream_uv_dedup_q: watermarked dropDuplicates on (user, day) → the
  distinct key set (oracle-checked).
- stream_jump_detect_q: applyInPandasWithState with event-time timeout —
  custom stateful operator. End-of-stream timeouts are flushed by
  per-user sentinels, so the bounded replay's per-day rollup equals
  batch user_jump exactly and is fully oracle-checked.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dec
from ..memo import session_memo
from .pipelines import (
    WINDOW, _events_key_stats, _events_stream, _no_trailing_empty_batch,
    _stateful_replay_parts, _table_stream, run_stream_to_df,
    stream_cms_sketch, stream_dedup_gate, stream_jump_detect,
    stream_rate_limit_ledger, stream_transition_matrix,
)

_SCRATCH_ROOT: str | None = None


def _scratch(prefix: str) -> str:
    """Scratch directory under ONE per-process root that is removed at
    interpreter exit (ADVICE r7: per-call mkdtemp checkpoints/stores
    accumulated full corpus copies across repeated bench/gate runs).
    Still unique per call — concurrent queries never collide — but the
    whole tree dies with the session."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sgq_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


# Staged multi-file ingest SOURCES are pure functions of the corpus (a
# repartition(n_files) copy of a deterministic table): memoized per
# application exactly like the sentinel staging in pipelines, so
# repeated replays in one session re-read ONE staging instead of
# re-writing it per call. Only the INPUT staging is shared — every call
# still replays the stream and re-derives its store/artifacts from the
# parquet input. Keyed on the staged PROJECTION too (ADVICE r12: the
# embeddings staging holds a (vec_id, v) cast projection — a future
# call site staging the raw table under the same (table, n_files) must
# get its own stage, never the mismatched schema). A stage is served
# only once its _SUCCESS marker exists: a failed staging is re-derived.
def _staged_ingest_src(
    spark: SparkSession, sf_dir: str, table: str, n_files: int, proj: str = "raw"
) -> str:
    return session_memo(
        spark, "ingest_stage", (sf_dir, table, n_files, proj),
        lambda: _scratch(f"ing_{table}_"),
        valid=lambda stage: os.path.exists(f"{stage}/{table}/_SUCCESS"),
    )


def _ensure_staged(
    spark: SparkSession,
    sf_dir: str,
    stage: str,
    table: str,
    n_files: int,
    df: DataFrame | None = None,
) -> None:
    """Write the repartition(n_files) staging copy of `table` under
    `stage` unless its _SUCCESS marker already exists — the ONE
    freshness predicate shared by every ingest call site (memoized
    stages skip the write; a fresh or failed stage gets it), so no
    caller can hand-roll a drifting guard. Callers staging a
    PROJECTION (the df override) must pass a matching `proj` tag to
    _staged_ingest_src so differently-projected stagings of one table
    can never share a stage."""
    if os.path.exists(f"{stage}/{table}/_SUCCESS"):
        return
    from ..io import load_table

    src = df if df is not None else load_table(spark, sf_dir, table)
    src.repartition(n_files).write.mode("overwrite").parquet(f"{stage}/{table}")


def stream_visitor_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATE-REPLAY form (complete mode → memory sink): re-emitting every
    window makes the bounded replay equal the batch answer exactly for
    hash-checking. NOT the deploy shape — windows×time grows unbounded
    on a real stream; the production twin is the append-mode watermarked
    parquet sink streaming/pipelines.stream_visitor_stats (windows
    finalize once, state evicted by the watermark)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "3 seconds")
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("pv_ct"),
            F.sum(dec("value")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "event_type", "pv_ct", "value_sum",
        )
    )
    name = f"vsq_{uuid.uuid4().hex[:10]}"
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, (span_us // 600_000_000 + 1) * 8)  # windows x types
    with _stateful_replay_parts(spark, est):
        (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", _scratch("chk_vsq_"))
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def stream_uv_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    firsts = (
        ev.select("user_id", F.to_date("ts").alias("dt"), "ts")
        .withWatermark("ts", "3 seconds")
        .dropDuplicates(["user_id", "dt"])
        .select("user_id", "dt")
    )
    out = _scratch("uvq_")
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, n_users * (span_us // 86_400_000_000 + 1))
    with _stateful_replay_parts(spark, est), \
            _no_trailing_empty_batch(spark):  # dropDuplicates emits on arrival
        (
            firsts.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out}/_chk")
            .start(f"{out}/data")
            .awaitTermination()
        )
    return spark.read.parquet(f"{out}/data")


def stream_jump_detect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the stateful jump detector. Sentinel injection
    (streaming/pipelines._stage_events_with_sentinels) flushes
    end-of-stream timeouts, so the decided-event stream covers EVERY
    event and this per-day rollup equals batch user_jump exactly — the
    batch oracle applies verbatim (reference timeout semantics:
    RT/app/dwm2/UJump2.java:88-137)."""
    decided = run_stream_to_df(spark, sf_dir, stream_jump_detect)
    return (
        decided.filter(F.col("event_id") >= 0)  # drop any sentinel echoes
        .select(F.to_date(F.timestamp_micros("ts_us")).alias("dt"), "is_jump")
        .groupBy("dt")
        .agg(
            F.sum(F.when(F.col("is_jump"), 1).otherwise(0)).alias("uj_ct"),
            F.count("*").alias("ev_ct"),
        )
    )


def stream_keyword_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's keyword DAG as a genuine STREAM (U1+A4:
    KeywordStatspp is a streaming job — tokenize search phrases,
    explode, count per keyword): documents file-stream → tokenize →
    explode → running counts in complete mode. Complete-mode re-emit
    makes the bounded replay equal the batch answer exactly, so the
    oracle is the batch keyword aggregation. GATE-REPLAY form: the
    running-count state is the keyword vocabulary (bounded), but the
    re-emission is replay-only — a production deploy appends windowed
    partials like streaming/pipelines.stream_visitor_stats or folds a
    per-batch ledger (stream_cms_sketch recipe) instead."""
    from ..functions import tokenize

    docs = _table_stream(spark, sf_dir, "documents")
    agg = (
        docs.select("source", F.explode(tokenize("text")).alias("keyword"))
        .filter(F.length("keyword") >= 2)
        .groupBy("keyword", "source")
        .agg(F.count("*").alias("ct"))
    )
    name = f"kwq_{uuid.uuid4().hex[:10]}"
    (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", _scratch("chk_kwq_"))
        .start()
        .awaitTermination()
    )
    return spark.table(name)


def stream_dim_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the streaming form of the async dim
    enrichment (SURVEY J3/ST9): each micro-batch broadcast-joins the
    static dim snapshot, stateless on the stream side (Flink needed an
    async I/O operator + Redis cache for this; Spark re-reads/broadcasts
    the dim per batch, which also gives the per-batch cache-invalidation
    semantics of S8 for free). Left join: a dim miss keeps the fact row
    (DimAsyncFunction.java:75-78). Windowed agg per dim attribute on
    top, complete mode so the bounded replay equals the batch answer.
    GATE-REPLAY form: complete-mode windows×time grow unbounded on a
    real stream — the deploy shape is the enrich join feeding an
    append-mode watermarked sink exactly like streaming/pipelines.
    stream_visitor_stats (the join itself is stateless either way)."""
    from ..io import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id", "left")
        .withWatermark("ts", "3 seconds")
        .groupBy(F.window("ts", WINDOW).alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("pv_ct"),
            F.sum(dec("value")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            F.col("c_mktsegment").alias("segment"),
            "pv_ct", "value_sum",
        )
    )
    name = f"sdq_{uuid.uuid4().hex[:10]}"
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, (span_us // 600_000_000 + 1) * 8)  # windows x segments
    with _stateful_replay_parts(spark, est):
        (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", _scratch("chk_sdq_"))
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def stream_user_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization — Spark's session_window merges
    per-event [ts, ts+gap) windows, the engine capability behind the
    reference's gap semantics (its jump CEP is the 1-event special
    case). Append mode emits a session once the watermark passes its
    close (last event + gap); per-user sentinels staged past
    max_ts + gap + 10 s push the final watermark far enough that EVERY
    real session finalizes, while each sentinel's own session never
    closes and so never emits. The bounded replay therefore equals
    batch user_sessions exactly (same >= gap merge rule), minus the
    per-user ordinal which append output cannot order — the oracle is
    the batch CTE aggregated without session_seq."""
    from .pipelines import (
        SESSION_GAP_S, STAGE_PAD_S, _events_stream, _stage_events_with_sentinels,
    )

    assert STAGE_PAD_S > SESSION_GAP_S + 10  # shared pad closes every session
    stage = _stage_events_with_sentinels(spark, sf_dir)
    ev = _events_stream(spark, stage, glob="*.parquet")
    agg = (
        ev.withWatermark("ts", "3 seconds")
        .groupBy(F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("ev_ct"),
            F.max("event_id").alias("max_eid"),
        )
    )
    out = _scratch("usq_")
    # session-window state: ~one open session per user at any watermark
    with _stateful_replay_parts(spark, _events_key_stats(spark, sf_dir)[0]):
        (
            agg.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out}/_chk")
            .start(f"{out}/data")
            .awaitTermination()
        )
    return (
        spark.read.parquet(f"{out}/data")
        .filter(F.col("max_eid") >= 0)  # belt-and-braces: drop sentinel-only sessions
        .select(
            "user_id", "session_start", "session_end", "ev_ct",
            (F.unix_micros("session_end") - F.unix_micros("session_start")).alias("duration_us"),
        )
    )


def stream_payment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, gate-checked (SURVEY §2.8/J2): a
    purchase joins the same user's preceding view/click within 30 min —
    the reference's payment⋈order intervalJoin
    (RT/app/dwm2/PaymentWideApp2.java:70-82) as two watermarked streams.
    INNER time-bounded joins emit as soon as both rows arrive, so a
    bounded availableNow replay produces the complete pair set (no
    end-of-stream flush needed — tests assert exact equality with the
    batch join) and the batch interval-join SQL is the oracle."""
    from .pipelines import run_stream_to_df, stream_payment_wide

    pairs = run_stream_to_df(spark, sf_dir, stream_payment_wide)
    return pairs.select(
        "pay_id", F.col("pay_user").alias("user_id"), "act_id", "pay_ts", "act_ts"
    )


def stream_gmv_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via foreachBatch — the
    serving-layer pattern the reference implements as per-record
    ClickHouse upserts (SURVEY §2.1 S10), done the Structured Streaming
    way: orders replay as a MULTI-FILE stream (maxFilesPerTrigger=1 →
    one micro-batch per file), each batch computes per-day decimal
    partial sums, and foreachBatch MERGEs them into the accumulator
    table (read → union → re-aggregate → atomic swap). Because the
    partials are exact decimal, merge order is irrelevant and the final
    accumulator equals batch gmv_daily to the last bit — that batch SQL
    is the oracle.

    TWO staged files → two micro-batches (r13, VERDICT r12 #1): the
    semantics this query certifies are the CROSS-BATCH merge (batch N
    unions the prior snapshot and re-aggregates) and the at-least-once
    snapshot skip — both fully exercised by the minimum multi-batch
    replay; the old 4-file fan-out bought two more ~0.5 s trigger
    rounds that certified nothing extra (per-batch trigger timings in
    plans/r13/stream_triggers_before.jsonl). The multi-batch assert
    below is unchanged.

    Scale: each micro-batch shuffles only its delta (one day-keyed agg);
    the merge touches the day-grain accumulator (rows = days, not
    orders). On a real deployment the swap is a transactional MERGE
    INTO (Delta/Iceberg) or ClickHouse ReplacingMergeTree insert.
    Restart safety against foreachBatch's at-least-once contract comes
    from VERSIONED snapshots keyed by batch id: batch N atomically
    renames its merged output to acc_upto_N, and a replayed batch that
    finds a snapshot at-or-past its id SKIPS (the merge already
    happened) — the os.rename is the commit point, so a crash on either
    side of it replays into either a clean retry or a no-op, never a
    double-count. This is exactly the version-ledger trick transactional
    table formats implement for real."""
    import os
    import re
    import shutil
    import tempfile

    from ..pipelines.serving import GMV_MONTH

    stage = _staged_ingest_src(spark, sf_dir, "orders", 2)
    acc_root = _scratch("gmvinc_acc_")
    _ensure_staged(spark, sf_dir, stage, "orders", 2)

    schema = spark.read.parquet(f"{stage}/orders").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/orders")
    )

    batches: list[int] = []

    def _snapshots() -> dict[int, str]:
        out = {}
        for name in os.listdir(acc_root):
            m = re.fullmatch(r"acc_upto_(\d+)", name)
            if m:
                out[int(m.group(1))] = f"{acc_root}/{name}"
        return out

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        snaps = _snapshots()
        if snaps and max(snaps) >= batch_id:
            return  # at-least-once replay of an already-committed batch
        part = (
            batch_df.filter(
                (F.col("o_orderdate") >= GMV_MONTH[0])
                & (F.col("o_orderdate") < GMV_MONTH[1])
            )
            .groupBy(F.date_format("o_orderdate", "yyyyMMdd").alias("dt"))
            .agg(F.sum(dec("o_totalprice")).alias("order_amount"))
        )
        if snaps:
            prev = batch_df.sparkSession.read.parquet(snaps[max(snaps)])
            merged = (
                part.unionByName(prev)
                .groupBy("dt")
                .agg(F.sum("order_amount").cast("decimal(28,4)").alias("order_amount"))
            )
        else:
            merged = part.select("dt", F.col("order_amount").cast("decimal(28,4)").alias("order_amount"))
        tmp_dir = f"{acc_root}/_tmp_{batch_id}"
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)  # half-written attempt from a crash
        merged.write.mode("overwrite").parquet(tmp_dir)
        os.rename(tmp_dir, f"{acc_root}/acc_upto_{batch_id}")  # commit point
        batches.append(batch_id)

    (
        src.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{acc_root}/_chk")
        .start()
        .awaitTermination()
    )
    assert len(batches) >= 2, f"expected a multi-batch replay, got {batches}"
    final = _snapshots()
    return spark.read.parquet(final[max(final)])


def stream_rate_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour admission stats from the streaming rate limiter —
    CANONICALLY the ledger form (stream_rate_limit_ledger: foreachBatch
    + all-JVM per-batch row_number/ledger join, no per-key Python
    state). The applyInPandasWithState form (pipelines.
    stream_rate_limit_keyed) demonstrates the ST6 keyed-state+TTL
    semantics and is pinned to this same answer in
    tests/test_streaming_patterns.py, but it pays per-KEY Python
    invocation on near-singleton (user, hour) groups (~16k keys/s,
    ~250 s at the 10x replay vs ~3 s for the ledger) — a deploy shape
    at scale it is not, so it is demo/test-only, not registered.
    Output (and oracle) identical to batch rate_limited_events."""
    from ..operators.quality import admission_rollup

    df = run_stream_to_df(spark, sf_dir, stream_rate_limit_ledger)
    return admission_rollup(df)


def stream_dedup_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the ledger-form exact-dedup gate: exactly one
    admitted doc per fingerprint — the min doc_id — so the replayed
    decisions fold to dedup_exact's (fingerprint, keeper, dup_ct) table
    and its oracle applies verbatim."""
    df = run_stream_to_df(spark, sf_dir, stream_dedup_gate)
    return df.groupBy("fingerprint").agg(
        F.min(F.when(F.col("admitted"), F.col("doc_id"))).alias("keeper_doc_id"),
        F.count("*").alias("dup_ct"),
    )


def stream_cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the streaming CMS: sum the per-batch partial
    counters into the live sketch and run the SAME evaluation probe as
    the batch op — counting is additive over any partition of the
    corpus, so the report (and oracle) is cms_heavy_hitters' verbatim."""
    from ..operators.sketches import cms_eval_probes

    partials = run_stream_to_df(spark, sf_dir, stream_cms_sketch)
    sketch = partials.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt"))
    return cms_eval_probes(spark, sf_dir, sketch)


def stream_psi_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the streaming drift monitor: the summed
    current-window bucket ledger joins the (frozen) reference histogram
    through the SAME detail math as the batch op — additivity makes the
    replayed report equal psi_drift byte-for-byte, oracle verbatim."""
    from ..io import load_table
    from ..operators.quality import (
        PSI_SPLIT_DATE, _psi_bucket_counts, _psi_cuts, _psi_detail,
    )
    from .pipelines import stream_psi_fold

    partials = run_stream_to_df(spark, sf_dir, stream_psi_fold)
    cur = partials.groupBy("bucket").agg(F.sum("ct").alias("cur_ct"))
    ref_rows = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < PSI_SPLIT_DATE
    )
    ref = _psi_bucket_counts(ref_rows, _psi_cuts(ref_rows)).select(
        "bucket", F.col("ct").alias("ref_ct")
    )
    return _psi_detail(ref, cur)


def stream_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized transition matrix from the streaming pair
    extraction — identical output (and oracle) to the batch
    event_transition_matrix."""
    df = run_stream_to_df(spark, sf_dir, stream_transition_matrix)
    trans = df.groupBy("prev_type", "cur_type").agg(F.count("*").alias("ct"))
    row_tot = trans.groupBy("prev_type").agg(F.sum("ct").alias("row_tot"))
    prob = F.round(F.col("ct").cast("double") / F.col("row_tot").cast("double"), 6)
    return (
        trans.join(F.broadcast(row_tot), "prev_type")
        .select("prev_type", "cur_type", "ct", prob.alias("p"))
        .orderBy("prev_type", "cur_type")
    )


def stream_incremental_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup — the stream-static LSH screen: a
    stream of incoming documents (odd doc_ids) is banded PER ROW
    (stateless fold signature — no streaming aggregation needed, unlike
    the batch side's exploded min() which is faster for bounded scans
    but illegal mid-stream), joined against the STATIC reference band
    table (even doc_ids — at warehouse scale the persisted index of the
    already-ingested corpus), candidates deduped, and confirmed with
    exact Jaccard against the static shingle sets. Emits the matched
    (batch_id, ref_id, jaccard) pairs; candidate uniqueness comes from
    the first-agreeing-band join filter, so the whole query is
    STATELESS — no state store, no TTL to manage, legal at any
    micro-batch boundary. Oracle: the same xkeep fragment the batch
    incremental_neardup verifies against."""
    from ..operators.dedup import (
        BAND_ROWS, JACCARD_THRESHOLD, MERSENNE_P, N_BANDS, N_PERM,
        PERM_A, PERM_B, _minhash_banded, _shingles,
    )

    from ..io import load_table_spread

    batch_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # static side memoized per (application, corpus) — at warehouse
    # scale the band table and shingle sets of the already-ingested
    # corpus ARE persisted index tables maintained next to it, not
    # something each micro-batch rebuilds; within a session every
    # invocation shares one localCheckpoint (the batch dedup family's
    # shingle-set pattern — this was the 10.7 s fixed overhead): the
    # band table, shingle sets and per-ref band-key arrays

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        # spread: the static-side shingling/MinHash runs eagerly inside
        # the localCheckpoints — a single-file read would do all of it
        # on one core (review finding)
        ref_docs = load_table_spread(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 2 == 0
        )
        bands_ck = (
            _minhash_banded(ref_docs)
            .select(F.col("doc_id").alias("ref_id"), "band_id", "band_key")
            .localCheckpoint()
        )
        # per-ref ordered band-key array: the side table the
        # first-agreeing-band filter reads (tiny — one row per ref doc)
        keys_ck = (
            bands_ck.groupBy("ref_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("band_id", "band_key"))),
                    lambda e: e.band_key,
                ).alias("r_keys")
            )
            .localCheckpoint()
        )
        return (
            bands_ck,
            ref_docs.select(
                F.col("doc_id").alias("ref_id"), _shingles(F.col("text")).alias("sh_r")
            ).localCheckpoint(),
            keys_ck,
        )

    ref_bands, ref_sets, ref_keys = session_memo(spark, "stream_lsh_static", sf_dir, build)

    stream = (
        _table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        # the file source hands each trigger's files over
        # partition-per-file, serializing the 64-perm signature
        # projection; one narrow shuffle of the raw doc rows per
        # micro-batch parallelizes it (measured: warm 4.7s -> ~1.7s)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # Two-step projection so _shingles evaluates ONCE per row: putting
    # sh_b and the hash transform in one select evaluates the (split +
    # 3-gram + distinct) subtree twice — HOF subtrees get no
    # subexpression elimination — and CollapseProject will not merge
    # the steps back because sh_b is referenced more than once in the
    # outer projection (measured: 6.2s -> 3.8s for the signature stage).
    shingled = stream.select(
        F.col("doc_id").alias("batch_id"),
        _shingles(F.col("text")).alias("sh_b"),
    ).select(
        "batch_id",
        "sh_b",
        F.transform(
            "sh_b",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
            % MERSENNE_P,
        ).alias("hs"),
    )
    mins = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: (F.lit(PERM_A[p]) * h + F.lit(PERM_B[p])) % MERSENNE_P)
        ).alias(f"m{p}")
        for p in range(N_PERM)
    ]
    sig = shingled.select("batch_id", "sh_b", *mins)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(":", *[F.col(f"m{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]).alias("band_key"),
        )
        for b in range(N_BANDS)
    ]
    s_keys = F.array(*[
        F.concat_ws(":", *[F.col(f"m{b * BAND_ROWS + r}") for r in range(BAND_ROWS)])
        for b in range(N_BANDS)
    ])
    banded = sig.select(
        "batch_id", "sh_b", s_keys.alias("s_keys"),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select("batch_id", "sh_b", "s_keys", "band.band_id", "band.band_key")
    # Emit each candidate pair from its FIRST agreeing band only (the
    # simhash join-side filter, commit-945f8c6 pattern): a pair whose
    # bands also agree at some b' < band_id is dropped here, so every
    # (batch, ref) pair surfaces exactly once WITHOUT the stateful
    # dropDuplicates — the query becomes fully stateless (no state
    # store, no watermark TTL to manage), which is both faster and
    # mid-stream-legal at any micro-batch boundary.
    earlier_agree = F.exists(
        F.zip_with(
            F.slice("s_keys", F.lit(1), F.col("band_id")),
            F.slice("r_keys", F.lit(1), F.col("band_id")),
            lambda x, y: x == y,
        ),
        lambda v: v,
    )
    cand = (
        banded.join(ref_bands, ["band_id", "band_key"])
        .join(F.broadcast(ref_keys), "ref_id")
        .filter(~earlier_agree)
        .select("batch_id", "ref_id", "sh_b")
    )
    inter = F.size(F.array_intersect("sh_b", "sh_r"))
    union = F.size(F.array_union("sh_b", "sh_r"))
    jac = (inter.cast("decimal(18,6)") / union).cast("decimal(9,6)")
    good = (
        cand.join(ref_sets, "ref_id")
        .select("batch_id", "ref_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    name = f"sin_{uuid.uuid4().hex[:10]}"
    (
        good.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", _scratch("chk_sin_"))
        .start()
        .awaitTermination()
    )
    return spark.table(name)


def stream_ngram_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream benchmark decontamination — the screen an ingestion
    pipeline runs as documents arrive: each incoming doc's 8-token
    windows join the held-out benchmark gram set (distinct,
    checkpointed once per session — at warehouse scale the persisted
    index maintained next to the benchmark suite) and the doc is
    decided on its collision fraction. STATELESS by construction: a
    file source never splits a row, so every doc's windows are
    contained in one micro-batch and the screen needs no cross-batch
    state at all — foreachBatch scores each arriving micro-batch as a
    plain DataFrame (explode -> broadcast-hash lookup -> in-batch
    per-doc aggregate, map-side partial) and APPENDS the decided rows
    to the sink. No state store, no complete-mode re-emission: the
    sink grows by exactly the new docs per trigger, and driver memory
    holds nothing — the shape that survives an unbounded corpus. A
    bounded replay must equal batch ngram_decontaminate exactly — its
    oracle is reused verbatim, so the streaming and batch screens can
    never drift."""
    from ..operators.dedup import CONTAM_DROP_FRAC, SPAN_TOKENS, _token_windows

    def build() -> DataFrame:
        from ..io import load_table_spread

        bench_docs = load_table_spread(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 17 == 0
        )
        return (
            bench_docs.select(
                F.explode(_token_windows(F.col("text"), SPAN_TOKENS)).alias("gram")
            )
            .distinct()
            .withColumn("hit", F.lit(1))
            .localCheckpoint()
        )

    bench = session_memo(spark, "stream_decon_grams", sf_dir, build)

    stream = _table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 17 != 0
    )
    frac = F.round(
        F.col("hit_ct").cast("decimal(18,6)") / F.col("gram_ct"), 4
    ).cast("decimal(9,4)")
    out_dir = _scratch("out_dcq_")

    # the file source hands each trigger's files over partition-per-file;
    # spread the raw docs across the executors BEFORE the window explode
    # (a narrow shuffle of doc rows — negligible next to the ~100x wider
    # exploded gram stream it parallelizes)
    n_part = spark.sparkContext.defaultParallelism

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent sink: each micro-batch owns its batch_id partition
        # (overwrite), so an at-least-once retry replaces its own prior
        # write instead of appending duplicate decision rows
        (
            batch_df.repartition(n_part, "doc_id")
            .select(
                "doc_id",
                F.explode(_token_windows(F.col("text"), SPAN_TOKENS)).alias("gram"),
            )
            .join(F.broadcast(bench), "gram", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("gram_ct"), F.count("hit").alias("hit_ct"))
            .select("doc_id", "gram_ct", "hit_ct", frac.alias("contam_frac"))
            .withColumn(
                "decision",
                F.when(
                    F.col("contam_frac")
                    >= F.lit(CONTAM_DROP_FRAC).cast("decimal(9,4)"),
                    "drop",
                )
                .when(F.col("hit_ct") > 0, "review")
                .otherwise("keep"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    (
        stream.writeStream.foreachBatch(_score)
        .trigger(availableNow=True)
        .option("checkpointLocation", _scratch("chk_dcq_"))
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).drop("batch_id")


def _doc_index_ingest(
    spark: SparkSession, sf_dir: str, stage: str, store: str, n_files: int = 4
) -> None:
    """The stage-then-stream ingest loop of stream_index_build: stage
    documents as n_files parquet files, replay them as a
    maxFilesPerTrigger=2 stream (n_files/2 micro-batches), each batch
    writing its own docs' shingle-set and LSH-band rows under
    idempotent batch_id partitions. Factored out so the 100x ingest
    probe (tools/scale_probe_stream_ingest.py) times the IDENTICAL
    loop the gate query runs, at a higher batch count."""
    from ..operators.dedup import _minhash_banded_from_sets, _shingles

    _ensure_staged(spark, sf_dir, stage, "documents", n_files)

    schema = spark.read.parquet(f"{stage}/documents").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{stage}/documents")
    )
    n_part = spark.sparkContext.defaultParallelism

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        # narrow repartition before the heavy shingling (file source
        # hands one partition per file); localCheckpoint so the sets
        # evaluate once for both artifact writes
        sets = (
            batch_df.repartition(n_part, "doc_id")
            .select("doc_id", _shingles(F.col("text")).alias("s"))
            .localCheckpoint()
        )
        sets.write.mode("overwrite").parquet(
            f"{store}/shingle_sets/batch_id={batch_id}"
        )
        (
            _minhash_banded_from_sets(sets)
            .write.mode("overwrite")
            .parquet(f"{store}/minhash_bands/batch_id={batch_id}")
        )

    (
        src.writeStream.foreachBatch(_ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{store}/_chk")
        .start()
        .awaitTermination()
    )


def stream_index_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INDEX INGESTION — the index_store maintained by a
    document stream instead of a batch job: documents replay as a
    multi-file stream (4 staged files at maxFilesPerTrigger=2 → two
    micro-batches: still a real multi-batch ingest exercising the
    idempotent per-batch partitions, at half the ~1-1.5 s/batch
    micro-batch floor the r8 bench measured — VERDICT r8 #7),
    and each micro-batch writes ITS OWN docs' shingle-set and
    LSH-band artifact rows under idempotent batch_id partitions
    (overwrite — an at-least-once retry replaces its own prior write).
    STATELESS by construction: both artifacts are per-document, so no
    cross-batch state exists at all, in any arrival order — the
    property that makes index maintenance the easy half of streaming
    ingest (the admission DECISIONS are the ledger problem;
    stream_dedup_gate handles those).

    The proof obligation: the stream-built store must carry the same
    information as the batch build, so this query runs the banded LSH
    near-dup pair generation (shared helper _lsh_pairs_from_tables)
    over the STREAM-WRITTEN tables and must hash-match
    minhash_lsh_pairs' oracle verbatim."""
    from ..operators.dedup import _lsh_pairs_from_tables

    stage = _staged_ingest_src(spark, sf_dir, "documents", 4)
    store = _scratch("six_store_")
    _doc_index_ingest(spark, sf_dir, stage, store)
    sets = spark.read.parquet(f"{store}/shingle_sets").select("doc_id", "s")
    bands = spark.read.parquet(f"{store}/minhash_bands").select(
        "doc_id", "band_id", "band_key"
    )
    return _lsh_pairs_from_tables(bands, sets)


def stream_wide_sig_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INGESTION FOR THE WIDE VECTOR LAYOUT — the vecs twin
    of stream_index_build (r9: the srp_sigs_wide artifact maintained by
    a vector stream instead of a batch build): embeddings replay as a
    multi-file stream, and each micro-batch writes ITS OWN vectors'
    srp_tables_for(width) signature rows under idempotent batch_id
    partitions. STATELESS by construction — a signature is a pure
    per-row projection, so no cross-batch state exists in any arrival
    order.

    The signature WIDTH is frozen BEFORE the stream starts (from the
    staged corpus count — exactly the manifest's frozen-parameter
    contract: production fixes the layout at index creation and every
    ingest batch applies it; re-deriving width per batch would shard
    the table across incompatible layouts).

    Proof obligation: the governed wide near-dup pair relation over the
    STREAM-WRITTEN signature table must hash-match
    embedding_neardup_multiprobe_wide's oracle verbatim — the
    stream-built store carries the same information as the batch
    build."""
    from ..operators.similarity import (
        NEARDUP_COSINE, SRP_WIDE_RADIUS, _multiprobe_pairs_from,
        _srp_probe_masks,
    )

    stage = _staged_ingest_src(spark, sf_dir, "embeddings", 4, proj="vec_id_v")
    store = _scratch("swide_store_")
    bits = _wide_sig_ingest(spark, sf_dir, stage, store)
    sigs = spark.read.parquet(f"{store}/srp_sigs_wide").select(
        "vec_id", "v", "table_id", "sig"
    )
    return _multiprobe_pairs_from(
        sigs, _srp_probe_masks(bits, SRP_WIDE_RADIUS), NEARDUP_COSINE
    )


def _wide_sig_ingest(
    spark: SparkSession, sf_dir: str, stage: str, store: str, n_files: int = 4
) -> int:
    """The stage-then-stream ingest loop of stream_wide_sig_ingest
    (width frozen BEFORE the stream starts per the manifest contract;
    stateless per-batch signature projection; idempotent batch_id
    partitions). Factored out so the 100x ingest probe times the
    IDENTICAL loop at a higher batch count. Returns the frozen bits."""
    from ..io import load_table
    from ..operators.similarity import (
        _emb_count, _srp_signature, srp_bits_for, srp_tables_for,
    )

    _ensure_staged(
        spark, sf_dir, stage, "embeddings", n_files,
        df=load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
    )
    # frozen at ingest start (session-memoized count of the same corpus)
    bits = srp_bits_for(_emb_count(spark, sf_dir))
    tables = srp_tables_for(bits)

    schema = spark.read.parquet(f"{stage}/embeddings").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{stage}/embeddings")
    )
    n_part = spark.sparkContext.defaultParallelism

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        sigs = batch_df.repartition(n_part, "vec_id").select(
            "vec_id", "v",
            F.explode(F.array(*[
                F.struct(
                    F.lit(t).alias("table_id"),
                    _srp_signature(F.col("v"), t, bits).alias("sig"),
                )
                for t in range(tables)
            ])).alias("b"),
        ).select("vec_id", "v", "b.table_id", "b.sig")
        sigs.write.mode("overwrite").parquet(
            f"{store}/srp_sigs_wide/batch_id={batch_id}"
        )

    (
        src.writeStream.foreachBatch(_ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{store}/_chk")
        .start()
        .awaitTermination()
    )
    return bits


def stream_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream model-based quality gating — the filter a crawl
    ingestion pipeline runs BEFORE anything lands: the linear quality
    classifier's features and logit are pure row expressions (one
    codegen projection, legal mid-stream with no state), so each
    micro-batch is scored and routed as it arrives. Running per-decision
    admission counts aggregate in complete mode; a bounded replay must
    equal the batch classifier's decision histogram exactly (the oracle
    aggregates the SAME classifier SQL the batch twin verifies
    against)."""
    from ..operators.text import QC_KEEP, QC_REVIEW, _quality_features

    stream = _table_stream(spark, sf_dir, "documents")
    feats = _quality_features()
    stop_r, alpha_r, mtl, n_toks = (
        feats["stop_r"], feats["alpha_r"], feats["mtl"], feats["token_ct"],
    )
    len_norm = F.round(
        F.least(n_toks, F.lit(256)).cast("decimal(18,6)") / F.lit(256), 4
    ).cast("decimal(9,4)")

    def w(x):
        return F.lit(str(x)).cast("decimal(4,2)")

    from ..operators.text import QC_BIAS, QC_W_ALPHA, QC_W_LEN, QC_W_MTL, QC_W_STOP

    logit = (
        w(QC_BIAS)
        + w(QC_W_STOP) * stop_r
        + w(QC_W_ALPHA) * alpha_r
        + w(QC_W_LEN) * len_norm
        + w(QC_W_MTL) * mtl
    ).cast("decimal(12,6)")
    decided = stream.select(
        F.when(logit >= w(QC_KEEP), "keep")
        .when(logit >= w(QC_REVIEW), "review")
        .otherwise("drop")
        .alias("decision")
    )
    counts = decided.groupBy("decision").agg(F.count("*").alias("n"))
    name = f"sqg_{uuid.uuid4().hex[:10]}"
    # state = the 3 decision keys, known a priori — no stats job needed
    with _stateful_replay_parts(spark, 3):
        (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", _scratch("chk_sqg_"))
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def stream_hypertable_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate — the hypertable architecture end
    to end: ONLY the finest grain (hour) is maintained by the stream
    (watermarked 1-hour windowed agg, complete mode), and the coarser
    day/month grains derive batch-side from the streamed hour table —
    exactly how the batch cascade derives them from its checkpoint, and
    exactly the split a 100 TB deployment makes (the stream maintains
    the materialized view; rollups re-aggregate view rows, never raw).
    Decimal sums make stream-merge order irrelevant, so the result
    equals batch hypertable_rollup to the bit — that query's
    direct-aggregation SQL is the oracle. GATE-REPLAY form: the
    complete-mode hour table grows with calendar time — the deploy
    shape is the append-mode checkpointed hour sink
    streaming/pipelines.stream_hypertable_hour_sink (gate-checked as
    stream_hypertable_hour_append)."""
    ev = _events_stream(spark, sf_dir)
    hour_stream = (
        ev.withWatermark("ts", "3 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "n_events", "sum_value")
    )
    name = f"htr_{uuid.uuid4().hex[:10]}"
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, span_us // 3_600_000_000 + 1)  # non-empty hour windows
    with _stateful_replay_parts(spark, est):
        (
            hour_stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", _scratch("chk_htr_"))
            .start()
            .awaitTermination()
        )
    hour = spark.table(name)  # driver-materialized: LocalTableScan per consumer
    day = hour.groupBy(F.date_trunc("day", "bucket_start").alias("bucket_start")).agg(
        F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")
    )
    month = day.groupBy(F.date_trunc("month", "bucket_start").alias("bucket_start")).agg(
        F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value")
    )

    def tag(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_start",
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )

    return tag(hour, "hour").unionByName(tag(day, "day")).unionByName(tag(month, "month"))


def stream_window_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the stateful streaming window funnel: per-user
    levels flushed by sentinels/timeout, rolled up to the level
    histogram — must equal batch window_funnel exactly (its oracle is
    reused verbatim; the dp accumulator in keyed state IS the batch
    fold's accumulator)."""
    from .pipelines import stream_window_funnel

    levels = run_stream_to_df(spark, sf_dir, stream_window_funnel)
    return levels.groupBy("level").agg(F.count("*").alias("user_ct"))


def stream_gmv_cusum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM alert screen — the monitoring chart an order
    stream drives: each arriving micro-batch appends its per-day
    decimal GMV partials to a checkpointed daily ledger (the
    continuous-aggregate shape — the stream maintains ONLY the
    day-grain partial sums, bounded by the calendar, never raw
    orders), and the alert pass re-aggregates the tiny ledger and
    folds the batch twin's EXACT decimal CUSUM arithmetic over it
    (_cusum_over_daily, shared code). Decimal partials sum
    associatively, so any batch split of the orders yields the
    identical series — a bounded replay equals batch gmv_cusum
    bit-for-bit, and its oracle is reused verbatim."""
    from ..pipelines.analytics import (
        GMV_WIN_END, GMV_WIN_START, _cusum_over_daily,
    )
    from ..functions import dec as _dec

    stream = _table_stream(spark, sf_dir, "orders")
    ledger = _scratch("led_gcs_")

    def _partials(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent ledger: overwrite this batch's own batch_id
        # partition so an at-least-once retry cannot append duplicate
        # partials (which would inflate the GMV series and the verdicts)
        (
            batch_df.filter(
                (F.col("o_orderdate") >= GMV_WIN_START)
                & (F.col("o_orderdate") < GMV_WIN_END)
            )
            .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"))
            .agg(F.sum(_dec("o_totalprice")).alias("partial"))
            .write.mode("overwrite")
            .parquet(f"{ledger}/batch_id={batch_id}")
        )

    (
        stream.writeStream.foreachBatch(_partials)
        .trigger(availableNow=True)
        .option("checkpointLocation", _scratch("chk_gcs_"))
        .start()
        .awaitTermination()
    )
    daily = (
        spark.read.parquet(ledger)
        .groupBy("dt")
        .agg(F.sum("partial").cast("decimal(28,4)").alias("gmv_d"))
    )
    return _cusum_over_daily(daily)


def stream_hypertable_hour_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the hypertable hour grain as a gate
    query: a bounded replay of the checkpointed APPEND-mode watermarked
    hour aggregate (stream_hypertable_hour_sink — rows land exactly
    once when the watermark passes their window end, end-of-input
    windows closed by the sentinel staging). The appended parquet rows
    must hash-match the batch hour grain exactly — same aggregation SQL
    as the batch hypertable oracle, restricted to 'hour'."""
    from .pipelines import stream_hypertable_hour_sink

    out = _scratch("hta_")
    stream_hypertable_hour_sink(spark, sf_dir, out)
    return spark.read.parquet(f"{out}/data").select(
        "bucket_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
    )


def stream_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN SERVING — the online half of the IVF index story:
    query vectors arrive on a stream and probe the STATIC corpus index
    (the same session-memoized trained quantizer + cell-assigned corpus
    every batch IVF variant shares — at warehouse scale, the persisted
    partitionBy(cell) layout). STATELESS by construction: each query's
    top-k depends only on its own row + the static index, so
    foreachBatch serves each arriving micro-batch with the batch
    engine's exact probe plan (centroid scoring as literal expressions,
    broadcast of the probed queries into the cell-pruned join, per-query
    top-k window over ~one cell of candidates) and APPENDS answers to
    the sink. No state store; the sink grows by exactly the answered
    queries. A bounded replay over the full query set must equal batch
    ann_ivf_topk exactly — its oracle is reused verbatim."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        N_QUERIES, TOP_K, _cached_cells, _dot, _ivf_cached_centroids,
        _ivf_corpus_queries, _probe_cells,
    )

    corpus, _ = _ivf_corpus_queries(spark, sf_dir)
    cent = _ivf_cached_centroids(spark, sf_dir, corpus)
    cells = _cached_cells(spark, sf_dir, corpus, cent)

    stream = _table_stream(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < N_QUERIES
    )
    out_dir = _scratch("out_annq_")

    def _serve(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent sink: overwrite this batch's own batch_id partition
        # so an at-least-once retry cannot append duplicate answers
        queries = batch_df.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("q_emb"),
        )
        probed = _probe_cells(queries, cent, 1).select(
            "query_id", "q_emb", "q_norm", F.col("cell").alias("probe_cell")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("corpus_id")
        )
        (
            cells.join(F.broadcast(probed), cells.cell == probed.probe_cell, "inner")
            .select(
                "query_id", "probe_cell", "corpus_id",
                F.round(
                    _dot(F.col("q_emb"), F.col("c_emb"))
                    / (F.col("q_norm") * F.col("c_norm")),
                    6,
                ).alias("cosine"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "probe_cell", "rank", "corpus_id", "cosine")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    (
        stream.writeStream.foreachBatch(_serve)
        .trigger(availableNow=True)
        .option("checkpointLocation", _scratch("chk_annq_"))
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).drop("batch_id")


def stream_semantic_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream SEMANTIC benchmark decontamination — the embedding
    twin of stream_ngram_decontaminate: corpus vectors are screened
    against the held-out benchmark set (vec_id % 17 == 0) as they
    arrive. The benchmark SRP signature table is static (checkpointed
    once per session, broadcast into every micro-batch — MBs at any
    scale), and a vector's verdict depends only on its own embedding
    plus that static side, so the screen is STATELESS: foreachBatch
    computes each arriving vector's width-adaptive SRP signatures as
    pure JVM expressions, probes the broadcast benchmark buckets,
    confirms at cosine >= review, and APPENDS flagged rows. Signature
    width derives from the STATIC corpus count at construction — the
    same number the batch twin and its oracle derive — so a bounded
    replay must equal batch semantic_decontaminate exactly (oracle
    reused verbatim)."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        SEM_DECON_DROP, SEM_DECON_REVIEW, SRP_TABLES, _dot, _norm,
        _srp_signature, _srp_signature_table, srp_bits_for,
    )

    def build() -> tuple[DataFrame, int]:
        from ..io import load_table_spread

        n = load_table_spread(spark, sf_dir, "embeddings").count()
        bench = (
            _srp_signature_table(spark, sf_dir)
            .filter(F.col("vec_id") % 17 == 0)
            .localCheckpoint()
        )
        return bench, srp_bits_for(n)

    bench, bits = session_memo(spark, "stream_semdecon_bench", sf_dir, build)

    stream = _table_stream(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 17 != 0
    )
    out_dir = _scratch("out_semdcq_")

    def _screen(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent sink: overwrite this batch's own batch_id partition
        # so an at-least-once retry cannot append duplicate verdicts
        vecs = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        sigs = vecs.select(
            "vec_id", "v",
            F.explode(F.array(*[
                F.struct(
                    F.lit(t).alias("table_id"),
                    _srp_signature(F.col("v"), t, bits).alias("sig"),
                )
                for t in range(SRP_TABLES)
            ])).alias("b"),
        ).select("vec_id", "v", "b.table_id", "b.sig")
        cosine = F.round(
            _dot(F.col("c.v"), F.col("b.v"))
            / (_norm(F.col("c.v")) * _norm(F.col("b.v"))),
            6,
        )
        cand = (
            sigs.alias("c")
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
        (
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
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    (
        stream.writeStream.foreachBatch(_screen)
        .trigger(availableNow=True)
        .option("checkpointLocation", _scratch("chk_semdcq_"))
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).drop("batch_id")


QUERIES = {
    "stream_visitor_stats": stream_visitor_stats_q,
    "stream_hypertable_rollup": stream_hypertable_rollup_q,
    "stream_hypertable_hour_append": stream_hypertable_hour_append_q,
    "stream_gmv_cusum": stream_gmv_cusum_q,
    "stream_window_funnel": stream_window_funnel_q,
    "stream_incremental_neardup": stream_incremental_neardup_q,
    "stream_quality_gate": stream_quality_gate_q,
    "stream_index_build": stream_index_build_q,
    "stream_wide_sig_ingest": stream_wide_sig_ingest_q,
    "stream_ngram_decontaminate": stream_ngram_decontaminate_q,
    "stream_rate_limit": stream_rate_limit_q,
    "stream_dedup_gate": stream_dedup_gate_q,
    "stream_cms_heavy_hitters": stream_cms_heavy_hitters_q,
    "stream_psi_drift": stream_psi_drift_q,
    "stream_transition_matrix": stream_transition_matrix_q,
    "stream_gmv_incremental": stream_gmv_incremental_q,
    "stream_uv_dedup": stream_uv_dedup_q,
    "stream_jump_detect": stream_jump_detect_q,
    "stream_dim_enrich": stream_dim_enrich_q,
    "stream_keyword_stats": stream_keyword_stats_q,
    "stream_user_sessions": stream_user_sessions_q,
    "stream_payment_pairs": stream_payment_pairs_q,
    "stream_ann_topk": stream_ann_topk_q,
    "stream_semantic_decontaminate": stream_semantic_decontaminate_q,
}

from ..operators.dedup import (
    _DUCK_MINHASH_PAIRS as _DMP,
    _DUCK_SHINGLES as _DSH,
    _DUCK_XKEEP as _DXK,
)
from ..operators.quality import ORACLES as _QUALITY_ORACLES
from ..operators.text import ORACLES as _TEXT_ORACLES

from ..pipelines.analytics import ORACLES as _ANALYTICS_ORACLES

from ..operators.dedup import ORACLES as _DEDUP_ORACLES
from ..operators.timeseries import ORACLES as _TS_ORACLES

from ..operators.similarity import ORACLES as _SIM_ORACLES
from ..operators.sketches import ORACLES as _SKETCH_ORACLES

ORACLES = {
    # online ANN serving must answer EXACTLY like the batch IVF probe
    "stream_ann_topk": _SIM_ORACLES["ann_ivf_topk"],
    # the in-stream semantic screen must equal the batch screen
    "stream_semantic_decontaminate": _SIM_ORACLES["semantic_decontaminate"],
    # the streamed hour grain + derived cascade must equal the batch
    # hypertable direct-aggregation answer bit-for-bit
    "stream_hypertable_rollup": _TS_ORACLES["hypertable_rollup"],
    # the append-mode production twin: sentinel-closed hour windows
    # must equal the batch hour grain (the deploy shape, hash-gated)
    "stream_hypertable_hour_append": """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_value
    FROM events GROUP BY 1
    """,
    # the streaming decontamination screen must equal the batch screen
    "stream_ngram_decontaminate": _DEDUP_ORACLES["ngram_decontaminate"],
    # the streaming screen must emit EXACTLY the batch xkeep pair set
    "stream_incremental_neardup": _DSH + _DMP + _DXK + """
    SELECT batch_id, ref_id, jaccard FROM xkeep
    """,
    # in-stream quality gate: decision histogram of the SAME classifier
    # the batch twin hash-verifies
    "stream_quality_gate": f"""
    SELECT decision, CAST(COUNT(*) AS BIGINT) AS n
    FROM ({_TEXT_ORACLES["quality_classifier"]}) GROUP BY decision
    """,
    # the stream-built index store must answer the batch dedup query
    # exactly — minhash_lsh_pairs' oracle verbatim
    "stream_index_build": _DEDUP_ORACLES["minhash_lsh_pairs"],
    "stream_wide_sig_ingest": _SIM_ORACLES["embedding_neardup_multiprobe_wide"],
    # the streaming limiter must aggregate to EXACTLY the batch answer
    "stream_rate_limit": _QUALITY_ORACLES["rate_limited_events"],
    "stream_dedup_gate": _DEDUP_ORACLES["dedup_exact"],
    # the summed counter ledger IS the batch sketch (additivity), so
    # the evaluation report reuses the batch oracle verbatim
    "stream_cms_heavy_hitters": _SKETCH_ORACLES["cms_heavy_hitters"],
    # the summed current-window bucket ledger equals the batch
    # histogram (additivity) — drift report oracle verbatim
    "stream_psi_drift": _QUALITY_ORACLES["psi_drift"],
    "stream_transition_matrix": _ANALYTICS_ORACLES["event_transition_matrix"],
    # the streaming CUSUM alert folds the batch twin's exact decimal
    # arithmetic over the ledger-reaggregated series — oracle verbatim
    "stream_gmv_cusum": _ANALYTICS_ORACLES["gmv_cusum"],
    # the keyed-state dp IS the batch fold's accumulator — oracle verbatim
    "stream_window_funnel": _ANALYTICS_ORACLES["window_funnel"],
    "stream_gmv_incremental": """
        SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS order_amount
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        GROUP BY 1
    """,
    "stream_visitor_stats": """
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS stt,
               time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS edt,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS pv_ct,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS value_sum
        FROM events GROUP BY 1, 2, 3
    """,
    "stream_uv_dedup": """
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt FROM events
    """,
    "stream_dim_enrich": """
        SELECT time_bucket(INTERVAL '10 minutes', e.ts) AS stt,
               time_bucket(INTERVAL '10 minutes', e.ts) + INTERVAL '10 minutes' AS edt,
               c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS pv_ct,
               CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS value_sum
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2, 3
    """,
    # stream_jump_detect: the sentinel flush makes the bounded replay
    # equal batch user_jump, so its oracle is the batch oracle verbatim
    # (pipelines/dwm.py ORACLES["user_jump"]).
    "stream_jump_detect": """
        WITH j AS (
            SELECT user_id, event_id, ts, CAST(ts AS DATE) AS dt,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
            FROM events
        )
        SELECT dt,
               CAST(SUM(CASE WHEN next_ts IS NULL
                             OR epoch_us(next_ts) - epoch_us(ts) > 600 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS uj_ct,
               CAST(COUNT(*) AS BIGINT) AS ev_ct
        FROM j GROUP BY dt
    """,
    # stream_payment_pairs: inner time-bounded stream-stream joins emit
    # on arrival, so the bounded replay is complete and the batch
    # interval-join SQL applies verbatim.
    "stream_payment_pairs": """
        WITH pay AS (
            SELECT event_id AS pay_id, user_id AS pay_user, ts AS pay_ts
            FROM events WHERE event_type = 'purchase'
        ), act AS (
            SELECT event_id AS act_id, user_id AS act_user, ts AS act_ts
            FROM events WHERE event_type IN ('view','click')
        )
        SELECT pay_id, pay_user AS user_id, act_id, pay_ts, act_ts
        FROM pay JOIN act
          ON pay_user = act_user
         AND act_ts <= pay_ts
         AND epoch_us(act_ts) > epoch_us(pay_ts) - 1800 * 1000000
    """,
    # stream_user_sessions: the sentinel flush finalizes every real
    # session, so the oracle is the batch sessionization CTE aggregated
    # without the per-user ordinal (append output has no stable order).
    "stream_user_sessions": """
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ), seq AS (
            SELECT user_id, event_id, ts,
                   SUM(CASE WHEN prev_ts IS NULL
                            OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM marked
        )
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS ev_ct,
               CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us
        FROM seq GROUP BY user_id, session_seq
    """,
    "stream_keyword_stats": """
        SELECT keyword, source, CAST(COUNT(*) AS BIGINT) AS ct
        FROM (
            SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS keyword
            FROM documents
        )
        WHERE length(keyword) >= 2
        GROUP BY keyword, source
    """,
}
