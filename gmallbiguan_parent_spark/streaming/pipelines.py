"""Structured Streaming pipelines (SURVEY.md §2.8).

Reference parity (paths under /root/reference):
- ST1 bounded out-of-orderness watermark: RT/app/dwm2/OrderWideApp2.java:144-167
- ST5 tumbling event-time windows:        RT/app/dws2/VisitorStatsApp.java:213
- ST6 keyed state + TTL (UV dedup):       RT/app/dwm2/UV2.java:61-112
- ST4 CEP jump timeout:                   RT/app/dwm2/UJump2.java:88-137
- ST7 checkpointing:                      RT/app/dwd2/BaseLogApp2.java:49-53

Streams replay the events parquet as a file source (the Kafka topic
equivalent — swap `readStream.parquet` for `readStream.format("kafka")`
+ from_json in production; the downstream plan is identical). Every
query runs with Trigger.availableNow against a checkpoint dir, so runs
are resumable and sinks idempotent — the Structured Streaming analogue
of the reference's 5 s checkpoint + transactional producer.

The batch twins in pipelines/ are the semantics oracle: a bounded
replay through the streaming plan must produce exactly the batch
answer (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import dec
from ..io import load_table, read_parquet
from ..memo import session_memo

WINDOW = "10 minutes"
WATERMARK = "3 seconds"     # ST1: bounded out-of-orderness, 3 s
# Same timeout as pipelines.dwm.JUMP_TIMEOUT_S; duplicated literal
# because this module is unpickled on Python workers, where importing
# the pipelines package would recurse back into streaming (circular).
JUMP_TIMEOUT_S = 600
# Twin of pipelines.dwm.SESSION_GAP_S (same duplication rationale).
SESSION_GAP_S = 1800


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over {sf_dir}/{table}.parquet whether the
    dataset is ONE file (the driver's testdata layout) or a DIRECTORY
    of part files (the 10x probe's multi-file splittable layout): file
    sources need a directory, so stream the parent with a name glob in
    the single-file case and the dataset directory itself otherwise.
    Before this branch existed, every stream screen silently processed
    an EMPTY stream on multi-file datasets — the glob matched no leaf
    file name."""
    path = f"{sf_dir}/{table}.parquet"
    schema = read_parquet(spark, path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _events_stream(spark: SparkSession, sf_dir: str, glob: str = "events.parquet") -> DataFrame:
    """events as a file-source stream. Schema comes from a batch peek
    (file sources need an explicit schema; io.read_parquet's memo makes
    the peek free after the first); the ns→µs conversion mirrors
    io.load_table."""
    # required to read the TIMESTAMP(NANOS) column on a foreign session
    # (the driver's plain SparkSession) — same defensive set as io.load_table
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if glob == "events.parquet":
        stream = _table_stream(spark, sf_dir, "events")
    else:
        # staged directories (sentinel builds) are always plain files
        batch = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("pathGlobFilter", glob)
            .parquet(sf_dir)
        )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _ledger_prior(
    spark: SparkSession, ledger: str, batch_id: int
) -> DataFrame | None:
    """Committed prior-batch partitions of a batch_id-partitioned ledger
    directory, EXCLUDING the current batch's own partition. Two retry
    guarantees fall out of this:

    - foreachBatch is at-least-once: a crash after the ledger write but
      before the checkpoint commit replays the batch, and a naive read
      of the whole ledger would count the batch's own prior write as
      'seen' state (the rate limiter double-counts; the dedup gate
      rejects every row of the retried batch and loses the keeper).
      Filtering to batch_id < current makes the retry recompute the
      IDENTICAL decisions, so the partition overwrite is a true no-op.
    - 'no ledger yet' is detected EXPLICITLY by listing the directory —
      returns None for the first batch. A corrupt parquet file or a
      transient IO error in an existing partition must FAIL the batch
      (the checkpoint retries it), not be silently treated as empty
      history; bare except-Exception here durably wrote wrong decisions.

    Partitions with id < current are always complete: availableNow
    batches commit sequentially, so a later batch only runs after every
    earlier batch's writes (and checkpoint) committed."""
    if not os.path.isdir(ledger):
        return None
    if os.path.exists(os.path.join(ledger, "_COMPACT_MANIFEST.json")):
        # a ledger compaction crashed mid-swap: serving against the
        # partially-deleted history would under-count seen state — fail
        # loudly; operators.index_store.compact_ledger resumes the swap
        raise RuntimeError(
            f"ledger {ledger} has an incomplete compaction; "
            "re-run compact_ledger to resume it before serving"
        )
    prior = [
        d
        for d in os.listdir(ledger)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < batch_id
    ]
    if not prior:
        return None
    return spark.read.option("basePath", ledger).parquet(
        *(os.path.join(ledger, d) for d in prior)
    )


def stream_visitor_stats(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """ST1+ST5: watermarked tumbling-window visitor stats — the
    streaming twin of dws.visitor_stats_window. Append-mode parquet
    sink; windows finalize when the watermark passes their end
    (exactly the reference's window + bounded-out-of-orderness)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("pv_ct"),
            F.approx_count_distinct("user_id").alias("uv_approx"),
            F.sum(dec("value")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "event_type", "pv_ct", "uv_approx", "value_sum",
        )
    )
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, (span_us // 600_000_000 + 1) * 8)  # windows x types
    with _stateful_replay_parts(spark, est):
        (
            agg.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def stream_uv_dedup(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """ST6: streaming UV dedup — dropDuplicates on (user_id, day) with a
    watermark bounding state, the declarative form of the reference's
    keyed last-visit-date ValueState with 1-day TTL (UV2.java:61-112).
    State for closed days is evicted by the watermark, exactly like the
    StateTtlConfig."""
    ev = _events_stream(spark, sf_dir)
    firsts = (
        ev.select("user_id", "event_id", "ts", F.to_date("ts").alias("dt"))
        .withWatermark("ts", WATERMARK)
        .dropDuplicates(["user_id", "dt"])
    )
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, n_users * (span_us // 86_400_000_000 + 1))
    with _stateful_replay_parts(spark, est), \
            _no_trailing_empty_batch(spark):  # dropDuplicates emits on arrival
        (
            firsts.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def _jump_state_fn(key, pdf_iter, state: GroupState):
    """applyInPandasWithState body for jump detection: keep the latest
    pending event per user; when the next event arrives, emit the
    pending one with is_jump = (gap exceeded the timeout); on
    event-time timeout (watermark passed pending_ts + timeout), emit as
    a jump. Mirrors the CEP timeout branch (UJump2.java:114-137).

    Every real event is emitted exactly once (decided by its successor,
    by the watermark timeout, or by the end-of-stream sentinel that
    stream_jump_detect injects past max_ts + timeout), so the decided
    stream aggregates to exactly the batch user_jump answer. Sentinel
    rows (event_id < 0) decide the pending event but are never stored
    or emitted."""
    timeout_us = JUMP_TIMEOUT_S * 1_000_000
    if state.hasTimedOut:
        (pending_us, pending_id) = state.get
        state.remove()
        # a timed-out pending event is by definition a jump
        yield pd.DataFrame({"user_id": [key[0]], "event_id": [pending_id],
                            "ts_us": [pending_us], "is_jump": [True]})
        return
    rows = pd.concat(list(pdf_iter))
    rows = rows.sort_values(["ts", "event_id"])
    out_ids, out_ts, out_jump = [], [], []
    pending = state.get if state.exists else None
    for ts_val, ev_id in zip(rows["ts"], rows["event_id"]):
        ts_us = int(ts_val.value // 1000)  # pandas ns → µs
        if pending is not None:
            out_ids.append(pending[1])
            out_ts.append(pending[0])
            out_jump.append(ts_us - pending[0] > timeout_us)
        pending = (ts_us, int(ev_id)) if ev_id >= 0 else None
    if pending is not None:
        state.update(pending)
        state.setTimeoutTimestamp(pending[0] // 1000 + JUMP_TIMEOUT_S * 1000)
    elif state.exists:
        state.remove()
    if out_ids:
        yield pd.DataFrame({"user_id": [key[0]] * len(out_ids), "event_id": out_ids,
                            "ts_us": out_ts, "is_jump": out_jump})


# One sentinel pad for EVERY staged stream (VERDICT r8 #7): any pad
# strictly beyond a query's own gap/timeout/window + watermark delay is
# correct (the sentinel only needs to push the watermark past every
# real close; how far past is irrelevant to a bounded replay), so all
# four former per-query pads collapse onto the largest need — the 6 h
# funnel window (analytics.FUNNEL_WINDOW_S; literal here to avoid a
# circular module import) — and the staging memo serves ONE staged dir per
# (session, corpus) instead of one per (session, corpus, pad): three
# fewer max-ts scans + sentinel builds + corpus copies per bench run.
STAGE_PAD_S = 6 * 3600 + 120


# --- state-partition sizing for stateful bounded replays (r12) ---------
#
# A stateful streaming stage pins its partition count (= state store
# instance count) at checkpoint creation from spark.sql.shuffle.partitions;
# AQE cannot coalesce it afterwards the way it fixes the equivalent batch
# shuffle. Measured with tools/stream_decompose_r12.py at sf0.1: each
# HDFS-backed store instance pays a fixed per-batch open/commit floor
# (~250 ms even for a 0-row batch), so a replay holding 1,500 user keys
# across 32 stores spends most of its addBatch in store floors — while a
# single store serializes the per-group Python work (interleaved A/B:
# 32 parts ≈ 10.8/11.4 s, 4 parts ≈ 5.8/6.9 s, 1 part ≈ 12.2/12.8 s,
# identical results). So derive the count from the corpus's own key
# estimate — the sizing a production deploy makes when it sets
# shuffle.partitions for a stateful job from expected keyed-state volume
# — capped at the session's parallelism so any real corpus keeps the
# cores-wide layout (est/512 exceeds the cap long before 1% of 100 TB).
STATE_KEYS_PER_STORE = 512


def _state_partitions(spark: SparkSession, est_keys: int) -> int:
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, -(-int(est_keys) // STATE_KEYS_PER_STORE)))


@contextlib.contextmanager
def _stateful_replay_parts(spark: SparkSession, est_keys: int):
    """Scope spark.sql.shuffle.partitions to a stateful replay's start:
    the stream's state partitioning is fixed from the conf at checkpoint
    creation (each fresh bounded replay creates one), and the conf is
    restored for whatever batch work follows."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_state_partitions(spark, est_keys)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextlib.contextmanager
def _no_trailing_empty_batch(spark: SparkSession):
    """Scope spark.sql.streaming.noDataMicroBatches.enabled=false to a
    bounded replay whose FINAL output is provably complete after the
    last DATA batch (r13, guide §2.4 — measured ~0.6-1.3 s of pure
    store-open/commit floor per replay for a batch that reads zero
    rows and emits zero rows):

    - inline sentinel flush (jump detect, window funnel): every user
      receives a sentinel row IN the data batch, the state fn decides
      and REMOVES the key's state inline, so after the last data batch
      no state exists for an event-time timeout to fire on;
    - emit-on-arrival operators (dropDuplicates, inner time-bounded
      stream-stream joins): rows are emitted in the batch that reads
      them — the trailing no-data batch only evicts expired state, it
      can never add an output row.

    NOT for append-mode windowed/session aggregates (visitor stats,
    hypertable hour, user sessions): those EMIT in the batch after the
    watermark passes a window's end — the trailing no-data batch IS
    the emission of every sentinel-closed window, and disabling it
    drops the entire result (oracle-verified both ways). Each call
    site records which leg justifies it; the scoped oracle gate
    hash-checks the replay output either way."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# per-(application, corpus) memo of the one-pass key stats every
# stateful replay's partition derivation reads: (n_users, span_us,
# n_rows). One tiny agg job per session per corpus.
def _events_key_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int, int]:
    def build() -> tuple[int, int, int]:
        # load_table owns the events ns->us contract — re-implementing
        # it here would let the two readers drift
        row = load_table(spark, sf_dir, "events").agg(
            F.countDistinct("user_id").alias("u"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span"),
            F.count("*").alias("n"),
        ).first()
        return int(row["u"]), int(row["span"] or 0), int(row["n"])

    return session_memo(spark, "events_key_stats", sf_dir, build)


def _stage_events_with_sentinels(spark: SparkSession, sf_dir: str, pad_s: int | None = None) -> str:
    """Copy events.parquet into a temp dir alongside one sentinel row per
    user at max_ts + pad_s (default STAGE_PAD_S; event_id = -1).
    Replaying the staged dir makes the stream's watermark pass
    every real event's timeout/window close, so end-of-input state gets
    decided exactly like the reference's CEP timeout emission
    (UJump2.java:114-137) instead of sitting in state forever. The
    shared default exceeds every caller's gap/timeout + watermark delay
    (assertions at the call sites); sentinels never
    appear in output (state fns drop them, session sentinels stay
    unemitted because their own window never closes).
    Staged dirs are pure functions of (corpus, pad): memoized per
    application so jump/sessions/funnel replays in one session reuse
    one staging instead of rebuilding ~1s of copy+write per call."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if pad_s is None:
        pad_s = STAGE_PAD_S
    return session_memo(
        spark, "sentinel_stage", (sf_dir, pad_s),
        lambda: _build_sentinel_stage(spark, sf_dir, pad_s),
        valid=os.path.isdir,
    )


def _build_sentinel_stage(spark: SparkSession, sf_dir: str, pad_s: int) -> str:
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    max_ts = raw.agg(F.max("ts")).first()[0]
    if dict(raw.dtypes).get("ts") == "bigint":  # raw int64 nanoseconds
        sentinel_ts = F.lit(max_ts + pad_s * 1_000_000_000).cast("long")
    else:
        sentinel_ts = F.lit(max_ts + datetime.timedelta(seconds=pad_s))
    sentinels = raw.select("user_id").distinct().select(*[
        F.col("user_id") if f.name == "user_id"
        else F.lit(-1).cast(f.dataType).alias("event_id") if f.name == "event_id"
        else sentinel_ts.alias("ts") if f.name == "ts"
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in raw.schema.fields
    ])
    from .queries import _scratch
    stage = _scratch("jump_src_")
    tmp_out = f"{stage}/_sentinel_build"
    sentinels.coalesce(1).write.parquet(tmp_out)
    part = next(p for p in os.listdir(tmp_out) if p.endswith(".parquet"))
    shutil.move(f"{tmp_out}/{part}", f"{stage}/zz_sentinels.parquet")
    shutil.rmtree(tmp_out)
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        # multi-file dataset (the 10x probe layout): stage every part
        # under a distinct flat name so the stage glob sees them all
        for i, p in enumerate(sorted(os.listdir(src))):
            if p.endswith(".parquet"):
                shutil.copy(f"{src}/{p}", f"{stage}/events_{i:05d}.parquet")
    else:
        shutil.copy(src, f"{stage}/events.parquet")
    return stage


def stream_jump_detect(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """ST4: stateful jump (bounce) detection with event-time timeout via
    applyInPandasWithState — the custom-stateful-operator escape hatch
    for semantics plain watermark/window ops can't express. Keyed by
    user; state = the pending candidate event; timeout = watermark
    passing candidate_ts + JUMP_TIMEOUT_S. End-of-stream pending events
    are flushed by per-user sentinels (see _stage_events_with_sentinels),
    so a bounded replay emits a decision for EVERY event and equals the
    batch user_jump answer exactly. The sentinel flush is INLINE (the
    state fn decides the pending event and removes the key's state in
    the data batch itself), so no state survives the last data batch
    and the trailing no-data micro-batch is skipped
    (_no_trailing_empty_batch)."""
    stage = _stage_events_with_sentinels(spark, sf_dir)
    ev = _events_stream(spark, stage, glob="*.parquet")
    out = (
        ev.select("user_id", "event_id", "ts")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _jump_state_fn,
            outputStructType="user_id long, event_id long, ts_us long, is_jump boolean",
            stateStructType="pending_ts_us long, pending_id long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    with _stateful_replay_parts(spark, _events_key_stats(spark, sf_dir)[0]), \
            _no_trailing_empty_batch(spark):  # inline sentinel flush
        (
            out.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def _is_new_state_fn(key, pdf_iter, state: GroupState):
    """applyInPandasWithState body for the new/old-visitor repair (P8):
    keyed ValueState holds the user's first-visit date; events on that
    date keep is_new='1', later dates are rewritten to '0'
    (RT/app/dwd2/BaseLogApp2.java:71-113, documented intent)."""
    if state.hasTimedOut:  # pragma: no cover - no timeout configured
        state.remove()
        return
    rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    first_dt = state.get[0] if state.exists else None
    dts = rows["ts"].dt.strftime("%Y-%m-%d")
    if first_dt is None:
        first_dt = dts.iloc[0]
        state.update((first_dt,))
    yield pd.DataFrame(
        {
            "user_id": rows["user_id"],
            "event_id": rows["event_id"],
            "dt": dts,
            "is_new": (dts == first_dt).map(lambda b: "1" if b else "0"),
        }
    )


def stream_is_new_repair(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """ST6+P8 streaming variant: per-user first-visit-date keyed state
    rewrites the is_new flag in flight."""
    ev = _events_stream(spark, sf_dir)
    out = (
        ev.select("user_id", "event_id", "ts")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _is_new_state_fn,
            outputStructType="user_id long, event_id long, dt string, is_new string",
            stateStructType="first_dt string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    with _stateful_replay_parts(spark, _events_key_stats(spark, sf_dir)[0]):
        (
            out.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def _rate_state_fn(key, pdf_iter, state: GroupState):
    """applyInPandasWithState body for per-(user, hour) rate limiting:
    state = events seen so far for the key; an event is admitted iff
    its ARRIVAL position is within RATE_CAP — the semantics every
    production limiter has (admission can't retroactively reorder).
    Within a micro-batch rows sort by (ts, event_id); across batches
    the admission order is batch arrival order, so the stream equals
    the batch row_number rule exactly when replay is in event-time
    order (the bounded single-file replay the gate and tests run; an
    out-of-order multi-batch source admits the same COUNT per key but
    possibly different members). On event-time timeout (an hour past
    the window) the counter is dropped — bounded keyed state."""
    from ..operators.quality import RATE_CAP

    if state.hasTimedOut:
        state.remove()
        return
    rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    seen = state.get[0] if state.exists else 0
    ids, kept = [], []
    for ev_id in rows["event_id"]:
        ids.append(int(ev_id))
        kept.append(seen < RATE_CAP)
        seen += 1
    state.update((seen,))
    hr_us = int(key[1].value // 1000)
    state.setTimeoutTimestamp(hr_us // 1000 + 2 * 3600 * 1000)
    yield pd.DataFrame({
        "user_id": [key[0]] * len(ids),
        "hr": [key[1]] * len(ids),
        "event_id": ids,
        "kept": kept,
    })


def stream_rate_limit_keyed(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Streaming twin of quality.rate_limited_events: keyed admission
    counter per (user, hour) with event-time state expiry — the
    count-based stateful pattern (vs stream_jump_detect's pending-
    event/timeout pattern). The bounded replay's per-hour rollup
    equals the batch answer exactly and is fully oracle-checked."""
    ev = _events_stream(spark, sf_dir)
    out = (
        ev.select("user_id", "event_id", "ts", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id", "hr")
        .applyInPandasWithState(
            _rate_state_fn,
            outputStructType="user_id long, hr timestamp, event_id long, kept boolean",
            stateStructType="seen long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    n_users, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, n_users * (span_us // 3_600_000_000 + 1))
    with _stateful_replay_parts(spark, est):
        (
            out.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def _trans_state_fn(key, pdf_iter, state: GroupState):
    """applyInPandasWithState body for transition-pair extraction: the
    keyed state is the user's LAST event type; each arriving event
    (sorted (ts, event_id) within the batch) emits the (prev, cur)
    pair then becomes the new state — the sequence-pairing pattern
    (third stateful exemplar beside the pending-event and counter
    ones). State is ONE string per user and never expires, so the
    emitted pairs equal the batch lag() window exactly under ANY
    in-order replay, single- or multi-batch — an expiry would drop
    the pair spanning a gap longer than the TTL and silently diverge
    from the oracle. (A production deployment bounding state would
    document exactly that divergence.)"""
    rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    prev = state.get[0] if state.exists else None
    prevs, curs = [], []
    for et in rows["event_type"]:
        if prev is not None:
            prevs.append(prev)
            curs.append(et)
        prev = et
    state.update((prev,))
    if prevs:
        yield pd.DataFrame({
            "user_id": [key[0]] * len(prevs),
            "prev_type": prevs,
            "cur_type": curs,
        })


def stream_transition_matrix(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Streaming twin of analytics.event_transition_matrix: keyed
    last-event state emits consecutive (prev, cur) pairs; the bounded
    replay's aggregated matrix equals the batch answer exactly and is
    fully oracle-checked."""
    ev = _events_stream(spark, sf_dir)
    out = (
        ev.select("user_id", "event_id", "event_type", "ts")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _trans_state_fn,
            outputStructType="user_id long, prev_type string, cur_type string",
            stateStructType="prev string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    with _stateful_replay_parts(spark, _events_key_stats(spark, sf_dir)[0]):
        (
            out.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def stream_payment_wide(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """ST1+J2 streaming twin: watermarked stream-stream interval join —
    purchases join the same user's preceding view/click within 30 min
    (the reference's payment⋈order_wide intervalJoin,
    RT/app/dwm2/PaymentWideApp2.java:70-82). The time-range condition
    bounds both sides' state exactly like Flink's interval bounds; the
    watermark evicts expired state."""
    ev = _events_stream(spark, sf_dir)
    pay = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("pay_id"),
            F.col("user_id").alias("pay_user"),
            F.col("ts").alias("pay_ts"),
        )
        .withWatermark("pay_ts", WATERMARK)
    )
    act = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("event_id").alias("act_id"),
            F.col("user_id").alias("act_user"),
            F.col("ts").alias("act_ts"),
        )
        .withWatermark("act_ts", "1801 seconds")
    )
    joined = pay.join(
        act,
        (F.col("pay_user") == F.col("act_user"))
        & (F.col("act_ts") <= F.col("pay_ts"))
        & (F.col("act_ts") >= F.col("pay_ts") - F.expr("INTERVAL 30 MINUTES") + F.expr("INTERVAL 1 MICROSECOND")),
        "inner",
    ).select("pay_id", "pay_user", "pay_ts", "act_id", "act_ts")
    with _stateful_replay_parts(spark, _events_key_stats(spark, sf_dir)[0]), \
            _no_trailing_empty_batch(spark):  # inner join emits on arrival
        (
            joined.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def _rate_limit_admit_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """One micro-batch of the ledger rate limiter — module-level so the
    retry-idempotence test can replay a committed batch directly and
    assert identical decisions (foreachBatch is at-least-once; see
    _ledger_prior). All JVM: rank within batch, join committed prior
    admissions, decide, overwrite own batch_id partitions."""
    from pyspark.sql import Window

    from ..operators.quality import RATE_CAP

    ledger = f"{out_dir}/_ledger"
    s = batch_df.sparkSession
    rows = batch_df.select(
        "event_id", "ts", "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    w = Window.partitionBy("user_id", "hr").orderBy("ts", "event_id")
    ranked = rows.withColumn("rn", F.row_number().over(w))
    prior = _ledger_prior(s, ledger, batch_id)  # retry-idempotent: own partition excluded
    if prior is not None:
        seen = prior.groupBy("user_id", "hr").agg(F.sum("add_ct").alias("seen"))
        ranked = ranked.join(seen, ["user_id", "hr"], "left").fillna(0, "seen")
    else:  # first batch: no committed prior partitions
        ranked = ranked.withColumn("seen", F.lit(0).cast("long"))
    decided = ranked.withColumn(
        "kept", F.col("seen") + F.col("rn") <= RATE_CAP
    ).localCheckpoint()
    (
        decided.select("event_id", "ts", "user_id", "hr", "kept")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/data/batch_id={batch_id}")
    )
    (
        decided.groupBy("user_id", "hr")
        .agg(F.count("*").alias("add_ct"))
        .write.mode("overwrite")
        .parquet(f"{ledger}/batch_id={batch_id}")
    )


def stream_rate_limit_ledger(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """The rate limiter in its SCALE form: foreachBatch + an admission
    LEDGER instead of per-key Python state. Each micro-batch (JVM-side,
    all codegen) row_numbers its own rows per (user, hour), left-joins
    the ledger of previously-admitted counts, admits while
    prior + rn <= RATE_CAP, writes decisions idempotently under
    batch_id=<id>, and appends the batch's per-key additions to the
    ledger (delta rows, re-summed on read — a compaction pass would
    fold them in production; expired hours age out by dropping
    partitions). Same admission semantics as stream_rate_limit's keyed
    state fn — count-based, arrival order within a batch by
    (ts, event_id) — but none of applyInPandasWithState's per-KEY
    Python invocation cost (~16k near-singleton keys/s, ~250 s at the
    10x replay); here the per-batch cost is two key-partitioned
    shuffles regardless of key cardinality."""
    ev = _events_stream(spark, sf_dir)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        _rate_limit_admit_batch(batch_df, batch_id, out_dir)

    (
        ev.writeStream.foreachBatch(_admit)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_chk")
        .start()
        .awaitTermination()
    )


def stream_cms_sketch(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Streaming Count-Min maintenance — the sketch's additive
    mergeability exercised for real instead of merely claimed by the
    batch op's docstring: each micro-batch folds its tokens into its
    OWN DEPTH×WIDTH partial counter table (one keyed aggregate,
    map-side combine — at most DEPTH*WIDTH rows leave any task) and
    writes it idempotently under batch_id=<id>; the live sketch at any
    moment is the SUM over ledger partials (a compaction pass would
    fold them in production). No state store, no complete-mode
    re-emission, driver memory holds nothing — counters this cheap to
    maintain are WHY heavy-hitter monitoring runs at ingest. A bounded
    replay's summed ledger equals the batch sketch exactly (counting is
    additive over any partition of the corpus), so the evaluation
    report reuses cms_heavy_hitters' oracle verbatim."""
    from ..functions import tokenize
    from ..operators.sketches import cms_bucket_entries

    docs = _table_stream(spark, sf_dir, "documents")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(F.explode(tokenize("text")).alias("token"))
            .select(F.explode(cms_bucket_entries(F.col("token"))).alias("h"))
            .groupBy(F.col("h.r").alias("r"), F.col("h.bucket").alias("bucket"))
            .agg(F.count("*").alias("cnt"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/data/batch_id={batch_id}")
        )

    (
        docs.writeStream.foreachBatch(_fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_chk")
        .start()
        .awaitTermination()
    )


def stream_psi_fold(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Streaming drift monitoring — the current-window side of the PSI
    report maintained at ingest: each micro-batch buckets its
    current-window orders against the FROZEN reference decile cuts (a
    1-row broadcast; production computes them once when the reference
    window is frozen — here each fold re-derives them from the static
    reference read, same value every time) and appends its per-bucket
    partial counts idempotently under batch_id=<id>. Bucket counting is
    additive, so the summed ledger equals the batch current-window
    histogram exactly and the final report reuses psi_drift's oracle
    verbatim. No state store; at most PSI_BUCKETS rows per batch."""
    from ..operators.quality import PSI_SPLIT_DATE, _psi_bucket_counts, _psi_cuts

    orders = _table_stream(spark, sf_dir, "orders")
    cur = orders.filter(F.col("o_orderdate") >= PSI_SPLIT_DATE)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        ref = s.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderdate") < PSI_SPLIT_DATE
        )
        (
            _psi_bucket_counts(batch_df, _psi_cuts(ref))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/data/batch_id={batch_id}")
        )

    (
        cur.writeStream.foreachBatch(_fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_chk")
        .start()
        .awaitTermination()
    )


def _dedup_gate_admit_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """One micro-batch of the ledger dedup gate — module-level so the
    retry-idempotence test can replay a committed batch directly and
    assert identical decisions (foreachBatch is at-least-once; see
    _ledger_prior — without the own-partition exclusion a retry would
    see its own fingerprints as already-ingested and reject every row,
    losing the keeper)."""
    from pyspark.sql import Window

    from ..operators.dedup import _norm_text

    ledger = f"{out_dir}/_ledger"
    s = batch_df.sparkSession
    fp = batch_df.select(
        "doc_id", "lang", F.md5(_norm_text(F.col("text"))).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    first_in_batch = F.row_number().over(w) == 1
    ranked = fp.withColumn("batch_first", first_in_batch)
    prior = _ledger_prior(s, ledger, batch_id)  # retry-idempotent: own partition excluded
    if prior is not None:
        seen = prior.select("fingerprint").distinct()
        ranked = ranked.join(
            seen.withColumn("seen", F.lit(True)), "fingerprint", "left"
        ).withColumn("seen", F.coalesce("seen", F.lit(False)))
    else:  # first batch: no committed prior partitions
        ranked = ranked.withColumn("seen", F.lit(False))
    decided = ranked.withColumn(
        "admitted", F.col("batch_first") & ~F.col("seen")
    ).localCheckpoint()
    (
        decided.select("doc_id", "lang", "fingerprint", "admitted")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/data/batch_id={batch_id}")
    )
    (
        decided.filter("admitted")
        .select("fingerprint")
        .write.mode("overwrite")
        .parquet(f"{ledger}/batch_id={batch_id}")
    )


def stream_dedup_gate(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Ingest-time EXACT-dedup admission — the ledger pattern again
    (the only honest shape: a fingerprint seen-set is unbounded state,
    so keyed in-memory state would be a scale lie; the ledger IS the
    production global dedup index, maintained as a table). Each
    micro-batch fingerprints its docs (normalized-text md5, the
    dedup_exact recipe), keeps the min-doc_id row per fingerprint
    WITHIN the batch, left-anti joins the fingerprint ledger for
    cross-batch misses, writes per-doc admit/reject decisions
    idempotently under batch_id partitions, and appends admitted
    fingerprints to the ledger. A bounded single-batch replay admits
    exactly dedup_exact's keepers."""
    docs = _table_stream(spark, sf_dir, "documents")

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_gate_admit_batch(batch_df, batch_id, out_dir)

    (
        docs.writeStream.foreachBatch(_admit)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_chk")
        .start()
        .awaitTermination()
    )


def _funnel_state_fn(key, pdf_iter, state: GroupState):
    """applyInPandasWithState body for the streaming window funnel:
    state = the batch fold's dp triple (latest chain-start achieving
    each level, -1 unreached) — the greedy is INCREMENTAL, so the
    stream maintains exactly the batch operator's accumulator per
    user. Emission: the per-user sentinel (event_id -1) flushes the
    final level at end-of-replay (emit-and-remove), and the event-time
    timeout emits it in production when the watermark passes the last
    possible chain extension; a user whose state was never touched by
    a real funnel event emits nothing (matching the batch operator's
    population)."""
    from ..pipelines.analytics import FUNNEL_WINDOW_S

    w_us = FUNNEL_WINDOW_S * 1_000_000
    if state.hasTimedOut:
        d1, d2, d3 = state.get
        state.remove()
        level = 3 if d3 >= 0 else 2 if d2 >= 0 else 1 if d1 >= 0 else 0
        yield pd.DataFrame({"user_id": [key[0]], "level": [level]})
        return
    rows = pd.concat(list(pdf_iter)).sort_values(["ts_us", "event_id"])
    dp = list(state.get) if state.exists else [-1, -1, -1]
    saw_real = state.exists
    flush = False
    last_ts = None
    for t, s, ev in zip(rows["ts_us"], rows["step"], rows["event_id"]):
        if int(ev) == -1:
            flush = True
            continue
        t, s = int(t), int(s)
        saw_real = True
        last_ts = t
        if s == 1:
            dp[0] = max(dp[0], t)
        elif s == 2 and dp[0] >= 0 and t - dp[0] <= w_us:
            dp[1] = max(dp[1], dp[0])
        elif s == 3 and dp[1] >= 0 and t - dp[1] <= w_us:
            dp[2] = max(dp[2], dp[1])
    if flush:
        if state.exists:
            state.remove()
        if saw_real:
            level = 3 if dp[2] >= 0 else 2 if dp[1] >= 0 else 1 if dp[0] >= 0 else 0
            yield pd.DataFrame({"user_id": [key[0]], "level": [level]})
        return
    if saw_real:
        state.update(tuple(dp))
        if last_ts is not None:
            # level can only change while a chain can still extend
            state.setTimeoutTimestamp(last_ts // 1000 + (FUNNEL_WINDOW_S + 60) * 1000)


def stream_window_funnel(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Streaming twin of analytics.window_funnel (ClickHouse
    windowFunnel semantics): per-user funnel level maintained as keyed
    state by the SAME greedy dp the batch fold runs — the stream form
    of an incremental fold is just 'keep the accumulator in state'.
    Sentinels flush final levels for the bounded replay; the
    event-time timeout is the production flusher. The replayed level
    histogram equals batch window_funnel exactly (oracle reused)."""
    from ..pipelines.analytics import FUNNEL_STEPS, FUNNEL_WINDOW_S

    assert STAGE_PAD_S > FUNNEL_WINDOW_S + 60  # shared pad covers the funnel close
    stage = _stage_events_with_sentinels(spark, sf_dir)
    ev = _events_stream(spark, stage, glob="*.parquet")
    step_idx = F.when(F.col("event_type") == FUNNEL_STEPS[0], 1)
    for i, s in enumerate(FUNNEL_STEPS[1:], start=2):
        step_idx = step_idx.when(F.col("event_type") == s, i)
    rows = (
        ev.filter(
            F.col("event_type").isin(*FUNNEL_STEPS) | (F.col("event_id") == -1)
        )
        .select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            F.coalesce(step_idx, F.lit(0)).cast("int").alias("step"),
            "event_id",
        )
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_state_fn,
            outputStructType="user_id long, level int",
            stateStructType="d1 long, d2 long, d3 long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    with _stateful_replay_parts(spark, _events_key_stats(spark, sf_dir)[0]), \
            _no_trailing_empty_batch(spark):  # inline sentinel flush
        (
            rows.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def stream_decontaminate_sink(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    bench: DataFrame | None = None,
    glob: str | None = None,
) -> None:
    """Production form of the ingest-time decontamination screen: a
    CHECKPOINTED foreachBatch append to a parquet sink. Stateless by
    construction (every doc's windows are contained in one micro-batch
    — a file source never splits a row), so restart recovery is pure
    source-offset bookkeeping: resuming with the same checkpoint scores
    ONLY newly-arrived files and appends exactly their decisions (the
    recovery test's contract). Writes are IDEMPOTENT per batch: each
    micro-batch OVERWRITES its own batch_id=<id> partition, so a
    foreachBatch retry (at-least-once delivery) replaces rather than
    duplicates its rows — the standard exactly-once foreachBatch sink
    recipe. `bench` is the benchmark gram set
    (columns gram, hit=1); defaults to the harness pseudo-benchmark
    (the src corpus' doc_id % 17 == 0 slice), in which case benchmark
    docs are excluded from scoring, mirroring ngram_decontaminate."""
    from ..operators.dedup import CONTAM_DROP_FRAC, SPAN_TOKENS, _token_windows

    if glob is None:
        # harness layout: {src_dir}/documents.parquet, file OR part dir
        sample = spark.read.parquet(f"{src_dir}/documents.parquet")
        stream = _table_stream(spark, src_dir, "documents")
    else:
        # explicit glob: a custom ingest directory of plain files
        sample = spark.read.option("pathGlobFilter", glob).parquet(src_dir)
        stream = (
            spark.readStream.schema(sample.schema)
            .option("pathGlobFilter", glob)
            .parquet(src_dir)
        )
    if bench is None:
        bench = (
            sample.filter(F.col("doc_id") % 17 == 0)
            .select(
                F.explode(_token_windows(F.col("text"), SPAN_TOKENS)).alias("gram")
            )
            .distinct()
            .withColumn("hit", F.lit(1))
            .localCheckpoint()
        )
        stream = stream.filter(F.col("doc_id") % 17 != 0)
    frac = F.round(
        F.col("hit_ct").cast("decimal(18,6)") / F.col("gram_ct"), 4
    ).cast("decimal(9,4)")
    n_part = spark.sparkContext.defaultParallelism

    def _score(batch_df: DataFrame, batch_id: int) -> None:
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
            # idempotent per-batch write: a retried batch overwrites
            # its own partition instead of appending duplicates
            .write.mode("overwrite")
            .parquet(f"{out_dir}/data/batch_id={batch_id}")
        )

    (
        stream.writeStream.foreachBatch(_score)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_chk")
        .start()
        .awaitTermination()
    )


def stream_hypertable_hour_sink(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Production form of the hypertable continuous aggregate: the hour
    grain as an APPEND-mode watermarked windowed agg to a parquet sink
    — each hour row lands exactly once, when the watermark passes its
    window end (the deploy shape; the complete-mode query form is the
    oracle harness). End-of-input windows close via the jump-detect
    sentinel pattern: one row staged past max_ts + pad advances the
    watermark beyond every real window's end; sentinels pass through
    the watermark node (that is what moves it) and are filtered BEFORE
    the aggregate, so the sink holds exactly the real hours. Day/month
    grains derive from this sink batch-side, re-aggregating view rows,
    never raw — the 100 TB split."""
    # shared pad >> window (1 h) + watermark delay: the last real hour closes
    stage = _stage_events_with_sentinels(spark, sf_dir)
    ev = _events_stream(spark, stage, glob="*.parquet")
    # Sentinels are excluded INSIDE the aggregate, never by a pre-agg
    # filter: a `filter(event_id != -1)` between watermark and agg gets
    # PUSHED BELOW the EventTimeWatermark node by Catalyst (it doesn't
    # reference ts) straight into the parquet scan — the sentinel rows
    # then never reach the watermark operator and the last real window
    # never closes. Conditional count/sum keep the sentinels flowing
    # through the watermark while contributing nothing; the post-agg
    # n_events > 0 filter (which CANNOT push below the agg) drops any
    # sentinel-only window if a longer-running stream ever closes one.
    real = F.col("event_id") != -1
    hour = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.when(real, F.lit(1))).alias("n_events"),
            F.sum(F.when(real, dec("value"))).alias("sum_value"),
        )
        .filter(F.col("n_events") > 0)
        .select(F.col("w.start").alias("bucket_start"), "n_events", "sum_value")
    )
    _, span_us, n_rows = _events_key_stats(spark, sf_dir)
    est = min(n_rows, span_us // 3_600_000_000 + 1)  # non-empty hour windows
    with _stateful_replay_parts(spark, est):
        (
            hour.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out_dir}/_chk")
            .start(f"{out_dir}/data")
            .awaitTermination()
        )


def run_stream_to_df(spark: SparkSession, sf_dir: str, runner, out_dir: str | None = None) -> DataFrame:
    """Run a bounded streaming replay and read the sink back as a batch
    DataFrame (how tests and the driver consume streaming results)."""
    from .queries import _scratch
    out = out_dir or _scratch("stream_out_")
    runner(spark, sf_dir, out)
    return spark.read.parquet(f"{out}/data")
