"""Structured Streaming shell of the event-detection engine.

The batch pipeline (plans/pipeline.py) is a pure DataFrame->DataFrame
composition; this module runs the same operators continuously:

    readStream(sequences) -> withWatermark -> state key
      -> grouped pandas state per key: buffer docs, close a window or
         session once the event-time watermark passes its end, run EM
         theme extraction + HMM train/decode in one numpy kernel, emit
         the detected-event strength rows
      -> (optionally) stream-stream join correlating events across
         sources inside the same window
      -> exactly-once file sink + checkpoint

Every detector rides ONE doc buffer, ``_windowed_state_stream``, and
ONE kernel call, ``_window_kernel``; a detector only picks its state
key and close rule. ``_tumbling`` keys by (window, chunk) and closes a
window once the watermark passes its end (the window detector and
``streaming/evolution.streaming_window_themes``); the session detector
keys by source and closes each gap-separated session once its last
doc + gap is behind the watermark.

Reference mapping: the reference is pure batch (SURVEY.md §1.4); the
windowing duplication of ``EmInputFromParser.java:67-95`` becomes
``window()``, its out-of-period scan filter (``RawArticleInputStream.
java:141-142``) becomes the watermark, and the whole EM/HMM payload
(``EmAlgo.java``, ``Hmm2.java``, ``LifeCycleAnalyserSpark.java``) runs
inside grouped state instead of driver-mediated block scans.

Scale notes (the part that must survive 1000 executors):
* The only wide exchange before the stateful operator is the hash
  shuffle on the state key — (window, chunk) for the tumbling
  detector, (source,) for sessions. A hot window (an event burst)
  fans out over ``state_chunks`` deterministic doc-hash sub-keys,
  trading exact window pooling for the reference's own
  split-large-window (M4) semantics — N state partitions and N kernel
  tasks per window instead of one.
* State per key is bounded: at most ``max_docs_in_state`` buffered
  docs; overflow and late drops are COUNTED into the
  ``dropped_docs_acc`` accumulator on the returned DataFrame, never
  silent.
* The background model is a small static side input (vocab-sized),
  broadcast once — never a per-batch join.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from ..operators.em import _broadcast_background, em_window_best
from ..operators.hmm import detect_window_events
from ..params import DEFAULTS, Params
from ..plans.pipeline import _window_seconds

SEQUENCE_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("tokens", ArrayType(IntegerType())),
    StructField("n_tok", IntegerType()),
    StructField("source", StringType()),
    StructField("event_time", TimestampType()),
])

EVENT_SCHEMA = StructType([
    StructField("window_start", TimestampType()),
    StructField("source", StringType()),
    StructField("theme_id", IntegerType()),
    StructField("strength", LongType()),
])

# Buffered window state: per-doc metadata + ONE flattened token stream
# with per-doc lengths. Numeric columns are BINARY-packed raw little-
# endian buffers (`ndarray.tobytes()` <-> `np.frombuffer`), NOT
# ArrayType: a window's multi-million-token stream round-trips the
# state store as one memcpy'd blob instead of millions of boxed
# elements on both the Python side (tolist()) and the JVM side
# (UnsafeArrayData) — this is the difference between a state commit
# that is bandwidth-priced and one that is object-churn-priced.
# Sources are dictionary-encoded (small vocab + int32 code per doc).
STATE_SCHEMA = StructType([
    StructField("doc_ids", ArrayType(StringType())),
    StructField("src_vocab", ArrayType(StringType())),
    StructField("src_codes", BinaryType()),    # int32, one per doc
    StructField("event_ms", BinaryType()),     # int64, one per doc
    StructField("doc_lens", BinaryType()),     # int32, one per doc
    StructField("flat_tokens", BinaryType()),  # int32 token stream
    # the rule's next close time: the window end, or the end of the
    # source's first open session
    StructField("window_end_ms", LongType()),
])


def read_sequence_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of the native sequences table.

    In production this is an Iceberg streaming read; the parquet file
    source has the same semantics (exactly-once file manifest tracking,
    resumable offsets in the checkpoint).
    """
    reader = spark.readStream.schema(SEQUENCE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


# ---------------------------------------------------------------------------
# built-in stateful aggregations (tumbling / sliding / session)
# ---------------------------------------------------------------------------

def streaming_windowed_doc_counts(
    stream: DataFrame,
    length: str = "7 days",
    slide: str | None = None,
    watermark_delay: str = "3 days",
) -> DataFrame:
    """Watermarked tumbling/sliding per-source doc+token counts — the
    pure built-in windowed hash aggregate (A4/A8 under readStream)."""
    w = (F.window("event_time", length, slide) if slide
         else F.window("event_time", length))
    return (
        stream.withWatermark("event_time", watermark_delay)
        .groupBy(w.alias("w"), "source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("n_tokens"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "source", "n_docs", "n_tokens")
    )


def streaming_session_doc_counts(
    stream: DataFrame,
    gap: str = "1 hour",
    watermark_delay: str = "3 days",
) -> DataFrame:
    """Session windows per source (``session_window``): a session closes
    when no doc arrives for `gap`; late rows beyond the watermark drop."""
    return (
        stream.withWatermark("event_time", watermark_delay)
        .groupBy(F.session_window("event_time", gap).alias("w"), "source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("n_tokens"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "source", "n_docs", "n_tokens")
    )


# ---------------------------------------------------------------------------
# stateful EM + HMM detection (applyInPandasWithState)
# ---------------------------------------------------------------------------

def _windowed_state_stream(
    keyed: DataFrame,
    keys: list[str],
    rule,
    close,
    out_schema: StructType,
    *,
    min_tokens: int,
    max_docs_in_state: int,
) -> DataFrame:
    """The one doc buffer of every detector: per state key, binary-
    packed doc buffering across micro-batches, bounded state with
    counted drops, and an event-time wake-up clamped past the watermark.

    ``rule(key, event_ms, doc_ids, n_old, wm_ms) -> (closed, kept,
    fire_ms)`` decides over the buffer, whose first ``n_old`` docs were
    buffered before this call: ``closed`` lists the index arrays of the
    groups to close now, ``kept`` the docs to keep buffered (at most
    ``max_docs_in_state`` of them, in ``kept`` order), ``fire_ms`` when
    to wake next. Docs in neither are late; they and the cap overflow
    count on ``dropped_docs_acc``. ``close(key, seq_pdf) -> rows`` runs
    the payload on one closed group (``_doc_frame`` columns)."""
    dropped_acc = keyed.sparkSession.sparkContext.accumulator(0)

    def fn(key, pdf_iter, state: GroupState):
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            doc_ids, vocab, codes, ms, lens, flat, _ = state.get
            doc_ids, vocab = list(doc_ids), list(vocab)
            buf = (doc_ids, np.frombuffer(codes, dtype=np.int32),
                   np.frombuffer(ms, dtype=np.int64),
                   np.frombuffer(lens, dtype=np.int32),
                   np.frombuffer(flat, dtype=np.int32))
        else:
            vocab = []
            buf = ([], np.empty(0, np.int32), np.empty(0, np.int64),
                   np.empty(0, np.int32), np.empty(0, np.int32))
        n_old = len(buf[0])
        if not state.hasTimedOut:
            buf = _append_docs(buf, vocab, pdf_iter, min_tokens)
        n = len(buf[0])
        if not n:
            return
        closed, kept, fire_ms = rule(key, buf[2], buf[0], n_old, wm_ms)
        kept = kept[:max_docs_in_state]  # bounded state, accounted drop
        lost = n - kept.size - sum(c.size for c in closed)
        if lost:
            dropped_acc.add(lost)
        rows = []
        for idx in closed:
            rows += close(key, _doc_frame(vocab, *_take(buf, idx)))
        if kept.size:
            doc_ids, codes, ms, lens, flat = _take(buf, kept)
            state.update((doc_ids, vocab, codes.tobytes(), ms.tobytes(),
                          lens.tobytes(), flat.tobytes(), fire_ms))
            state.setTimeoutTimestamp(max(fire_ms, wm_ms + 1))
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    out = keyed.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out.dropped_docs_acc = dropped_acc
    return out


def _append_docs(buf, vocab: list, pdf_iter, min_tokens: int):
    """Append one micro-batch to a buffer, vectorized: no per-row Python
    in the hot path (timestamps and lengths stay numpy end to end)."""
    doc_ids, codes, ms, lens, flat = buf
    new_ids: list[str] = []
    new_src: list[str] = []
    ms_parts, len_parts, flat_parts = [ms], [lens], [flat]
    for pdf in pdf_iter:
        pdf = pdf[pdf["n_tok"] >= min_tokens]
        if not len(pdf):
            continue
        new_ids.extend(pdf["doc_id"].tolist())
        new_src.extend(pdf["source"].tolist())
        ms_parts.append(pdf["event_time"].to_numpy("datetime64[ns]")
                        .astype(np.int64) // 1_000_000)
        toks = [np.asarray(t, dtype=np.int32) for t in pdf["tokens"]]
        len_parts.append(np.fromiter(
            (t.size for t in toks), dtype=np.int32, count=len(toks)))
        flat_parts.append(
            np.concatenate(toks) if toks else np.empty(0, np.int32))
    if not new_ids:
        return buf
    code_of = {s: i for i, s in enumerate(vocab)}
    return (doc_ids + new_ids,
            np.concatenate([codes, _encode_sources(new_src, vocab, code_of)]),
            np.concatenate(ms_parts), np.concatenate(len_parts),
            np.concatenate(flat_parts))


def _take(buf, idx: np.ndarray):
    """Docs ``idx`` of a buffer (doc_ids, codes, ms, lens, flat): the
    buffer itself when ``idx`` is all of it in order, else one
    vectorized token gather."""
    doc_ids, codes, ms, lens, flat = buf
    if idx.size == len(doc_ids) and np.array_equal(idx, np.arange(idx.size)):
        return buf
    offs = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    sel = lens[idx]
    out_offs = np.concatenate([[0], np.cumsum(sel, dtype=np.int64)[:-1]])
    pos = np.repeat(offs[idx] - out_offs, sel) + np.arange(sel.sum())
    return [doc_ids[i] for i in idx], codes[idx], ms[idx], sel, flat[pos]


def _doc_frame(vocab, doc_ids, codes, ms, lens, flat) -> pd.DataFrame:
    """A buffer as the kernel's input frame (source, doc_id, event_time
    in epoch ms, tokens)."""
    offs = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    return pd.DataFrame({
        "source": np.asarray(vocab, dtype=object)[codes],
        "doc_id": doc_ids, "event_time": ms,
        "tokens": [flat[offs[i]:offs[i + 1]] for i in range(len(doc_ids))],
    })


def _tumbling(stream: DataFrame, params: Params, state_chunks: int = 1):
    """Window keying and close rule for the skeleton: state key
    (window_start, window_end, chunk); the window closes once the
    watermark passes its end. A new key whose window the watermark has
    already finalized is late data (file sources can deliver batches
    out of event-time order): its docs are dropped, never resurrecting
    a closed window (append-mode exactly-once)."""
    length = params.window_length
    keyed = (
        stream.withWatermark("event_time", params.watermark_delay)
        .withColumn("_w", F.window("event_time", length, params.window_slide)
                    if params.window_slide else F.window("event_time", length))
        .select(F.col("_w.start").alias("window_start"),
                F.col("_w.end").alias("window_end"),
                # deterministic doc-hash chunk: replay/retry-stable
                F.pmod(F.xxhash64("doc_id"), F.lit(state_chunks))
                .cast("int").alias("_chunk"),
                "source", "doc_id", "n_tok", "tokens", "event_time")
    )

    def rule(key, event_ms, doc_ids, n_old, wm_ms):
        we_ms = int(pd.Timestamp(key[1]).value // 1_000_000)
        every = np.arange(event_ms.size)
        if not n_old and we_ms <= wm_ms:
            return [], every[:0], None
        if we_ms < wm_ms:
            return [every], every[:0], None
        return [], every, we_ms

    return keyed, ["window_start", "window_end", "_chunk"], rule


def _window_kernel(stream: DataFrame, background_pdf: pd.DataFrame,
                   params: Params):
    """The one kernel call of every detector close, with the background
    model broadcast once: ``kernel(window_start, seq_pdf,
    theme_id_offset=0)`` is ``hmm.detect_window_events`` — the SAME
    function the fused batch plan runs, which is what makes streaming
    rows identical to the batch pipeline; ``decode=False`` stops after
    its best-of-R EM and theme floor (the evolution close)."""
    bcast = _broadcast_background(stream, background_pdf)
    k = params.num_themes
    floor = params.theme_score_floor_factor / k

    def kernel(window_start, seq_pdf, theme_id_offset=0, decode=True):
        ids, p_all = bcast.value
        if not decode:
            best = em_window_best(
                pd.Timestamp(window_start), seq_pdf[["doc_id", "tokens"]],
                ids, p_all, k, runs=params.em_runs,
                iterations=params.em_iterations,
                lambda_b=params.lambda_background)
            return best[best["score"] > floor]
        return detect_window_events(
            window_start, seq_pdf, ids, p_all, k=k,
            em_iterations=params.em_iterations,
            lambda_b=params.lambda_background, score_floor=floor,
            max_iterations=params.bw_max_iterations,
            pi_threshold=params.bw_pi_threshold,
            a_threshold=params.bw_a_threshold,
            theme_id_offset=theme_id_offset, runs=params.em_runs)

    return kernel


def streaming_detect_events(
    stream: DataFrame,
    background_pdf: pd.DataFrame,
    params: Params = DEFAULTS,
    max_docs_in_state: int = 100_000,
    state_chunks: int = 1,
) -> DataFrame:
    """Continuous event detection: grouped state per event-time window.

    Each window key buffers its docs across micro-batches; when the
    event-time watermark passes the window end, the state times out and
    the full EM -> theme filter -> HMM assemble/train -> Viterbi ->
    strength-count kernel runs on the buffered window. The kernel IS
    the batch code (``operators.hmm.detect_window_events``, best of
    ``params.em_runs`` EM fits) — same seeds, same doc order — so the
    emitted rows are identical to the batch pipeline for the same
    input and watermark (the north-rule invariant).

    ``state_chunks=1`` (default) keys state by window: EM pools all
    sources per window, exactly like the reference's TimePartition, and
    parallelism comes from the many concurrently-open windows. For a
    HOT window (an event burst — the case this engine exists for) that
    single key pins one state partition, so ``state_chunks=N`` fans the
    window out over N deterministic doc-hash chunks — each chunk
    buffers, trains, and decodes independently, which is exactly the
    reference's split-large-window semantics (M4,
    ``ThemeFromLargeTimePeriod.java:50-98``) applied to state: N tasks
    per window, state per key bounded by window_size/N. Chunking
    changes which docs pool together (as M4 does in batch), so the
    byte-parity invariant vs the batch pipeline holds for
    ``state_chunks=1``; for N>1 the invariant is vs the chunked batch
    plan, and the emitted theme_id is namespaced as ``chunk *
    num_themes + em_theme_id`` so (window, source, theme_id) stays a
    unique exactly-once sink key across chunks.

    Docs beyond ``max_docs_in_state`` per key are dropped (the
    reference's per-window doc cap) — COUNTED, never silent: the
    returned DataFrame carries a ``dropped_docs_acc`` attribute (a
    SparkContext accumulator) that sinks/monitoring should report.

    Output mode is append: rows are emitted exactly once per closed
    window, keyed (window_start, source, theme_id) — the sink's
    idempotency key.
    """
    kernel = _window_kernel(stream, background_pdf, params)
    k = params.num_themes

    def close(key, seq_pdf):
        return kernel(key[0], seq_pdf, theme_id_offset=int(key[2]) * k)

    return _windowed_state_stream(
        *_tumbling(stream, params, state_chunks), close, EVENT_SCHEMA,
        min_tokens=params.min_doc_tokens,
        max_docs_in_state=max_docs_in_state)


SESSION_EVENT_SCHEMA = StructType([
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("source", StringType()),
    StructField("theme_id", IntegerType()),
    StructField("strength", LongType()),
])


def streaming_detect_events_sessions(
    stream: DataFrame,
    background_pdf: pd.DataFrame,
    params: Params = DEFAULTS,
    max_docs_in_state: int = 100_000,
) -> DataFrame:
    """Session-window variant of the stateful detector.

    ``session_window`` composes with built-in aggregations but not with
    grouped pandas state, so sessions are cut in state (SURVEY.md §7.3
    hard-part 5), on the window detector's doc buffer keyed by source.
    Each call sorts the source's buffered docs by (event_time, doc_id)
    and splits them wherever two docs lie more than ``session_gap``
    apart, as ``windows.with_session_window_batch`` does. A session
    closes once its last doc + gap is strictly behind the watermark and
    emits (session_start, last doc + gap, source, theme_id, strength)
    from the detector's kernel, seeded by the session start; later
    sessions stay buffered, so a doc that arrives out of order still
    joins the session its event time belongs to. A doc that arrives
    with its event time already behind the watermark is late, as for
    ``session_window``: dropped and counted on ``dropped_docs_acc``,
    like docs past ``max_docs_in_state`` per source.
    """
    kernel = _window_kernel(stream, background_pdf, params)
    gap_ms = _window_seconds(params.session_gap) * 1000
    keyed = stream.withWatermark("event_time", params.watermark_delay).select(
        "source", "doc_id", "n_tok", "tokens", "event_time")

    def rule(key, event_ms, doc_ids, n_old, wm_ms):
        live = np.flatnonzero((event_ms >= wm_ms)
                              | (np.arange(event_ms.size) < n_old))
        order = live[np.lexsort((np.asarray(doc_ids, dtype=str)[live],
                                 event_ms[live]))]
        if not order.size:
            return [], order, None
        sessions = np.split(
            order, np.flatnonzero(np.diff(event_ms[order]) > gap_ms) + 1)
        ends = [int(event_ms[s[-1]]) + gap_ms for s in sessions]
        n_closed = sum(e < wm_ms for e in ends)
        if n_closed == len(ends):
            return sessions[:n_closed], order[:0], None
        return (sessions[:n_closed], np.concatenate(sessions[n_closed:]),
                ends[n_closed])

    def close(key, seq_pdf):
        ms = seq_pdf["event_time"]
        end = pd.Timestamp(int(ms.max()) + gap_ms, unit="ms")
        return [(start, end, src, tid, n) for start, src, tid, n in kernel(
            pd.Timestamp(int(ms.min()), unit="ms"), seq_pdf)]

    return _windowed_state_stream(
        keyed, ["source"], rule, close, SESSION_EVENT_SCHEMA,
        min_tokens=params.min_doc_tokens,
        max_docs_in_state=max_docs_in_state)


def _encode_sources(srcs: list, src_vocab: list, code_of: dict) -> np.ndarray:
    """Dictionary-encode source strings in place: appends unseen sources
    to ``src_vocab`` (first-occurrence order — replay-deterministic
    because the buffered doc order is) and returns int32 codes."""
    out = np.empty(len(srcs), dtype=np.int32)
    for i, s in enumerate(srcs):
        c = code_of.get(s)
        if c is None:
            c = len(src_vocab)
            src_vocab.append(s)
            code_of[s] = c
        out[i] = c
    return out


# ---------------------------------------------------------------------------
# cross-source correlation (stream-stream join)
# ---------------------------------------------------------------------------

def correlate_events_across_sources(
    events: DataFrame,
    join_watermark: str = "1 hour",
    min_strength: int = 1,
) -> DataFrame:
    """Stateful stream-stream self-join: a *correlated event* is a theme
    detected in the SAME window by TWO different sources.

    Works on both batch and streaming DataFrames. For streaming inputs
    both sides get event-time watermarks and the join condition includes
    the event-time equality (window_start == window_start), which
    satisfies Spark's stream-stream state-cleanup requirement.
    """
    a = events.filter(F.col("strength") >= min_strength)
    if events.isStreaming:
        a = a.withWatermark("window_start", join_watermark)
        b = (events.filter(F.col("strength") >= min_strength)
             .withWatermark("window_start", join_watermark))
    else:
        b = a
    left = a.select(
        F.col("window_start").alias("ws_l"),
        F.col("source").alias("source1"),
        F.col("theme_id").alias("theme_l"),
        F.col("strength").alias("strength1"))
    right = b.select(
        F.col("window_start").alias("ws_r"),
        F.col("source").alias("source2"),
        F.col("theme_id").alias("theme_r"),
        F.col("strength").alias("strength2"))
    return (
        left.join(
            right,
            (F.col("ws_l") == F.col("ws_r"))
            & (F.col("theme_l") == F.col("theme_r"))
            & (F.col("source1") < F.col("source2")),
            "inner")
        .select(F.col("ws_l").alias("window_start"),
                F.col("theme_l").alias("theme_id"),
                "source1", "source2", "strength1", "strength2",
                (F.col("strength1") + F.col("strength2"))
                .alias("combined_strength"))
    )


def uncorroborated_events(
    events: DataFrame,
    join_watermark: str = "1 hour",
    min_strength: int = 1,
) -> DataFrame:
    """Complement of ``correlate_events_across_sources``: events NO
    other source saw in the same window (single-source detections are
    the ones an analyst audits first).

    Stream-stream LEFT OUTER self-join with the event-time equality in
    the join condition: Spark holds each left row in state until the
    watermark passes its window, then emits it with nulls if nothing
    matched — the supported streaming form of an anti-join
    (stream-stream ``left_anti`` itself is unsupported). The final
    filter keeps exactly the null-padded rows. Works on batch
    DataFrames with the same plan.

    Rows inside the still-open watermark horizon are by definition
    not yet decided and do not emit — the same late-data contract as
    every windowed operator here.
    """
    a = events.filter(F.col("strength") >= min_strength)
    b = events.filter(F.col("strength") >= min_strength)
    if events.isStreaming:
        a = a.withWatermark("window_start", join_watermark)
        b = b.withWatermark("window_start", join_watermark)
    left = a.select(
        F.col("window_start").alias("ws_l"),
        F.col("source").alias("source1"),
        F.col("theme_id").alias("theme_l"),
        F.col("strength").alias("strength1"))
    right = b.select(
        F.col("window_start").alias("ws_r"),
        F.col("source").alias("source2"),
        F.col("theme_id").alias("theme_r"),
        F.col("strength").alias("strength2"))
    return (
        left.join(
            right,
            (F.col("ws_l") == F.col("ws_r"))
            & (F.col("theme_l") == F.col("theme_r"))
            & (F.col("source1") != F.col("source2")),
            "left_outer")
        .filter(F.col("source2").isNull())
        .select(F.col("ws_l").alias("window_start"),
                F.col("theme_l").alias("theme_id"),
                F.col("source1").alias("source"),
                F.col("strength1").alias("strength"))
    )


# ---------------------------------------------------------------------------
# exactly-once sink
# ---------------------------------------------------------------------------

def start_event_sink(
    events: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """Exactly-once idempotent event sink.

    The parquet file sink is exactly-once by construction: committed
    files are recorded in the sink's ``_spark_metadata`` manifest, and
    source offsets live in the checkpoint — a restart replays only
    uncommitted batches and readers see each batch's files exactly once.
    Event rows carry their natural idempotency key
    (window_start, source, theme_id); windows are emitted only on state
    timeout, so a key appears in at most one batch.
    """
    writer = (
        events.writeStream
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_keyed_idempotent_sink(
    events: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key_cols: tuple[str, ...] = ("window_start", "source", "theme_id"),
    available_now: bool = False,
):
    """foreachBatch sink that is idempotent under batch REPLAY, for
    targets without the file sink's manifest (plain object stores,
    JDBC-style upserts).

    Each micro-batch's rows are written to a partition directory keyed
    by batch_id with mode("overwrite"): replaying batch N after a crash
    rewrites exactly the same directory, so downstream readers never
    see duplicates. The event rows' natural key (`key_cols`) is also
    deduplicated within the batch — with grouped-state append output a
    key appears in at most one batch, making (batch_id overwrite +
    in-batch dedup) end-to-end exactly-once.
    """

    def write_batch(batch_df: DataFrame, batch_id: int):
        (batch_df.dropDuplicates(list(key_cols))
         .write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    writer = (events.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
