"""Structured Streaming shell of the event-detection engine.

The batch pipeline (plans/pipeline.py) is a pure DataFrame->DataFrame
composition; this module runs the same operators continuously:

    readStream(sequences) -> withWatermark -> window assignment
      -> applyInPandasWithState per (source, window): buffer docs,
         close the window when the event-time watermark passes its end,
         run EM theme extraction + HMM train/decode in one numpy kernel,
         emit the detected-event strength rows
      -> (optionally) stream-stream join correlating events across
         sources inside the same window
      -> exactly-once file sink + checkpoint

Reference mapping: the reference is pure batch (SURVEY.md §1.4); the
windowing duplication of ``EmInputFromParser.java:67-95`` becomes
``window()``, its out-of-period scan filter (``RawArticleInputStream.
java:141-142``) becomes the watermark, and the whole EM/HMM payload
(``EmAlgo.java``, ``Hmm2.java``, ``LifeCycleAnalyserSpark.java``) runs
inside grouped state instead of driver-mediated block scans.

Scale notes (the part that must survive 1000 executors):
* The only wide exchange before the stateful operator is the hash
  shuffle on the state key — (window, [chunk]) for the tumbling
  detector, (source,) for sessions. A hot window (an event burst)
  fans out over ``state_chunks`` deterministic doc-hash sub-keys,
  trading exact window pooling for the reference's own
  split-large-window (M4) semantics — N state partitions and N kernel
  tasks per window instead of one.
* State per key is bounded: at most ``max_docs_in_state`` buffered
  docs; overflow drops are COUNTED into the ``dropped_docs_acc``
  accumulator on the returned DataFrame, never silent.
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

from ..operators.em import _broadcast_background
from ..operators.hmm import detect_window_events
from ..params import DEFAULTS, Params

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
    stream: DataFrame,
    params: Params,
    close_window,
    out_schema: StructType,
    out_columns: list[str],
    *,
    min_tokens: int,
    max_docs_in_state: int,
    state_chunks: int,
    dropped_acc,
) -> DataFrame:
    """Shared buffering skeleton for per-window grouped-state operators:
    watermarked window assignment, binary-packed doc buffering across
    micro-batches, bounded state with counted drops, and watermark-close
    via event-time timeout. The payload differs per operator —
    ``close_window(window_start, chunk, doc_ids, sources, event_ms,
    doc_lens, flat) -> rows`` — so the detector and the theme emitter
    (streaming/evolution.py) ride ONE state machine."""

    def fn(key, pdf_iter, state: GroupState):
        window_start, window_end = key[0], key[1]
        chunk = int(key[2]) if len(key) > 2 else 0
        if state.hasTimedOut:
            if state.exists:
                (doc_ids, src_vocab, src_codes, event_ms, doc_lens, flat,
                 _) = state.get
                codes = np.frombuffer(src_codes, dtype=np.int32)
                vocab_arr = np.asarray(list(src_vocab), dtype=object)
                sources = (vocab_arr[codes] if codes.size
                           else np.empty(0, dtype=object))
                rows = close_window(
                    window_start, chunk, list(doc_ids), sources,
                    np.frombuffer(event_ms, dtype=np.int64),
                    np.frombuffer(doc_lens, dtype=np.int32),
                    np.frombuffer(flat, dtype=np.int32))
                state.remove()
                if rows:
                    yield pd.DataFrame(rows, columns=out_columns)
            else:
                state.remove()
            return
        # Vectorized buffer of this batch's docs — no per-row Python in
        # the hot path (timestamps and lengths stay numpy end to end).
        new_ids: list[str] = []
        new_src: list[str] = []
        ms_parts: list[np.ndarray] = []
        len_parts: list[np.ndarray] = []
        flat_parts: list[np.ndarray] = []
        for pdf in pdf_iter:
            pdf = pdf[pdf["n_tok"] >= min_tokens]
            if not len(pdf):
                continue
            new_ids.extend(pdf["doc_id"].tolist())
            new_src.extend(pdf["source"].tolist())
            ms_parts.append(
                pdf["event_time"].to_numpy("datetime64[ns]")
                .astype(np.int64) // 1_000_000)
            toks = [np.asarray(t, dtype=np.int32) for t in pdf["tokens"]]
            len_parts.append(np.fromiter(
                (t.size for t in toks), dtype=np.int32, count=len(toks)))
            flat_parts.append(
                np.concatenate(toks) if toks else np.empty(0, np.int32))
        cur_wm = state.getCurrentWatermarkMs()
        if state.exists:
            (doc_ids, src_vocab, src_codes, event_ms, doc_lens, flat,
             we_ms) = state.get
            doc_ids = list(doc_ids) + new_ids
            src_vocab = list(src_vocab)
            code_of = {s: i for i, s in enumerate(src_vocab)}
            codes = np.concatenate(
                [np.frombuffer(src_codes, dtype=np.int32),
                 _encode_sources(new_src, src_vocab, code_of)])
            ms = np.concatenate(
                [np.frombuffer(event_ms, dtype=np.int64)] + ms_parts)
            lens = np.concatenate(
                [np.frombuffer(doc_lens, dtype=np.int32)] + len_parts)
            flat_arr = np.concatenate(
                [np.frombuffer(flat, dtype=np.int32)] + flat_parts)
        else:
            we_ms = int(pd.Timestamp(window_end).value // 1_000_000)
            if we_ms <= cur_wm:
                # out-of-order arrival for a window the watermark already
                # finalized (file sources can deliver batches out of
                # event-time order): late data — drop, never resurrect a
                # closed window (append-mode exactly-once)
                dropped_acc.add(len(new_ids))
                return
            if not new_ids:
                return  # nothing survived the filter — don't open state
            doc_ids = new_ids
            src_vocab = []
            codes = _encode_sources(new_src, src_vocab, {})
            ms = np.concatenate(ms_parts)
            lens = np.concatenate(len_parts)
            flat_arr = np.concatenate(flat_parts)
        if len(doc_ids) > max_docs_in_state:
            # bounded state (the reference's per-window doc cap) — the
            # drop is accounted, never silent
            dropped_acc.add(len(doc_ids) - max_docs_in_state)
            doc_ids = doc_ids[:max_docs_in_state]
            codes = codes[:max_docs_in_state]
            ms = ms[:max_docs_in_state]
            keep_n = int(lens[:max_docs_in_state].sum())
            lens = lens[:max_docs_in_state]
            flat_arr = flat_arr[:keep_n]
        state.update((doc_ids, src_vocab, codes.tobytes(), ms.tobytes(),
                      lens.tobytes(), flat_arr.tobytes(), we_ms))
        # close when the watermark passes the window end; clamp past the
        # current watermark (an existing key whose end the watermark just
        # crossed still fires on the NEXT batch's timeout sweep)
        state.setTimeoutTimestamp(max(we_ms, cur_wm + 1))
        return
        yield  # pragma: no cover — generator form

    length = params.window_length
    windowed = (
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
    out = windowed.groupBy(
        "window_start", "window_end", "_chunk"
    ).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out.dropped_docs_acc = dropped_acc
    return out


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
    plan.

    Docs beyond ``max_docs_in_state`` per key are dropped (the
    reference's per-window doc cap) — COUNTED, never silent: the
    returned DataFrame carries a ``dropped_docs_acc`` attribute (a
    SparkContext accumulator) that sinks/monitoring should report.

    Output mode is append: rows are emitted exactly once per closed
    window, keyed (window_start, source, theme_id) — the sink's
    idempotency key.
    """
    bcast = _broadcast_background(stream, background_pdf)
    dropped_acc = stream.sparkSession.sparkContext.accumulator(0)

    k = params.num_themes
    em_iters = params.em_iterations
    lambda_b = params.lambda_background
    runs = params.em_runs
    score_floor = params.theme_score_floor_factor / k
    bw_iters = params.bw_max_iterations
    pi_thr = params.bw_pi_threshold
    a_thr = params.bw_a_threshold
    min_tokens = params.min_doc_tokens

    def close_window(window_start, chunk, doc_ids, sources, event_ms,
                     doc_lens, flat):
        """Run the shared fused per-window kernel on the buffered docs.

        The payload is ``hmm.detect_window_events`` — the SAME function
        the fused batch plan runs, which is what makes streaming output
        rows identical to the batch pipeline. With ``state_chunks > 1``
        the emitted theme_id is namespaced as ``chunk * num_themes +
        em_theme_id`` so (window, source, theme_id) stays a unique
        exactly-once sink key across chunks (chunk EMs are independent,
        like M4's per-chunk runs)."""
        ids, p_all = bcast.value
        offs = np.concatenate([[0], np.cumsum(doc_lens)])
        toks = [flat[offs[i]:offs[i + 1]] for i in range(len(doc_ids))]
        seq_pdf = pd.DataFrame({
            "source": sources, "doc_id": doc_ids,
            "event_time": np.asarray(event_ms, dtype=np.int64),
            "tokens": toks,
        })
        return detect_window_events(
            window_start, seq_pdf, ids, p_all, k=k,
            em_iterations=em_iters, lambda_b=lambda_b,
            score_floor=score_floor, max_iterations=bw_iters,
            pi_threshold=pi_thr, a_threshold=a_thr,
            theme_id_offset=chunk * k, runs=runs)

    return _windowed_state_stream(
        stream, params, close_window, EVENT_SCHEMA,
        ["window_start", "source", "theme_id", "strength"],
        min_tokens=min_tokens, max_docs_in_state=max_docs_in_state,
        state_chunks=state_chunks, dropped_acc=dropped_acc)


# Session state uses the same binary packing as STATE_SCHEMA (one
# blob per numeric column instead of millions of boxed array elements).
SESSION_STATE_SCHEMA = StructType([
    StructField("doc_ids", ArrayType(StringType())),
    StructField("event_ms", BinaryType()),     # int64, one per doc
    StructField("doc_lens", BinaryType()),     # int32, one per doc
    StructField("flat_tokens", BinaryType()),  # int32 token stream
    StructField("session_start_ms", LongType()),
    StructField("session_end_ms", LongType()),
])

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
    ``applyInPandasWithState``, so the gap-merge logic lives in state
    (SURVEY.md §7.3 hard-part 5): keyed by source, the state holds the
    current open session; a doc within ``session_gap`` of the session
    end extends it, a later doc closes it (emit + start new), and the
    event-time timeout closes it when the watermark passes
    session_end + gap — matching ``session_window(ts, gap)`` semantics.

    Out-of-session-order arrivals *within* the watermark are merged by
    event time; rows beyond the watermark were already dropped upstream.
    """
    bcast = _broadcast_background(stream, background_pdf)
    dropped_acc = stream.sparkSession.sparkContext.accumulator(0)

    gap_ms = _interval_ms(params.session_gap)
    k = params.num_themes
    em_iters = params.em_iterations
    lambda_b = params.lambda_background
    runs = params.em_runs
    score_floor = params.theme_score_floor_factor / k
    bw_iters = params.bw_max_iterations
    pi_thr = params.bw_pi_threshold
    a_thr = params.bw_a_threshold
    min_tokens = params.min_doc_tokens

    def close_session(source, doc_ids, event_ms, doc_lens, flat,
                      start_ms, end_ms):
        """The windowed detector's payload (``detect_window_events``)
        over one closed session, seeded by the session start."""
        ids, p_all = bcast.value
        offs = np.concatenate([[0], np.cumsum(doc_lens)])
        toks = [flat[offs[i]:offs[i + 1]] for i in range(len(doc_ids))]
        seq_pdf = pd.DataFrame({
            "source": [source] * len(doc_ids), "doc_id": doc_ids,
            "event_time": np.asarray(event_ms, dtype=np.int64),
            "tokens": toks})
        session_end = pd.Timestamp(end_ms + gap_ms, unit="ms")
        rows = detect_window_events(
            pd.Timestamp(start_ms, unit="ms"), seq_pdf, ids, p_all, k=k,
            em_iterations=em_iters, lambda_b=lambda_b,
            score_floor=score_floor, max_iterations=bw_iters,
            pi_threshold=pi_thr, a_threshold=a_thr, runs=runs)
        return [(start, session_end, src, tid, n)
                for start, src, tid, n in rows]

    def fn(key, pdf_iter, state: GroupState):
        (source,) = key
        rows_out = []
        new = []
        for pdf in pdf_iter:
            pdf = pdf[pdf["n_tok"] >= min_tokens]
            for doc_id, ets, toks in zip(
                    pdf["doc_id"], pdf["event_time"], pdf["tokens"]):
                new.append((int(pd.Timestamp(ets).value // 1_000_000),
                            doc_id, np.asarray(toks, dtype=np.int32)))
        new.sort(key=lambda r: (r[0], r[1]))

        if state.hasTimedOut:
            if state.exists:
                doc_ids, event_ms, doc_lens, flat, s_ms, e_ms = state.get
                rows_out += close_session(
                    source, list(doc_ids),
                    np.frombuffer(event_ms, dtype=np.int64),
                    np.frombuffer(doc_lens, dtype=np.int32),
                    np.frombuffer(flat, dtype=np.int32), s_ms, e_ms)
                state.remove()
            if rows_out:
                yield pd.DataFrame(rows_out, columns=[
                    "session_start", "session_end", "source",
                    "theme_id", "strength"])
            return

        if state.exists:
            doc_ids, event_ms, doc_lens, flat, s_ms, e_ms = state.get
            doc_ids = list(doc_ids)
            event_ms = np.frombuffer(event_ms, dtype=np.int64).tolist()
            doc_lens = np.frombuffer(doc_lens, dtype=np.int32).tolist()
            flat_parts = [np.frombuffer(flat, dtype=np.int32)]
        else:
            doc_ids, event_ms, doc_lens = [], [], []
            flat_parts = []
            s_ms = e_ms = None

        def session_arrays():
            return (np.asarray(event_ms, dtype=np.int64),
                    np.asarray(doc_lens, dtype=np.int32),
                    np.concatenate(flat_parts) if flat_parts
                    else np.empty(0, np.int32))

        for ts_ms, doc_id, toks in new:
            if s_ms is not None and ts_ms - e_ms > gap_ms:
                # gap exceeded -> close current session, start fresh
                ms_arr, len_arr, flat_arr = session_arrays()
                rows_out += close_session(
                    source, doc_ids, ms_arr, len_arr, flat_arr, s_ms, e_ms)
                doc_ids, event_ms, doc_lens = [], [], []
                flat_parts = []
                s_ms = None
            if s_ms is None:
                s_ms = ts_ms
                e_ms = ts_ms
            e_ms = max(e_ms, ts_ms)
            if len(doc_ids) < max_docs_in_state:
                doc_ids.append(doc_id)
                event_ms.append(ts_ms)
                doc_lens.append(int(toks.size))
                flat_parts.append(toks)
            else:
                dropped_acc.add(1)  # bounded state — accounted drop

        if s_ms is not None:
            ms_arr, len_arr, flat_arr = session_arrays()
            state.update((doc_ids, ms_arr.tobytes(), len_arr.tobytes(),
                          flat_arr.tobytes(), int(s_ms), int(e_ms)))
            state.setTimeoutTimestamp(
                max(int(e_ms + gap_ms), state.getCurrentWatermarkMs() + 1))
        if rows_out:
            yield pd.DataFrame(rows_out, columns=[
                "session_start", "session_end", "source",
                "theme_id", "strength"])

    filtered = stream.withWatermark("event_time", params.watermark_delay)
    out = filtered.groupBy("source").applyInPandasWithState(
        fn,
        outputStructType=SESSION_EVENT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out.dropped_docs_acc = dropped_acc
    return out


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


def _interval_ms(spec: str) -> int:
    qty, unit = spec.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    return int(qty) * mult * 1000


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
