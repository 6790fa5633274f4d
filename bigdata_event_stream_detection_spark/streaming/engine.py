"""Structured Streaming shell of the event-detection engine.

The batch pipeline (plans/pipeline.py) is a pure DataFrame->DataFrame
composition; this module runs the same operators continuously:

    readStream(sequences) -> state key -> withWatermark
      -> grouped pandas state per key: buffer docs, close a window or
         session once the key's close threshold passes its end, emit
         its docs as one packed row
      -> hash shuffle by closed group -> EM theme extraction + HMM
         train/decode in one numpy kernel, emit the detected-event
         strength rows
      -> (optionally) stream-stream join correlating events across
         sources inside the same window
      -> exactly-once file sink + checkpoint

Every detector rides ONE doc buffer, ``_windowed_state_stream`` (a
step of ``state._state_stream``), and ONE kernel call,
``_window_kernel``; a detector only picks its state key and close
rule. Both rules close against one threshold per key and call:
max(watermark, the key's latest buffered event time − watermark
delay). ``_tumbling`` keys by (window index mod
``WINDOW_BUCKETS``, chunk) and closes each buffered window whose end
is behind the threshold (the window detector and
``streaming/evolution.streaming_window_themes``); the session detector
keys by source and closes each gap-separated session whose last doc +
gap is behind it.

Reference mapping: the reference is pure batch (SURVEY.md §1.4); the
windowing duplication of ``EmInputFromParser.java:67-95`` becomes
``window()``, its out-of-period scan filter (``RawArticleInputStream.
java:141-142``) becomes the watermark, and the whole EM/HMM payload
(``EmAlgo.java``, ``Hmm2.java``, ``LifeCycleAnalyserSpark.java``) runs
on the windows grouped state closes, instead of driver-mediated block
scans.

Scale notes (the part that must survive 1000 executors):
* Two wide exchanges: the hash shuffle on the state key — (window
  bucket, chunk) for the tumbling detector, (source,) for sessions —
  before the stateful operator, and a hash shuffle of the closed
  groups (one packed row each) after it. The kernel runs after the
  second, so its parallelism is the number of windows (or sessions)
  closing in the batch, not the number of state keys. A hot window
  (an event burst) fans out over ``state_chunks`` deterministic
  doc-hash sub-keys, trading exact window pooling for the reference's
  own split-large-window (M4) semantics — N kernel tasks per window
  instead of one.
* At most ``WINDOW_BUCKETS`` (B = 8) × ``state_chunks`` tumbling keys
  exist at once, each holding its bucket's open windows (windows B
  apart). The bucket key's own latest event time − delay is a lower
  bound of the watermark Spark applies in the next batch, so a window
  closes in the micro-batch that carries its closing data instead of
  one trigger later, and every doc the next watermark accepts still
  finds its window open. This needs a later window of the same bucket
  in the batch, that is more than B windows per batch; otherwise the
  window closes when the watermark passes it, as before. The one-batch
  grace that Spark's previous-watermark late filter gave a
  still-buffered window is gone for a window closed this way: its late
  doc is dropped and counted. The price: a bucket key rewrites the
  docs of all its open windows whenever one of them gets docs, so
  state I/O per batch grows with the open windows per bucket (a delay
  many windows long).
* State is bounded: at most ``max_docs_in_state`` docs per window (per
  source for sessions), the first arrived kept; overflow and late
  drops are COUNTED into the ``dropped_docs_acc`` accumulator on the
  returned DataFrame, never silent.
* The background model is a small static side input (vocab-sized),
  broadcast once — never a per-batch join.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from ..operators.em import _broadcast_background, em_window_best
from ..operators.hmm import detect_window_events
from ..params import DEFAULTS, Params
from ..plans.pipeline import _window_seconds
from .state import _state_stream

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

# Windows per tumbling/sliding doc-buffer key: the buffer is keyed by
# (window index mod WINDOW_BUCKETS, chunk), so one key holds windows
# WINDOW_BUCKETS apart and sees its later windows' event time, which is
# what lets a window close in the micro-batch that carries its closing
# data instead of one trigger later (``_windowed_state_stream``).
WINDOW_BUCKETS = 8

# Buffered state per key: per-doc metadata + ONE flattened token stream
# with per-doc lengths. Numeric columns are BINARY-packed raw little-
# endian buffers (`ndarray.tobytes()` <-> `np.frombuffer`), NOT
# ArrayType: a window's multi-million-token stream round-trips the
# state store as one memcpy'd blob instead of millions of boxed
# elements on both the Python side (tolist()) and the JVM side
# (UnsafeArrayData) — this is the difference between a state commit
# that is bandwidth-priced and one that is object-churn-priced.
# Sources are dictionary-encoded (small vocab + int32 code per doc).
# Event times are epoch microseconds, Spark's own timestamp precision,
# so docs under a millisecond apart keep the batch plan's order.
STATE_SCHEMA = StructType([
    StructField("doc_ids", ArrayType(StringType())),
    StructField("src_vocab", ArrayType(StringType())),
    StructField("src_codes", BinaryType()),    # int32, one per doc
    StructField("event_us", BinaryType()),     # int64, one per doc
    StructField("window_us", BinaryType()),    # int64 window start, 0 if none
    StructField("doc_lens", BinaryType()),     # int32, one per doc
    StructField("flat_tokens", BinaryType()),  # int32 token stream
])
_BUF_DTYPES = (np.int32, np.int64, np.int64, np.int32, np.int32)


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
# stateful EM + HMM detection (grouped state)
# ---------------------------------------------------------------------------

def _windowed_state_stream(
    keyed: DataFrame,
    keys: list[str],
    rule,
    close,
    out_schema: StructType,
    *,
    watermark_delay: str,
    min_tokens: int,
    max_docs_in_state: int,
) -> DataFrame:
    """The one doc buffer of every detector, a step of the grouped-state
    driver (``state._state_stream``): per state key, binary-packed doc
    buffering across micro-batches and bounded state with counted drops.

    The buffer applies the watermark (``watermark_delay`` on
    ``event_time``) itself, so the delay Spark filters with and the
    delay of the close threshold are one value.
    ``rule(event_us, window_us, doc_ids, n_old, wm_ms, close_ms) ->
    (closed, kept, fire_us)`` decides over the buffer, whose first
    ``n_old`` docs were buffered before this call: ``closed`` lists the
    index arrays of the groups to close now, ``kept`` the docs to keep
    buffered, ``fire_us`` when to wake next. Docs in neither are late.
    A group closes once its end is behind ``close_ms``, the key's own
    close threshold: max(watermark, max buffered event time − delay).
    The watermark Spark applies in the next batch is at least that, so
    every doc it still accepts lies past a closed group's end. Event
    times reach pandas as session-local wall-clock µs and the watermark
    is UTC epoch ms, so the two compare only under a UTC session time
    zone (``session.get_spark`` sets it). Each closed group and the
    kept docs hold at most ``max_docs_in_state`` docs per window (the
    first in rule order); late docs and the cap overflow count on
    ``dropped_docs_acc``.

    The state stage emits each closed group as one packed row; a
    second stage, hashed by group, runs ``close(key, window_start,
    seq_pdf) -> rows`` on it (``_doc_frame`` columns; ``window_start``
    is the group's first doc's window). The kernel's parallelism is
    thus the number of groups closing, not the number of state keys."""
    delay_ms = pd.Timedelta(watermark_delay) // pd.Timedelta(milliseconds=1)
    closed_schema = StructType([keyed.schema[k] for k in keys]
                               + STATE_SCHEMA.fields)

    def step(key, old, pdfs, wm_ms):
        vocab, buf = (_unpack(*old) if old is not None else
                      ([], ([], *(np.empty(0, t) for t in _BUF_DTYPES))))
        n_old = len(buf[0])
        buf = _append_docs(buf, vocab, pdfs, min_tokens)
        n = len(buf[0])
        if not n:
            return [], None, None, 0
        doc_ids, _, event_us, window_us = buf[:4]
        close_ms = max(wm_ms, int(event_us.max()) // 1000 - delay_ms)
        closed, kept, fire_us = rule(event_us, window_us, doc_ids, n_old,
                                     wm_ms, close_ms)
        closed = [c for c in (_cap(c, window_us, max_docs_in_state)
                              for c in closed) if c.size]
        kept = _cap(kept, window_us, max_docs_in_state)
        lost = n - kept.size - sum(c.size for c in closed)
        rows = [(*key, *_pack(vocab, _take(buf, idx))) for idx in closed]
        if not kept.size:
            return rows, None, None, lost
        return rows, _pack(vocab, _take(buf, kept)), -(-fire_us // 1000), lost

    def run_close(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples(index=False):
                vocab, buf = _unpack(*r[len(keys):])
                rows += close(tuple(r[:len(keys)]),
                              pd.Timestamp(int(buf[3][0]), unit="us"),
                              _doc_frame(vocab, *buf))
            if rows:
                yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    groups, dropped_acc = _state_stream(
        keyed.withWatermark("event_time", watermark_delay), keys, step,
        STATE_SCHEMA, closed_schema)
    # a group's first doc id names it: hashing by it spreads the closed
    # windows (and chunks) of one bucket key over all partitions. The
    # column is computed, not a bare reference, because the projection
    # that computes it also turns the state operator's columnar rows
    # into the unsafe rows the shuffle writer requires.
    out = (groups.withColumn("_group", F.col("doc_ids")[0])
           .repartition("_group").drop("_group")
           .mapInPandas(run_close, out_schema))
    out.dropped_docs_acc = dropped_acc
    return out


def _pack(vocab: list, buf) -> tuple:
    """A buffer as a ``STATE_SCHEMA`` row."""
    doc_ids, *arrays = buf
    return (doc_ids, vocab, *(a.tobytes() for a in arrays))


def _unpack(doc_ids, vocab, *packed):
    """A ``STATE_SCHEMA`` row as (vocab, buffer)."""
    return list(vocab), (list(doc_ids), *(
        np.frombuffer(b, dtype=t) for b, t in zip(packed, _BUF_DTYPES)))


def _cap(idx: np.ndarray, window_us: np.ndarray, limit: int) -> np.ndarray:
    """The first ``limit`` docs of ``idx`` per window, in ``idx`` order."""
    if idx.size <= limit:
        return idx
    w = pd.Series(window_us[idx])
    return idx[w.groupby(w).cumcount().to_numpy() < limit]


def _append_docs(buf, vocab: list, pdf_iter, min_tokens: int):
    """Append one micro-batch to a buffer, vectorized: no per-row Python
    in the hot path (timestamps and lengths stay numpy end to end). A
    ``_window_start`` column, if the stream has one, is each row's window
    start, converted like ``event_time`` so the two compare."""
    doc_ids, codes, event_us, window_us, lens, flat = buf
    new_ids: list[str] = []
    new_src: list[str] = []
    us_parts, win_parts = [event_us], [window_us]
    len_parts, flat_parts = [lens], [flat]
    for pdf in pdf_iter:
        pdf = pdf[pdf["n_tok"] >= min_tokens]
        if not len(pdf):
            continue
        new_ids.extend(pdf["doc_id"].tolist())
        new_src.extend(pdf["source"].tolist())
        us_parts.append(pdf["event_time"].to_numpy("datetime64[us]")
                        .astype(np.int64))
        win_parts.append(pdf["_window_start"].to_numpy("datetime64[us]")
                         .astype(np.int64)
                         if "_window_start" in pdf
                         else np.zeros(len(pdf), np.int64))
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
            np.concatenate(us_parts), np.concatenate(win_parts),
            np.concatenate(len_parts), np.concatenate(flat_parts))


def _take(buf, idx: np.ndarray):
    """Docs ``idx`` of a buffer (doc_ids, codes, event_us, window_us,
    lens, flat): the buffer itself when ``idx`` is all of it in order,
    else one vectorized token gather."""
    doc_ids, codes, event_us, window_us, lens, flat = buf
    if idx.size == len(doc_ids) and np.array_equal(idx, np.arange(idx.size)):
        return buf
    offs = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    sel = lens[idx]
    out_offs = np.concatenate([[0], np.cumsum(sel, dtype=np.int64)[:-1]])
    pos = np.repeat(offs[idx] - out_offs, sel) + np.arange(sel.sum())
    return ([doc_ids[i] for i in idx], codes[idx], event_us[idx],
            window_us[idx], sel, flat[pos])


def _doc_frame(vocab, doc_ids, codes, event_us, _window_us, lens,
               flat) -> pd.DataFrame:
    """A buffer as the kernel's input frame (source, doc_id, event_time
    in epoch µs, tokens)."""
    offs = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    return pd.DataFrame({
        "source": np.asarray(vocab, dtype=object)[codes],
        "doc_id": doc_ids, "event_time": event_us,
        "tokens": [flat[offs[i]:offs[i + 1]] for i in range(len(doc_ids))],
    })


def _tumbling(stream: DataFrame, params: Params, state_chunks: int = 1):
    """Window keying and close rule for the doc buffer: state key (window
    index mod ``WINDOW_BUCKETS``, chunk), each row carrying its window
    start (a sliding window's rows are not derivable from the event
    time). A buffered window closes once its end is behind the key's
    close threshold. A new doc whose window is not buffered in the key
    and already ended at the watermark is late data (file sources can
    deliver batches out of event-time order; a window may have closed
    early): it is dropped, never resurrecting a closed window
    (append-mode exactly-once)."""
    length_us = _window_seconds(params.window_length) * 1_000_000
    step_us = (_window_seconds(params.window_slide) * 1_000_000
               if params.window_slide else length_us)
    keyed = (
        stream.withColumn("_w", F.window("event_time", params.window_length,
                                         params.window_slide)
                          if params.window_slide
                          else F.window("event_time", params.window_length))
        .select(F.expr(f"pmod(unix_micros(_w.start) div {step_us}, "
                       f"{WINDOW_BUCKETS})").cast("int").alias("_bucket"),
                # deterministic doc-hash chunk: replay/retry-stable
                F.pmod(F.xxhash64("doc_id"), F.lit(state_chunks))
                .cast("int").alias("_chunk"),
                F.col("_w.start").alias("_window_start"),
                "source", "doc_id", "n_tok", "tokens", "event_time")
    )

    def rule(event_us, window_us, doc_ids, n_old, wm_ms, close_ms):
        end_us = window_us + length_us
        late = ((np.arange(event_us.size) >= n_old)
                & ~np.isin(window_us, window_us[:n_old])
                & (end_us <= wm_ms * 1000))
        live = np.flatnonzero(~late)
        done = end_us[live] < close_ms * 1000
        closed = [live[done & (window_us[live] == w)]
                  for w in np.unique(window_us[live[done]])]
        kept = live[~done]
        return closed, kept, int(end_us[kept].min()) if kept.size else None

    return keyed, ["_bucket", "_chunk"], rule


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

    Each window's docs are buffered across micro-batches under its
    bucket key (window index mod ``WINDOW_BUCKETS``, chunk); once the
    key's close threshold — max(watermark, the key's latest event time
    − watermark delay) — passes the window end, the full EM -> theme
    filter -> HMM assemble/train -> Viterbi -> strength-count kernel
    runs on the buffered window. The kernel IS the batch code
    (``operators.hmm.detect_window_events``, best of ``params.em_runs``
    EM fits) — same seeds, same doc order — so the emitted rows are
    identical to the batch pipeline for the same input and watermark
    (the north-rule invariant).

    ``state_chunks=1`` (default) buffers each window whole: EM pools
    all sources per window, exactly like the reference's TimePartition,
    and parallelism comes from the many windows closing in a batch (the
    kernel runs in a stage hashed by closed window, after the state
    stage). A HOT window (an event burst — the case this engine exists
    for) is then one kernel task, so ``state_chunks=N`` fans the window
    out over N deterministic doc-hash chunks — each chunk buffers,
    trains, and decodes independently, which is exactly the reference's
    split-large-window semantics (M4,
    ``ThemeFromLargeTimePeriod.java:50-98``) applied to state: N tasks
    per window, state per window and chunk bounded by window_size/N. Chunking
    changes which docs pool together (as M4 does in batch), so the
    byte-parity invariant vs the batch pipeline holds for
    ``state_chunks=1``; for N>1 the invariant is vs the chunked batch
    plan, and the emitted theme_id is namespaced as ``chunk *
    num_themes + em_theme_id`` so (window, source, theme_id) stays a
    unique exactly-once sink key across chunks.

    Docs beyond ``max_docs_in_state`` per window and chunk are dropped
    (the reference's per-window doc cap, first arrived kept) — COUNTED,
    never silent: the returned DataFrame carries a ``dropped_docs_acc``
    attribute (a SparkContext accumulator) that sinks/monitoring should
    report.

    Output mode is append: rows are emitted exactly once per closed
    window, keyed (window_start, source, theme_id) — the sink's
    idempotency key.
    """
    kernel = _window_kernel(stream, background_pdf, params)
    k = params.num_themes

    def close(key, window_start, seq_pdf):
        return kernel(window_start, seq_pdf, theme_id_offset=int(key[1]) * k)

    return _windowed_state_stream(
        *_tumbling(stream, params, state_chunks), close, EVENT_SCHEMA,
        watermark_delay=params.watermark_delay,
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
    closes once its last doc + gap is strictly behind the close
    threshold, max(watermark, the source's latest event time − watermark
    delay), and emits (session_start, last doc + gap, source, theme_id,
    strength), to the microsecond, from the detector's kernel, seeded
    by the session start; later
    sessions stay buffered, so a doc that arrives out of order still
    joins the session its event time belongs to. A doc that arrives
    with its event time already behind the watermark is late, as for
    ``session_window``: dropped and counted on ``dropped_docs_acc``,
    like docs past ``max_docs_in_state`` per source.
    """
    kernel = _window_kernel(stream, background_pdf, params)
    gap_us = _window_seconds(params.session_gap) * 1_000_000
    keyed = stream.select("source", "doc_id", "n_tok", "tokens", "event_time")

    def rule(event_us, _window_us, doc_ids, n_old, wm_ms, close_ms):
        live = np.flatnonzero((event_us >= wm_ms * 1000)
                              | (np.arange(event_us.size) < n_old))
        order = live[np.lexsort((np.asarray(doc_ids, dtype=str)[live],
                                 event_us[live]))]
        if not order.size:
            return [], order, None
        sessions = np.split(
            order, np.flatnonzero(np.diff(event_us[order]) > gap_us) + 1)
        ends = [int(event_us[s[-1]]) + gap_us for s in sessions]
        n_closed = sum(e < close_ms * 1000 for e in ends)
        if n_closed == len(ends):
            return sessions[:n_closed], order[:0], None
        return (sessions[:n_closed], np.concatenate(sessions[n_closed:]),
                ends[n_closed])

    def close(key, _window_start, seq_pdf):
        us = seq_pdf["event_time"]
        end = pd.Timestamp(int(us.max()) + gap_us, unit="us")
        return [(start, end, src, tid, n) for start, src, tid, n in kernel(
            pd.Timestamp(int(us.min()), unit="us"), seq_pdf)]

    return _windowed_state_stream(
        keyed, ["source"], rule, close, SESSION_EVENT_SCHEMA,
        watermark_delay=params.watermark_delay,
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

def _event_sides(events: DataFrame, join_watermark: str,
                 min_strength: int) -> list[DataFrame]:
    """Both sides of the cross-source self-join: the events of at least
    ``min_strength``, each side watermarked on ``window_start`` when the
    input streams, projected as (ws_l, source1, theme_l, strength1) and
    (ws_r, source2, theme_r, strength2)."""
    sides = []
    for s, n in (("l", 1), ("r", 2)):
        side = events.filter(F.col("strength") >= min_strength)
        if events.isStreaming:
            side = side.withWatermark("window_start", join_watermark)
        sides.append(side.select(
            F.col("window_start").alias(f"ws_{s}"),
            F.col("source").alias(f"source{n}"),
            F.col("theme_id").alias(f"theme_{s}"),
            F.col("strength").alias(f"strength{n}")))
    return sides


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
    left, right = _event_sides(events, join_watermark, min_strength)
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
    left, right = _event_sides(events, join_watermark, min_strength)
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
    (window_start, source, theme_id); a window emits once, in the batch
    that closes it, so a key appears in at most one batch.
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
