"""Per-window HMM life-cycle: assemble -> Baum-Welch -> Viterbi -> events.

The reference trains one HMM over the *whole corpus-wide* token sequence
with a driver-sequential blocked scan (``Hmm2.java:164-294, 643-1301``)
— a scalability cliff it mitigated with 64Ki-token blocks and per-
iteration driver collects. The rebuild bounds sequences per window
instead (SURVEY.md §7.3 hard-part 1): each (window) group holds all of
its sources' token streams, and ``detect_window_events`` runs the whole
window — best-of-R EM, theme floor, train, decode, strength count —
inside one ``applyInPandas`` task (or one streaming state timeout). No
driver round-trips, no cross-group shuffles beyond the one hash shuffle
on window_start.

Output is the detected-event rows of the north rule: per (window,
source, theme) strength counts (``LifeCycleAnalyserSpark.java:196-266``),
with the non-background filter (P8) applied in-kernel. The per-doc
surfaces (``decode_tokens``, ``doc_theme_counts``) decode against an
explicit theme table through a window-keyed cogroup instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocked_hmm import baum_welch_blocked, viterbi_blocked
from .em import _broadcast_background, em_window_best
from .kernels import baum_welch, hmm_assemble, viterbi

# Above this sequence length the memory-bounded two-level-scan kernels
# take over — the cost-based engine selection of the reference
# (Hmm2.java:315-319 switches on T*N^2; block sizes Parameters.java:61-62).
BLOCKED_KERNEL_THRESHOLD = 262_144

EVENTS_SCHEMA = (
    "window_start timestamp, source string, theme_id int, strength bigint"
)

DECODED_SCHEMA = (
    "window_start timestamp, source string, doc_id string, "
    "tokens array<int>, states array<int>"
)

DOC_COUNTS_SCHEMA = (
    "window_start timestamp, source string, doc_id string, "
    "event_time timestamp, theme_id int, strength bigint"
)


def _window_model(theme_pdf: pd.DataFrame, bg_ids: np.ndarray, bg_p: np.ndarray):
    """Build (pi, A, B, vocab) for one window from its theme rows.

    States = {0: background} ∪ themes (ordered by theme_id). The window
    vocabulary is the union of theme supports; background probs are
    aligned to it and renormalized (LifeCycleAnalyserSpark.java:66-126).
    """
    theme_pdf = theme_pdf.sort_values("theme_id")
    supports = [np.asarray(w, dtype=np.int64) for w in theme_pdf["word_ids"]]
    vocab = np.unique(np.concatenate(supports)) if supports else np.empty(0, np.int64)
    if vocab.size == 0:
        return None
    k = len(theme_pdf)
    themes = np.zeros((k, vocab.size))
    for j, (w, p) in enumerate(zip(theme_pdf["word_ids"], theme_pdf["probs"])):
        pos = np.searchsorted(vocab, np.asarray(w, dtype=np.int64))
        themes[j, pos] = np.asarray(p, dtype=np.float64)
    pos = np.searchsorted(bg_ids, vocab)
    pos = np.clip(pos, 0, len(bg_ids) - 1)
    p_bg = np.where(bg_ids[pos] == vocab, bg_p[pos], 0.0)
    if p_bg.sum() <= 0:
        p_bg = np.full(vocab.size, 1.0 / vocab.size)
    else:
        p_bg = p_bg / p_bg.sum()
    pi, a, b = hmm_assemble(p_bg, themes)
    theme_ids = theme_pdf["theme_id"].to_numpy()
    return pi, a, b, vocab, theme_ids


def _decode_window(seq_pdf: pd.DataFrame, theme_pdf: pd.DataFrame,
                   bg_ids, bg_p, max_iterations, pi_thr, a_thr):
    """Train + decode one window.

    Yields (source, doc_id, tokens, states, theme_ids) where ``states``
    holds HMM *state indices* (0 = background, j >= 1 = j-th surviving
    theme) and ``theme_ids`` maps state j to the original EM theme id
    ``theme_ids[j - 1]``. After ``filter_themes`` drops a theme the
    state indices are renumbered, so consumers MUST map through
    ``theme_ids`` before emitting a theme_id column.
    """
    model = _window_model(theme_pdf, bg_ids, bg_p)
    if model is None or seq_pdf.empty:
        return
    pi0, a0, b, vocab, theme_ids = model
    # deterministic total order (the reference's same-date order is
    # nondeterministic — we add doc_id as tiebreak, SURVEY §7.0)
    seq_pdf = seq_pdf.sort_values(["source", "event_time", "doc_id"])
    for src, sub in seq_pdf.groupby("source", sort=True):
        toks = [np.asarray(t, dtype=np.int64) for t in sub["tokens"]]
        lens = np.array([t.size for t in toks])
        flat = np.concatenate(toks) if toks else np.empty(0, np.int64)
        # map to window-vocab indices; OOV tokens decode as background
        pos = np.searchsorted(vocab, flat)
        pos = np.clip(pos, 0, max(vocab.size - 1, 0))
        in_vocab = vocab.size > 0
        known = in_vocab & (vocab[pos] == flat) if flat.size else np.zeros(0, bool)
        obs = np.where(known, pos, 0)  # index 0 reused; unknowns masked after
        if flat.size == 0:
            continue
        if obs.size > BLOCKED_KERNEL_THRESHOLD:
            pi, a, _, _ = baum_welch_blocked(
                obs, pi0, a0, b, max_iterations=max_iterations,
                pi_threshold=pi_thr, a_threshold=a_thr)
            states = viterbi_blocked(obs, pi, a, b).astype(np.int32)
        else:
            pi, a, _, _ = baum_welch(
                obs, pi0, a0, b, max_iterations=max_iterations,
                pi_threshold=pi_thr, a_threshold=a_thr)
            states = viterbi(obs, pi, a, b).astype(np.int32)
        states[~known] = 0  # unknown words are background (P8 treats 0 as bg)
        offs = np.concatenate([[0], np.cumsum(lens)])
        for i, (doc_id, t) in enumerate(zip(sub["doc_id"], toks)):
            yield (src, doc_id, t.astype(np.int32),
                   states[offs[i]:offs[i + 1]], theme_ids)


def detect_window_events(
    window_start,
    seq_pdf: pd.DataFrame,
    bg_ids: np.ndarray,
    bg_p: np.ndarray,
    *,
    k: int,
    em_iterations: int,
    lambda_b: float,
    score_floor: float,
    max_iterations: int,
    pi_threshold: float,
    a_threshold: float,
    theme_id_offset: int = 0,
    runs: int = 1,
) -> list:
    """Best-of-``runs`` EM -> theme floor -> HMM train/decode ->
    per-source strength rows for ONE window, fused in a single kernel
    call.

    This is THE shared close-window payload: the batch plan
    (``detect_events_pooled``) and the streaming engine's window and
    session timeouts all call it, so batch/stream output parity rides
    on one code path. Seeds come from the window's epoch nanos via
    ``em_window_best``; rows are (window_start, source, theme_id,
    strength) with ``theme_id_offset`` namespacing for chunked
    streaming state (M4 semantics).
    """
    themes = em_window_best(
        pd.Timestamp(window_start), seq_pdf[["doc_id", "tokens"]],
        bg_ids, bg_p, k, runs=runs,
        iterations=em_iterations, lambda_b=lambda_b)
    themes = themes[themes["score"] > score_floor]
    by_src: dict[str, list] = {}
    theme_ids = None
    for src, _doc, _toks, states, tids in _decode_window(
            seq_pdf, themes, bg_ids, bg_p,
            max_iterations, pi_threshold, a_threshold):
        by_src.setdefault(src, []).append(states)
        theme_ids = tids
    rows = []
    for src in sorted(by_src):
        cnt = np.bincount(np.concatenate(by_src[src]))
        for s in range(1, cnt.size):   # P8: state 0 is background
            if cnt[s] > 0:
                # state index -> surviving theme's real EM id
                rows.append((window_start, src,
                             theme_id_offset + int(theme_ids[s - 1]),
                             int(cnt[s])))
    return rows


def detect_events_pooled(
    windowed: DataFrame,
    background,
    *,
    k: int,
    em_iterations: int = 25,
    lambda_b: float = 0.95,
    score_floor: float = 0.0,
    max_iterations: int = 50,
    pi_threshold: float = 0.01,
    a_threshold: float = 0.01,
    runs: int = 1,
) -> DataFrame:
    """The flagship event rows (window_start, source, theme_id, strength)
    in one shuffle: best-of-``runs`` EM + theme floor + HMM train/decode
    + strength count run in ONE ``applyInPandas`` task per window, one
    hash shuffle on window_start total, exactly like the streaming
    state kernel (which shares the same ``detect_window_events``
    payload).

    strength = count of tokens Viterbi-decoded to that (non-background)
    theme in the window — aggregated *inside* the kernel (np.bincount),
    so the UDF emits k rows per (window, source), not per token.
    """
    bcast = _broadcast_background(windowed, background)

    def run(key, pdf):
        window_start = key[0]
        bg_ids, bg_p = bcast.value
        rows = detect_window_events(
            window_start, pdf, bg_ids, bg_p, k=k,
            em_iterations=em_iterations, lambda_b=lambda_b,
            score_floor=score_floor, max_iterations=max_iterations,
            pi_threshold=pi_threshold, a_threshold=a_threshold,
            runs=runs)
        return pd.DataFrame(rows, columns=[
            "window_start", "source", "theme_id", "strength"])

    from ..util import pin_partitions
    return (pin_partitions(
                windowed.select("window_start", "source", "doc_id",
                                "event_time", "tokens"),
                "window_start")
            .groupBy("window_start")
            .applyInPandas(run, EVENTS_SCHEMA))


def _cogrouped(sequences: DataFrame, themes: DataFrame, fn, schema):
    """Window-keyed cogrouped decode shuffle: one task per window, all
    sources decode sequentially inside the kernel. Both sides are
    pinned (AQE byte-coalescing would serialize the CPU-bound decode
    stage onto one task — util.py)."""
    from ..util import pin_partitions

    seq_cols = sequences.select(
        "window_start", "source", "doc_id", "event_time", "tokens")
    theme_cols = themes.select(
        "window_start", "theme_id", "word_ids", "probs")
    return pin_partitions(seq_cols, "window_start").groupBy(
        "window_start").cogroup(
        pin_partitions(theme_cols, "window_start")
        .groupBy("window_start")).applyInPandas(fn, schema)


def decode_tokens(
    sequences: DataFrame,
    themes: DataFrame,
    background: DataFrame,
    max_iterations: int = 50,
    pi_threshold: float = 0.01,
    a_threshold: float = 0.01,
) -> DataFrame:
    """Per-doc decoded state arrays (test/inspection surface; also proves
    the token-array byte-equality invariant: `tokens` passes through)."""
    bcast = _broadcast_background(sequences, background)

    def run(key, seq_pdf, theme_pdf):
        window_start = key[0]
        bg_ids, bg_p = bcast.value
        rows = [
            (window_start, src, doc, toks, states)
            for src, doc, toks, states, _tids in _decode_window(
                seq_pdf, theme_pdf, bg_ids, bg_p,
                max_iterations, pi_threshold, a_threshold)
        ]
        return pd.DataFrame(rows, columns=[
            "window_start", "source", "doc_id", "tokens", "states"])

    return _cogrouped(sequences, themes, run, DECODED_SCHEMA)


def doc_theme_counts(
    sequences: DataFrame,
    themes: DataFrame,
    background: DataFrame,
    max_iterations: int = 50,
    pi_threshold: float = 0.01,
    a_threshold: float = 0.01,
) -> DataFrame:
    """Per-document theme strength counts WITH the doc's event time —
    the finest-grained strength table, from which the reference's
    absoluteStrength time slices (LifeCycleAnalyserSpark.java:327-410)
    and per-timestamp strength series (:196-229) are plain relational
    compositions (``theme_strength`` / ``strength_series`` below).
    Summed per (window, source, theme) it gives the event-strength rows
    decoded from ``themes``; the per-doc
    bincount keeps the UDF output at O(docs x themes), never per token.
    """
    bcast = _broadcast_background(sequences, background)

    def run(key, seq_pdf, theme_pdf):
        window_start = key[0]
        bg_ids, bg_p = bcast.value
        ets = dict(zip(seq_pdf["doc_id"], seq_pdf["event_time"]))
        out = []
        for src, doc_id, _toks, states, theme_ids in _decode_window(
                seq_pdf, theme_pdf, bg_ids, bg_p,
                max_iterations, pi_threshold, a_threshold):
            cnt = np.bincount(states)
            for s in range(1, cnt.size):
                if cnt[s] > 0:
                    out.append((window_start, src, doc_id, ets[doc_id],
                                int(theme_ids[s - 1]), int(cnt[s])))
        return pd.DataFrame(out, columns=[
            "window_start", "source", "doc_id", "event_time",
            "theme_id", "strength"])

    return _cogrouped(sequences, themes, run, DOC_COUNTS_SCHEMA)


def theme_strength(
    doc_counts: DataFrame,
    theme_id: int,
    start,
    length: str,
) -> DataFrame:
    """absoluteStrength over an arbitrary [start, start + length) slice
    (P9 + P10 + A8; LifeCycleAnalyserSpark.java:327-410): total decoded
    token count of ``theme_id`` among docs whose event time falls in
    the slice, per source. The slice predicate is a pure Column filter,
    so Catalyst pushes it below the aggregate."""
    end = F.lit(start).cast("timestamp") + F.expr(f"INTERVAL {length}")
    return (
        doc_counts
        .filter((F.col("theme_id") == theme_id)
                & (F.col("event_time") >= F.lit(start).cast("timestamp"))
                & (F.col("event_time") < end))
        .groupBy("source")
        .agg(F.sum("strength").alias("strength"))
    )


def strength_series(doc_counts: DataFrame, bucket: str = "hour") -> DataFrame:
    """Per-timestamp-bucket strength series per (theme, source) — the
    finer-than-window granularity of LifeCycleAnalyserSpark.java:196-229
    (the reference emits per-article-date strengths; buckets generalize
    that)."""
    return (
        doc_counts
        .groupBy(F.date_trunc(bucket, F.col("event_time")).alias("bucket"),
                 "source", "theme_id")
        .agg(F.sum("strength").alias("strength"))
    )
