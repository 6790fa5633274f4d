"""Batch composition of the full event-detection pipeline.

One declarative flow, equivalent to the reference's
``ThemesStrengthOverTime`` entry point (its lifecycle is traced in
SURVEY.md §3.2) but with zero mid-query driver collects:

    sequences -> quality filters -> (background model) -> window assign
              -> ONE per-window kernel: best-of-R EM themes -> theme
                 floor -> HMM train+decode -> event strength rows

The per-window kernel (``hmm.detect_window_events``) is the same
function the streaming engine runs when a window closes, so every
``em_runs`` value is one shuffle on window_start, in batch and in
streaming alike.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame

from ..operators import background as bg
from ..operators import em as em_ops
from ..operators import hmm as hmm_ops
from ..operators import windows as win
from ..params import DEFAULTS, Params
from ..util import persist_once


def _window_seconds(spec: str) -> int:
    qty, unit = spec.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    return int(qty) * mult


def detect_event_stream(
    sequences: DataFrame,
    params: Params = DEFAULTS,
    with_watermark_filter: bool = False,
    model=None,
) -> DataFrame:
    """sequences (input-hint shape) -> event rows
    (window_start, source, theme_id, strength).

    Without a precomputed ``model`` the filtered corpus has two
    consumers (the background model and the kernel shuffle), so it is
    persisted — otherwise the whole upstream scan/tokenize recomputes
    per consumer (the reference persists at the same point:
    InputParser.java:108). With a precomputed model the kernel is the
    only consumer and the persist (a serial stage barrier) is skipped.
    """
    seqs = win.filter_docs(sequences, min_tokens=params.min_doc_tokens)
    if with_watermark_filter:
        seqs = win.drop_late(seqs, watermark_delay=params.watermark_delay)
    # background model over the *unwindowed* corpus: overlapping windows
    # must not double-count words (ArticleProcessorTest semantics).
    # Collected ONCE (vocab-sized) and broadcast into the kernel.
    # Callers running many queries over one corpus pass a precomputed
    # `model` (the streaming engine's static side input works the same
    # way).
    if model is None:
        seqs = persist_once(seqs)
        model = bg.background_model(
            seqs, min_count=params.min_word_corpus_count)
    model = em_ops.collect_background(model)
    windowed = win.with_time_window(
        seqs, length=params.window_length, slide=params.window_slide)
    return hmm_ops.detect_events_pooled(
        windowed, model,
        k=params.num_themes,
        em_iterations=params.em_iterations,
        lambda_b=params.lambda_background,
        score_floor=params.theme_score_floor_factor / params.num_themes,
        max_iterations=params.bw_max_iterations,
        pi_threshold=params.bw_pi_threshold,
        a_threshold=params.bw_a_threshold,
        runs=params.em_runs,
    )


def evolution_graph(sequences: DataFrame, params: Params = DEFAULTS) -> DataFrame:
    """The evolution-graph query (reference EvolutionGraphTest §3.1):
    themes per window + KL-linked transitions."""
    from ..operators.transitions import theme_transitions

    seqs = win.filter_docs(
        sequences, min_tokens=params.min_doc_tokens)
    seqs = persist_once(seqs)
    model = em_ops.collect_background(
        bg.background_model(seqs, min_count=params.min_word_corpus_count))
    windowed = win.with_time_window(
        seqs, length=params.window_length, slide=params.window_slide)
    themes = em_ops.em_themes(
        windowed, model, k=params.num_themes,
        iterations=params.em_iterations,
        lambda_b=params.lambda_background,
        runs=params.em_runs)
    themes = em_ops.filter_themes(
        themes, params.num_themes, params.theme_score_floor_factor)
    # the transition self-join reads themes twice (both sides) — persist
    # so EM does not recompute per side
    themes = persist_once(themes)
    return theme_transitions(
        themes,
        window_length_seconds=_window_seconds(params.window_length),
        threshold=params.kl_threshold,
        divergence=params.divergence,
        eps=params.kl_epsilon,
        log_max=params.kl_log_max,
    )


def small_params(**overrides) -> Params:
    """Parameter preset sized for the sf0.001/sf0.01 test tables."""
    base = dict(
        min_doc_tokens=5, min_word_corpus_count=2, num_themes=3,
        em_iterations=10, em_runs=1, window_length="1 hour",
        bw_max_iterations=10,
    )
    base.update(overrides)
    return replace(DEFAULTS, **base)
