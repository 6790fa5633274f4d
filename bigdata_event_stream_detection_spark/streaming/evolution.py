"""Continuous theme-evolution graph: the streaming twin of the batch
``plans/pipeline.evolution_graph`` flagship (reference
EvolutionGraphTest §3.1 / KLDivergence.java:40-72).

Two stages:

1. ``streaming_window_themes`` — the SAME grouped-state machine as the
   event detector (`engine._windowed_state_stream`) with a different
   close payload: when the detector closes a window, run the batch
   best-of-R EM kernel (``em_window_best``, the one ``em_themes``
   runs), apply the score floor (``filter_themes``), then emit the
   surviving theme rows (window_start, theme_id, loglik, score,
   n_docs, word_ids, probs) — byte-identical to the batch pipeline's theme table at the
   ``theme_transitions`` input point, for the same input and watermark.

2. ``start_evolution_edge_sink`` — a ``foreachBatch`` correlator: each
   micro-batch's closed-window themes append (idempotently, keyed by
   batch_id partition) to a parquet theme store, and the oracle-proven
   BATCH operator ``transitions.theme_transitions`` recomputes edges
   over store ∪ batch, emitting only edges with ≥1 endpoint in THIS
   batch. A window's themes emit in exactly one micro-batch (append
   mode), so every edge appears in exactly one batch partition — the
   earlier endpoint's batch cannot have emitted it (its partner was
   absent) and replay overwrites the same partition deterministically
   (the streaming/dedup.py exactly-once pattern).

   Cross-window theme correlation is not expressible as a second
   applyInPandasWithState in the same query (Spark disallows chained
   flatMapGroupsWithState-family operators), and a stream-stream
   self-join cannot see a stateful operator's own output — foreachBatch
   over a keyed store is the supported composition, and this module
   documents it as such rather than faking an in-stream variant.

Scale notes: state is the detector's (bounded, binary-packed); the
edge recompute joins the store's theme table (|windows| x k rows of
vocab-truncated thetas — tiny relative to the corpus) and the
new-endpoint filter keeps emitted work proportional to windows closed
this batch. At very long stream lifetimes, compact/expire the theme
store past ``max_gap_windows`` (old windows can never gain new edges).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
    TimestampType,
)

from ..operators.transitions import theme_transitions
from ..params import DEFAULTS, Params

THEMES_SCHEMA = StructType([
    StructField("window_start", TimestampType()),
    StructField("theme_id", IntegerType()),
    StructField("loglik", DoubleType()),
    StructField("score", DoubleType()),
    StructField("n_docs", LongType()),
    StructField("word_ids", ArrayType(LongType())),
    StructField("probs", ArrayType(DoubleType())),
])


def streaming_window_themes(
    stream: DataFrame,
    background_pdf: pd.DataFrame,
    params: Params = DEFAULTS,
    max_docs_in_state: int = 100_000,
) -> DataFrame:
    """Per-window filtered theme rows, emitted once when the window
    detector's close rule closes the window. State machine and
    buffering are shared with the event detector; only the close
    payload differs. Windows are buffered whole (no doc-hash
    chunking): chunked EM changes which docs pool together, and the
    evolution graph's KL edges are defined on whole-window themes."""
    from .engine import _tumbling, _window_kernel, _windowed_state_stream

    kernel = _window_kernel(stream, background_pdf, params)

    def close(key, window_start, seq_pdf):
        best = kernel(window_start, seq_pdf, decode=False)
        return [
            (window_start, int(r.theme_id), float(r.loglik),
             float(r.score), int(r.n_docs),
             [int(w) for w in r.word_ids], [float(p) for p in r.probs])
            for r in best.itertuples()
        ]

    return _windowed_state_stream(
        *_tumbling(stream, params), close, THEMES_SCHEMA,
        watermark_delay=params.watermark_delay,
        min_tokens=params.min_doc_tokens,
        max_docs_in_state=max_docs_in_state)


def evolution_edge_batch_writer(
    theme_store_dir: str,
    edges_dir: str,
    *,
    window_length_seconds: int,
    max_gap_windows: int = 1,
    threshold: float = 8.0,
    divergence: str = "kl",
    eps: float = 1e-12,
    log_max: float = 27.0,
):
    """foreachBatch function: persist this batch's closed-window themes
    (idempotent batch_id partition) and emit every evolution edge whose
    first-completed moment is this batch — exactly once across replays."""

    def process(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        batch_df.write.mode("overwrite").parquet(
            f"{theme_store_dir}/batch={batch_id}")
        themes = (spark.read.option("basePath", theme_store_dir)
                  .parquet(theme_store_dir + "/batch=*")
                  .drop("batch"))
        new_windows = [r["window_start"] for r in
                       batch_df.select("window_start").distinct().collect()]
        # Bound the per-trigger join to the windows an edge touching a
        # NEW window can involve: new ∪ new±gap·len. Without this the
        # OR-filter below cannot push into either join side and every
        # trigger would re-join the FULL theme history — a per-trigger
        # cost that grows with stream lifetime. The isin also reaches
        # the parquet scan (row-group stats prune the store read).
        from datetime import timedelta

        cand = set(new_windows)
        for w in new_windows:
            for g in range(1, max_gap_windows + 1):
                step = timedelta(seconds=g * window_length_seconds)
                cand.add(w - step)
                cand.add(w + step)
        edges = theme_transitions(
            themes.filter(F.col("window_start").isin(list(cand))),
            window_length_seconds,
            max_gap_windows=max_gap_windows, threshold=threshold,
            divergence=divergence, eps=eps, log_max=log_max,
        ).filter(F.col("window1").isin(new_windows)
                 | F.col("window2").isin(new_windows))
        edges.write.mode("overwrite").parquet(
            f"{edges_dir}/batch={batch_id}")

    return process


def start_evolution_edge_sink(
    themes_stream: DataFrame,
    theme_store_dir: str,
    edges_dir: str,
    checkpoint_dir: str,
    *,
    window_length_seconds: int,
    max_gap_windows: int = 1,
    threshold: float = 8.0,
    divergence: str = "kl",
    eps: float = 1e-12,
    log_max: float = 27.0,
    available_now: bool = True,
):
    """Wire ``streaming_window_themes`` output into the edge correlator.
    Read results with ``spark.read.parquet(edges_dir + "/batch=*")``."""
    writer = (
        themes_stream.writeStream
        .foreachBatch(evolution_edge_batch_writer(
            theme_store_dir, edges_dir,
            window_length_seconds=window_length_seconds,
            max_gap_windows=max_gap_windows, threshold=threshold,
            divergence=divergence, eps=eps, log_max=log_max))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
