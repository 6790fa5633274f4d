"""Continuous evolution graph (streaming/evolution.py): streamed
per-window themes and KL edges must equal the batch flagship
``evolution_graph`` for the same input and watermark.

Uses the same fixture discipline as tests/test_streaming.py: event-
time-ordered parquet chunks with increasing mtimes plus a far-future
sentinel doc so the watermark closes every real window before the
availableNow trigger drains.
"""

from __future__ import annotations

import pandas as pd
import pytest

from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.operators import em as em_ops
from bigdata_event_stream_detection_spark.operators import windows as win
from bigdata_event_stream_detection_spark.plans.pipeline import (
    _window_seconds,
    evolution_graph,
    small_params,
)
from bigdata_event_stream_detection_spark.streaming.engine import (
    read_sequence_stream,
)
from bigdata_event_stream_detection_spark.streaming.evolution import (
    start_evolution_edge_sink,
    streaming_window_themes,
)

from tests.test_streaming import _write_chunks

PARAMS = small_params(
    num_themes=3, window_length="1 hour", em_iterations=5,
    min_doc_tokens=5, min_word_corpus_count=2, bw_max_iterations=5,
    watermark_delay="10 minutes",
)


@pytest.fixture(scope="module")
def evo_fixture(spark, tmp_path_factory):
    from bigdata_event_stream_detection_spark.sources.synthetic import (
        generate_sequences,
    )

    root = tmp_path_factory.mktemp("evostream")
    pdf = generate_sequences(
        spark, 400, late_fraction=0.0, partitions=4).toPandas()
    in_dir = str(root / "input")
    _write_chunks(pdf, in_dir, n_chunks=4)
    batch_df = spark.createDataFrame(pdf).cache()
    batch_df.count()
    model = bg.background_model(
        win.filter_docs(batch_df, min_tokens=PARAMS.min_doc_tokens),
        min_count=PARAMS.min_word_corpus_count).toPandas()
    return {"dir": in_dir, "batch": batch_df, "root": root, "model": model}


def _batch_theme_rows(spark, batch_df):
    seqs = win.filter_docs(batch_df, min_tokens=PARAMS.min_doc_tokens)
    model = em_ops.collect_background(bg.background_model(
        seqs, min_count=PARAMS.min_word_corpus_count))
    windowed = win.with_time_window(
        seqs, length=PARAMS.window_length, slide=PARAMS.window_slide)
    themes = em_ops.em_themes(
        windowed, model, k=PARAMS.num_themes,
        iterations=PARAMS.em_iterations,
        lambda_b=PARAMS.lambda_background, runs=PARAMS.em_runs)
    themes = em_ops.filter_themes(
        themes, PARAMS.num_themes, PARAMS.theme_score_floor_factor)
    return {
        (r["window_start"], r["theme_id"]):
            (round(r["loglik"], 9), round(r["score"], 9),
             list(r["word_ids"]), [round(p, 12) for p in r["probs"]])
        for r in themes.collect()
    }


def test_streaming_themes_match_batch(spark, evo_fixture):
    stream = read_sequence_stream(spark, evo_fixture["dir"],
                                  max_files_per_trigger=1)
    themes = streaming_window_themes(stream, evo_fixture["model"], PARAMS)
    q = (themes.writeStream.format("memory").queryName("evo_themes")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["theme_id"]):
            (round(r["loglik"], 9), round(r["score"], 9),
             list(r["word_ids"]), [round(p, 12) for p in r["probs"]])
        for r in spark.table("evo_themes").collect()
    }
    want = _batch_theme_rows(spark, evo_fixture["batch"])
    assert got == want and len(got) > 0


def test_streaming_evolution_edges_match_batch(spark, evo_fixture):
    root = evo_fixture["root"]
    stream = read_sequence_stream(spark, evo_fixture["dir"],
                                  max_files_per_trigger=1)
    themes = streaming_window_themes(stream, evo_fixture["model"], PARAMS)
    q = start_evolution_edge_sink(
        themes,
        str(root / "theme_store"), str(root / "edges"),
        str(root / "edges_ckpt"),
        window_length_seconds=_window_seconds(PARAMS.window_length),
        threshold=PARAMS.kl_threshold, divergence=PARAMS.divergence,
        eps=PARAMS.kl_epsilon, log_max=PARAMS.kl_log_max)
    q.awaitTermination(300)

    got_df = spark.read.option("basePath", str(root / "edges")).parquet(
        str(root / "edges") + "/batch=*")
    got = {(r["window1"], r["theme1"], r["window2"], r["theme2"]):
           round(r["divergence"], 9) for r in got_df.collect()}
    # exactly once: no edge appears in two batch partitions
    assert len(got) == got_df.count()

    want = {(r["window1"], r["theme1"], r["window2"], r["theme2"]):
            round(r["divergence"], 9)
            for r in evolution_graph(evo_fixture["batch"], PARAMS).collect()}
    assert got == want and len(got) > 0


def test_evolution_edge_sink_resumes_exactly_once(spark, evo_fixture,
                                                  tmp_path):
    """Drain half the input, stop, add the rest, restart from the same
    checkpoint: the edge partitions across both runs equal the batch
    flagship with no edge emitted twice."""
    import glob
    import os
    import shutil

    src_files = sorted(glob.glob(evo_fixture["dir"] + "/*.parquet"))
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)

    def run_once():
        stream = read_sequence_stream(spark, in_dir,
                                      max_files_per_trigger=1)
        themes = streaming_window_themes(
            stream, evo_fixture["model"], PARAMS)
        q = start_evolution_edge_sink(
            themes,
            str(tmp_path / "theme_store"), str(tmp_path / "edges"),
            str(tmp_path / "ckpt"),
            window_length_seconds=_window_seconds(PARAMS.window_length),
            threshold=PARAMS.kl_threshold, divergence=PARAMS.divergence,
            eps=PARAMS.kl_epsilon, log_max=PARAMS.kl_log_max)
        q.awaitTermination(300)

    import time

    half = len(src_files) // 2
    for i, f in enumerate(src_files[:half]):
        dst = shutil.copy(f, in_dir)
        os.utime(dst, (time.time() + i, time.time() + i))
    run_once()
    for i, f in enumerate(src_files[half:]):
        dst = shutil.copy(f, in_dir)      # includes the watermark sentinel
        os.utime(dst, (time.time() + half + i, time.time() + half + i))
    run_once()

    got_df = spark.read.option("basePath", str(tmp_path / "edges")).parquet(
        str(tmp_path / "edges") + "/batch=*")
    got = {(r["window1"], r["theme1"], r["window2"], r["theme2"]):
           round(r["divergence"], 9) for r in got_df.collect()}
    assert len(got) == got_df.count()          # no duplicate emissions
    want = {(r["window1"], r["theme1"], r["window2"], r["theme2"]):
            round(r["divergence"], 9)
            for r in evolution_graph(evo_fixture["batch"], PARAMS).collect()}
    assert got == want and len(got) > 0
