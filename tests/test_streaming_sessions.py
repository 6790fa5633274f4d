"""Stateful session-window detection: gap merge, close-on-timeout,
close-on-gap-exceeded, and agreement with the batch session analog."""

from __future__ import annotations

import os
import time
from dataclasses import replace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.operators import em as em_ops
from bigdata_event_stream_detection_spark.plans.pipeline import small_params
from bigdata_event_stream_detection_spark.streaming.engine import (
    read_sequence_stream,
    streaming_detect_events_sessions,
)
from tests.test_pipeline import recompute_window_events
from tests.test_streaming import ARROW_SCHEMA

PARAMS = small_params(
    num_themes=2, em_iterations=4, min_doc_tokens=3,
    min_word_corpus_count=1, bw_max_iterations=3,
    session_gap="30 minutes", watermark_delay="5 minutes",
)


def _doc(doc_id, src, ts, words):
    return (doc_id, words, len(words), src, ts)


@pytest.fixture(scope="module")
def session_input(spark, tmp_path_factory):
    t0 = pd.Timestamp("2015-01-01 00:00:00")
    rows = []
    # source A, session 1: three docs 10 min apart
    for i in range(3):
        rows.append(_doc(f"s1-{i}", "A", t0 + pd.Timedelta(minutes=10 * i),
                         [1, 2, 3, 1, 2, 3, 4]))
    # source A, session 2: after a 3 h gap
    for i in range(2):
        rows.append(_doc(f"s2-{i}", "A",
                         t0 + pd.Timedelta(hours=3, minutes=10 * i),
                         [5, 6, 7, 5, 6, 7, 8]))
    # sentinel on another source advances the watermark
    rows.append(_doc("sent", "B", t0 + pd.Timedelta(days=10), [1, 2, 3]))
    pdf = pd.DataFrame(rows, columns=[
        "doc_id", "tokens", "n_tok", "source", "event_time"])
    d = str(tmp_path_factory.mktemp("sess_detect") / "in")
    os.makedirs(d)
    pdf = pdf.sort_values("event_time").reset_index(drop=True)
    for i, (lo, hi) in enumerate([(0, 3), (3, 5), (5, 6)]):
        f = os.path.join(d, f"c{i}.parquet")
        pq.write_table(pa.Table.from_pandas(
            pdf.iloc[lo:hi], schema=ARROW_SCHEMA, preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
    return {"dir": d, "pdf": pdf}


def test_sessions_close_and_emit(spark, session_input):
    seqs = spark.createDataFrame(session_input["pdf"])
    model = bg.background_model(
        seqs.filter(F.col("n_tok") >= PARAMS.min_doc_tokens),
        min_count=PARAMS.min_word_corpus_count)
    stream = read_sequence_stream(spark, session_input["dir"],
                                  max_files_per_trigger=1)
    events = streaming_detect_events_sessions(stream, model.toPandas(), PARAMS)
    q = (events.writeStream.format("memory").queryName("sess_events")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.table("sess_events").collect()
    t0 = pd.Timestamp("2015-01-01 00:00:00")
    starts = {r["session_start"] for r in out}
    # both A-sessions closed (session 2 by watermark timeout)
    assert t0.to_pydatetime() in starts
    assert (t0 + pd.Timedelta(hours=3)).to_pydatetime() in starts
    # session window end = last event + gap (session_window semantics)
    s1 = [r for r in out if r["session_start"] == t0.to_pydatetime()][0]
    assert s1["session_end"] == (
        t0 + pd.Timedelta(minutes=20 + 30)).to_pydatetime()
    assert all(r["source"] == "A" for r in out if r["strength"])
    # strengths count only non-background decoded tokens
    assert all(r["strength"] > 0 for r in out)


def test_sessions_best_of_3_match_recompute(spark, session_input):
    """``em_runs=3`` reaches the session close: each closed session's
    rows equal the step-by-step best-of-3 recomputation seeded by the
    session start."""
    params = replace(PARAMS, em_runs=3)
    pdf = session_input["pdf"]
    model = em_ops.collect_background(bg.background_model(
        spark.createDataFrame(pdf).filter(
            F.col("n_tok") >= params.min_doc_tokens),
        min_count=params.min_word_corpus_count))
    stream = read_sequence_stream(spark, session_input["dir"],
                                  max_files_per_trigger=1)
    events = streaming_detect_events_sessions(stream, model, params)
    q = (events.writeStream.format("memory").queryName("sess_events_runs3")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["session_start"], r["source"], r["theme_id"],
                  r["strength"])
                 for r in spark.table("sess_events_runs3").collect())

    t0 = pd.Timestamp("2015-01-01 00:00:00")
    groups = [(start, pdf[pdf["doc_id"].str.startswith(prefix)])
              for start, prefix in [(t0, "s1-"),
                                    (t0 + pd.Timedelta(hours=3), "s2-")]]
    bg_ids, bg_p = em_ops._bg_arrays(model)
    expected, _ = recompute_window_events(groups, bg_ids, bg_p, params)
    assert expected
    assert got == sorted((ws.to_pydatetime(), src, tid, n)
                         for ws, src, tid, n in expected)
