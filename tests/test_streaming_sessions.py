"""Stateful session-window detection: gap merge, close on the
watermark, out-of-order docs, the per-source buffer cap, and agreement
with the batch session analog."""

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
from bigdata_event_stream_detection_spark.operators.windows import (
    with_session_window_batch,
)
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


def _run_sessions(spark, tmp_path, name, chunks, params, **kw):
    """Write each chunk of (doc_id, source, event_time, words) rows as
    one parquet file (increasing mtimes, one micro-batch each), run the
    session detector to a memory sink, and return (the operator, its
    rows for source A, the docs, the background arrays)."""
    d = str(tmp_path / name)
    os.makedirs(d)
    pdfs = []
    for i, chunk in enumerate(chunks):
        pdf = pd.DataFrame([_doc(i_d, src, ts, words)
                            for i_d, src, ts, words in chunk], columns=[
            "doc_id", "tokens", "n_tok", "source", "event_time"])
        f = os.path.join(d, f"c{i}.parquet")
        pq.write_table(pa.Table.from_pandas(
            pdf, schema=ARROW_SCHEMA, preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
        pdfs.append(pdf)
    pdf = pd.concat(pdfs, ignore_index=True)
    model = em_ops.collect_background(bg.background_model(
        spark.createDataFrame(pdf), min_count=params.min_word_corpus_count))
    events = streaming_detect_events_sessions(
        read_sequence_stream(spark, d, max_files_per_trigger=1), model,
        params, **kw)
    q = (events.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = sorted((r["session_start"], r["session_end"], r["source"],
                   r["theme_id"], r["strength"])
                  for r in spark.table(name).collect() if r["source"] == "A")
    return events, rows, pdf, em_ops._bg_arrays(model)


def _recompute_sessions(sessions, bg_arrays, params):
    """Expected rows: the step-by-step kernel recomputation on each
    session's docs, seeded by the session start."""
    gap = pd.Timedelta(params.session_gap)
    out = []
    for docs in sessions:
        start = docs["event_time"].min()
        rows, _ = recompute_window_events([(start, docs)], *bg_arrays, params)
        out += [(ws.to_pydatetime(),
                 (docs["event_time"].max() + gap).to_pydatetime(), src, tid, n)
                for ws, src, tid, n in rows]
    return sorted(out)


def test_out_of_order_docs_join_their_session(spark, tmp_path):
    """Docs that arrive after later ones still land in the session their
    event time belongs to: the emitted sessions are the batch
    sessionization's, and each one's rows are the kernel on its docs."""
    params = replace(PARAMS, watermark_delay="1 day")
    day = pd.Timestamp("2015-01-01")

    def at(hh, mm):
        return day + pd.Timedelta(hours=hh, minutes=mm)

    chunks = [
        [("a1000", "A", at(10, 0), [1, 2, 3, 1, 2, 3, 4]),
         ("a1010", "A", at(10, 10), [1, 2, 5, 1, 2, 5, 6])],
        [("a0500", "A", at(5, 0), [5, 6, 7, 5, 6, 7, 8]),
         ("a0945", "A", at(9, 45), [1, 3, 4, 1, 3, 4, 2])],
        [("sent", "B", day + pd.Timedelta(days=30), [1, 2, 3])],
    ]
    _, got, pdf, bg_arrays = _run_sessions(
        spark, tmp_path, "sess_out_of_order", chunks, params)

    docs = pdf[pdf["source"] == "A"]
    batch = {(r["window_start"], r["window_end"])
             for r in with_session_window_batch(
                 spark.createDataFrame(docs), ["source"],
                 gap="30 minutes").collect()}
    assert batch == {(at(5, 0).to_pydatetime(), at(5, 30).to_pydatetime()),
                     (at(9, 45).to_pydatetime(), at(10, 40).to_pydatetime())}
    assert {(r[0], r[1]) for r in got} == batch
    expected = _recompute_sessions(
        [docs[docs["event_time"] < at(9, 0)],
         docs[docs["event_time"] > at(9, 0)]], bg_arrays, params)
    assert got == expected


def test_session_buffer_cap_counts_drops(spark, tmp_path):
    """``max_docs_in_state`` bounds each source's buffer: of three docs
    of one session in one micro-batch, the earliest two are kept and
    detected on, and the third is counted on ``dropped_docs_acc``."""
    t0 = pd.Timestamp("2015-01-01 10:00")
    chunks = [
        [(f"c{i}", "A", t0 + pd.Timedelta(minutes=5 * i),
          [1, 2, 3, 1, 2, 3, 4 + i]) for i in range(3)],
        [("sent", "B", t0 + pd.Timedelta(days=30), [1, 2, 3])],
    ]
    events, got, pdf, bg_arrays = _run_sessions(
        spark, tmp_path, "sess_capped", chunks, PARAMS, max_docs_in_state=2)
    assert events.dropped_docs_acc.value == 1
    expected = _recompute_sessions(
        [pdf[pdf["doc_id"].isin(["c0", "c1"])]], bg_arrays, PARAMS)
    assert expected
    assert got == expected


def test_late_session_doc_is_counted_not_emitted(spark, tmp_path):
    """A doc whose event time is already behind the watermark when it
    arrives is late: it is counted on ``dropped_docs_acc`` and never
    emitted as a second session next to the one already closed."""
    t0 = pd.Timestamp("2015-01-01 10:00")
    chunks = [
        [("early", "A", t0, [1, 2, 3, 1, 2, 3, 4])],
        [("next", "A", t0 + pd.Timedelta(days=3), [5, 6, 7, 5, 6, 7, 8])],
        [("late", "A", t0 + pd.Timedelta(minutes=5), [1, 2, 4, 1, 2, 4, 3])],
        [("sent", "B", t0 + pd.Timedelta(days=30), [1, 2, 3])],
    ]
    events, got, pdf, bg_arrays = _run_sessions(
        spark, tmp_path, "sess_late", chunks, PARAMS)
    assert events.dropped_docs_acc.value == 1
    assert {r[0] for r in got} == {t0.to_pydatetime(),
                                   (t0 + pd.Timedelta(days=3)).to_pydatetime()}
    expected = _recompute_sessions(
        [pdf[pdf["doc_id"] == d] for d in ("early", "next")], bg_arrays,
        PARAMS)
    assert got == expected


def test_sub_millisecond_docs_keep_batch_bounds_and_order(spark, tmp_path):
    """The buffer keeps Spark's microsecond event times: a session's
    bounds equal the batch sessionization's, and two docs under a
    millisecond apart decode in event-time order, as the batch plan
    sorts them (not in doc_id order)."""
    t0 = pd.Timestamp("2015-01-01 10:00")
    us = pd.Timedelta(microseconds=1)
    chunks = [
        [("z", "A", t0 + 100 * us, [1, 2, 3, 1, 2, 3, 4]),
         ("a", "A", t0 + 600 * us, [5, 6, 7, 5, 6, 7, 8]),
         ("m", "A", t0 + pd.Timedelta(minutes=10) + 900 * us,
          [1, 2, 5, 1, 2, 5, 6])],
        [("sent", "B", t0 + pd.Timedelta(days=30), [1, 2, 3])],
    ]
    _, got, pdf, bg_arrays = _run_sessions(
        spark, tmp_path, "sess_sub_ms", chunks, PARAMS)
    docs = pdf[pdf["source"] == "A"]
    batch = {(r["window_start"], r["window_end"])
             for r in with_session_window_batch(
                 spark.createDataFrame(docs), ["source"],
                 gap="30 minutes").collect()}
    assert batch == {(
        (t0 + 100 * us).to_pydatetime(),
        (t0 + pd.Timedelta(minutes=40) + 900 * us).to_pydatetime())}
    assert {(r[0], r[1]) for r in got} == batch
    expected = _recompute_sessions([docs], bg_arrays, PARAMS)
    assert expected
    assert got == expected
