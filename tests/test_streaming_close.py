"""When the window detector closes a window, and which docs it keeps.

The doc buffer is keyed by (window index mod ``WINDOW_BUCKETS``, chunk),
so a key sees the event time of its bucket's later windows: a window
closes in the micro-batch that carries its closing data (a doc of its
bucket past its end + watermark delay), not one trigger later. These
tests pin that close, the per-window lateness rule on each side of it,
and the per-window doc cap inside one bucket.

Each parquet file is one micro-batch (``maxFilesPerTrigger=1``); a
``foreachBatch`` sink records which batch emitted which rows.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.operators import em as em_ops
from bigdata_event_stream_detection_spark.operators.hmm import (
    detect_window_events,
)
from bigdata_event_stream_detection_spark.plans.pipeline import (
    _window_seconds, detect_event_stream,
)
from bigdata_event_stream_detection_spark.streaming.engine import (
    WINDOW_BUCKETS, read_sequence_stream, streaming_detect_events,
)
from tests.test_streaming import ARROW_SCHEMA, PARAMS

T0 = pd.Timestamp("2015-01-01 00:00:00")


@pytest.fixture(scope="module")
def docs(spark):
    """Planted-HMM docs (real token streams) to re-time per test."""
    from bigdata_event_stream_detection_spark.sources.synthetic import (
        generate_sequences,
    )
    pdf = generate_sequences(spark, 400, late_fraction=0.0,
                             partitions=4).toPandas()
    return pdf.sort_values("event_time").reset_index(drop=True)


def _at(pdf, times, prefix):
    """The first len(times) docs of ``pdf`` re-timed, with fresh ids."""
    out = pdf.iloc[:len(times)].copy()
    out["event_time"] = list(times)
    out["doc_id"] = [f"{prefix}{i:03d}" for i in range(len(times))]
    return out.reset_index(drop=True)


def _run(spark, tmp_path, name, files, params, **kw):
    """Stream ``files`` (one DataFrame per micro-batch, then a
    far-future sentinel) through the window detector. Returns (the
    operator, {window_start: (batch ids, rows)}, the background
    arrays)."""
    d = str(tmp_path / name)
    os.makedirs(d)
    sentinel = pd.DataFrame({
        "doc_id": ["SENTINEL"], "tokens": [[0, 1, 2]], "n_tok": [3],
        "source": ["GDL"], "event_time": [T0 + pd.Timedelta(days=60)]})
    for i, pdf in enumerate(list(files) + [sentinel]):
        f = os.path.join(d, f"c{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(
            pdf[ARROW_SCHEMA.names], schema=ARROW_SCHEMA,
            preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
    model = em_ops.collect_background(bg.background_model(
        spark.createDataFrame(pd.concat(files, ignore_index=True)),
        min_count=params.min_word_corpus_count))
    events = streaming_detect_events(
        read_sequence_stream(spark, d, max_files_per_trigger=1), model,
        params, **kw)
    landed: dict = {}

    def record(batch_df, batch_id):
        for r in batch_df.collect():
            bids, rows = landed.setdefault(r["window_start"], (set(), set()))
            bids.add(batch_id)
            rows.add((r["window_start"], r["source"], r["theme_id"],
                      r["strength"]))

    q = (events.writeStream.foreachBatch(record)
         .option("checkpointLocation", str(tmp_path / (name + "_ckpt")))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return events, landed, em_ops._bg_arrays(model)


def _kernel_rows(window_start, pdf, bg_arrays, params):
    """The detector's close payload on exactly these docs."""
    return {(ws.to_pydatetime(), src, tid, n)
            for ws, src, tid, n in detect_window_events(
                window_start, pdf, *bg_arrays, k=params.num_themes,
                em_iterations=params.em_iterations,
                lambda_b=params.lambda_background,
                score_floor=(params.theme_score_floor_factor
                             / params.num_themes),
                max_iterations=params.bw_max_iterations,
                pi_threshold=params.bw_pi_threshold,
                a_threshold=params.bw_a_threshold, runs=params.em_runs)}


def test_window_closes_in_the_batch_carrying_its_closing_data(
        spark, docs, tmp_path):
    """Every window emits in the first micro-batch whose close
    threshold passes its end: either the watermark Spark computed after
    the previous batches, or a doc of the window's own bucket in this
    batch past end + delay. Most windows of each file close in that
    file's own batch; rows still equal the batch plan's."""
    params = replace(PARAMS, window_length="10 minutes",
                     watermark_delay="5 minutes")
    files = [docs.iloc[:200], docs.iloc[200:]]
    _, landed, _ = _run(spark, tmp_path, "close_same_batch", files, params)

    length = pd.Timedelta(seconds=_window_seconds(params.window_length))
    delay = pd.Timedelta(params.watermark_delay)
    batches = files + [pd.DataFrame({"n_tok": [3], "event_time": [
        T0 + pd.Timedelta(days=60)]})]

    def bucket(ts):
        return (ts.value // length.value) % WINDOW_BUCKETS

    def closing_batch(ws):
        end = ws + length
        for i, pdf in enumerate(batches):
            wm = (max(b["event_time"].max() for b in batches[:i]) - delay
                  if i else None)
            # the bucket's buffered docs (the sentinel is too short)
            own = pdf["event_time"][[
                bucket(t.floor(length)) == bucket(ws)
                and n >= params.min_doc_tokens
                for t, n in zip(pdf["event_time"], pdf["n_tok"])]]
            if (wm is not None and wm > end) or (
                    len(own) and own.max() - delay > end):
                return i
        return len(batches)  # the no-data batch after the sentinel

    def carrier(ws):
        """The batch whose data first passes the window's end + delay."""
        return next(i for i, pdf in enumerate(batches)
                    if pdf["event_time"].max() - delay > ws + length)

    assert landed
    same = 0
    for ws, (bids, _rows) in landed.items():
        want = closing_batch(pd.Timestamp(ws))
        assert bids == {want}, ws
        same += want == carrier(pd.Timestamp(ws))
    assert same >= len(landed) // 2, (same, len(landed))

    batch_rows = {(r["window_start"], r["source"], r["theme_id"],
                   r["strength"])
                  for r in detect_event_stream(
                      spark.createDataFrame(docs), params).collect()}
    assert set().union(*(rows for _, rows in landed.values())) == batch_rows


def test_buffered_window_keeps_a_doc_behind_the_watermark(
        spark, docs, tmp_path):
    """A doc whose window is still buffered in its key is kept even if
    the window's end is already behind the watermark (Spark filtered it
    against the previous batch's watermark): the window closes with it,
    as with a per-window key."""
    minutes = [5, 10, 15, 20]
    first = _at(docs, [T0 + pd.Timedelta(minutes=m) for m in minutes], "w")
    ahead = _at(docs.iloc[10:], [T0 + pd.Timedelta(hours=5)], "x")
    grace = _at(docs.iloc[20:], [T0 + pd.Timedelta(minutes=m)
                                 for m in (30, 40)], "g")
    events, landed, bg_arrays = _run(
        spark, tmp_path, "close_grace",
        [pd.concat([first, ahead], ignore_index=True), grace], PARAMS)
    assert events.dropped_docs_acc.value == 0
    bids, rows = landed[T0.to_pydatetime()]
    assert bids == {1}
    want = _kernel_rows(T0, pd.concat([first, grace]), bg_arrays, PARAMS)
    assert want and rows == want
    assert rows != _kernel_rows(T0, first, bg_arrays, PARAMS)


def test_early_closed_window_drops_its_late_doc(spark, docs, tmp_path):
    """A window that closed early (its bucket's later window carried
    the closing data) is gone from its key: a doc for it in the next
    batch is behind the watermark, so it is dropped, counted on
    ``dropped_docs_acc`` and never re-emitted."""
    later = T0 + pd.Timedelta(hours=WINDOW_BUCKETS)   # same bucket
    first = _at(docs, [T0 + pd.Timedelta(minutes=m)
                       for m in (5, 10, 15, 20)], "w")
    closing = _at(docs.iloc[10:], [later + pd.Timedelta(minutes=m)
                                   for m in (0, 15)], "c")
    late = _at(docs.iloc[20:], [T0 + pd.Timedelta(minutes=40)], "late")
    events, landed, bg_arrays = _run(
        spark, tmp_path, "close_early_late",
        [pd.concat([first, closing], ignore_index=True), late], PARAMS)
    assert events.dropped_docs_acc.value == 1
    bids, rows = landed[T0.to_pydatetime()]
    assert bids == {0}
    want = _kernel_rows(T0, first, bg_arrays, PARAMS)
    assert want and rows == want


def test_windows_sharing_a_bucket_keep_their_own_cap(spark, docs, tmp_path):
    """``max_docs_in_state`` bounds each window, not the bucket key:
    two open windows of one bucket keep their first four docs each."""
    params = replace(PARAMS, watermark_delay="1 day")
    later = T0 + pd.Timedelta(hours=WINDOW_BUCKETS)
    a = _at(docs, [T0 + pd.Timedelta(minutes=5 * i) for i in range(6)], "a")
    b = _at(docs.iloc[10:], [later + pd.Timedelta(minutes=5 * i)
                             for i in range(6)], "b")
    events, landed, bg_arrays = _run(
        spark, tmp_path, "close_cap", [pd.concat([a, b], ignore_index=True)],
        params, max_docs_in_state=4)
    assert events.dropped_docs_acc.value == 4
    for ws, pdf in ((T0, a), (later, b)):
        want = _kernel_rows(ws, pdf.iloc[:4], bg_arrays, params)
        assert want and landed[ws.to_pydatetime()][1] == want
