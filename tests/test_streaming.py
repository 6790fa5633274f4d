"""Structured Streaming shell tests: windowed aggs, watermark/late
rows, stateful EM+HMM detection parity with batch, checkpoint resume
(exactly-once), session windows, cross-source correlation, metrics.

Fixture layout: the synthetic sequences are split chronologically into
several parquet files (one per micro-batch via maxFilesPerTrigger=1) so
the event-time watermark advances between batches; a far-future
sentinel doc closes all real windows before the availableNow trigger
drains.
"""

from __future__ import annotations

import glob
import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.params import DEFAULTS
from bigdata_event_stream_detection_spark.plans.pipeline import (
    detect_event_stream, small_params,
)
from bigdata_event_stream_detection_spark.streaming.engine import (
    correlate_events_across_sources,
    read_sequence_stream,
    start_event_sink,
    streaming_detect_events,
    streaming_session_doc_counts,
    streaming_windowed_doc_counts,
    uncorroborated_events,
)
from bigdata_event_stream_detection_spark.streaming.metrics import (
    MetricsListener,
)

ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("event_time", pa.timestamp("us")),
])

PARAMS = small_params(
    num_themes=3, window_length="1 hour", em_iterations=5,
    min_doc_tokens=5, min_word_corpus_count=2, bw_max_iterations=5,
    watermark_delay="10 minutes",
)


def _write_chunks(pdf: pd.DataFrame, path: str, n_chunks: int,
                  sentinel: bool = True) -> list[str]:
    """Write event-time-ordered chunks as separate parquet files with
    increasing mtimes (the file source processes them oldest-first)."""
    os.makedirs(path, exist_ok=True)
    pdf = pdf.sort_values("event_time").reset_index(drop=True)
    files = []
    bounds = [round(i * len(pdf) / n_chunks) for i in range(n_chunks + 1)]
    for i in range(n_chunks):
        chunk = pdf.iloc[bounds[i]:bounds[i + 1]]
        f = os.path.join(path, f"chunk_{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=ARROW_SCHEMA,
                                 preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
        files.append(f)
    if sentinel:
        far = pdf["event_time"].max() + pd.Timedelta(days=30)
        s = pd.DataFrame({
            "doc_id": ["SENTINEL-0"], "tokens": [[0, 1, 2]],
            "n_tok": [3], "source": ["GDL"], "event_time": [far],
        })
        f = os.path.join(path, "chunk_zzz_sentinel.parquet")
        pq.write_table(
            pa.Table.from_pandas(s, schema=ARROW_SCHEMA,
                                 preserve_index=False), f)
        os.utime(f, (time.time() + n_chunks, time.time() + n_chunks))
        files.append(f)
    return files


@pytest.fixture(scope="module")
def stream_fixture(spark, tmp_path_factory):
    """~400 docs, no late tail (late rows get their own dedicated test),
    split into 4 chronological files + watermark sentinel."""
    from bigdata_event_stream_detection_spark.sources.synthetic import (
        generate_sequences,
    )

    root = tmp_path_factory.mktemp("stream")
    df = generate_sequences(spark, 400, late_fraction=0.0, partitions=4)
    pdf = df.toPandas()
    in_dir = str(root / "input")
    _write_chunks(pdf, in_dir, n_chunks=4)
    batch_df = spark.createDataFrame(pdf).cache()
    batch_df.count()
    return {"dir": in_dir, "pdf": pdf, "batch": batch_df, "root": root}


def _run_to_memory(spark, stream_df, name, max_batches_wait=120):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(max_batches_wait)
    return spark.table(name)


def test_streaming_windowed_counts_match_batch(spark, stream_fixture):
    stream = read_sequence_stream(spark, stream_fixture["dir"],
                                  max_files_per_trigger=1)
    out = _run_to_memory(
        spark,
        streaming_windowed_doc_counts(
            stream, length="1 hour", watermark_delay="10 minutes"),
        "win_counts")
    got = {(r["window_start"], r["source"]): (r["n_docs"], r["n_tokens"])
           for r in out.collect()}
    # batch truth (sentinel included — it's a real row on both sides)
    sent = pd.DataFrame({
        "doc_id": ["SENTINEL-0"], "tokens": [[0, 1, 2]], "n_tok": [3],
        "source": ["GDL"],
        "event_time": [stream_fixture["pdf"]["event_time"].max()
                       + pd.Timedelta(days=30)]})
    full = pd.concat([stream_fixture["pdf"], sent])
    truth_df = (
        spark.createDataFrame(full)
        .groupBy(F.window("event_time", "1 hour").alias("w"), "source")
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("t")))
    truth = {(r["w"]["start"], r["source"]): (r["n"], r["t"])
             for r in truth_df.collect()}
    # every window whose end precedes the final watermark must be
    # emitted exactly once with the exact batch counts; the sentinel's
    # own window never closes (watermark stops at its event time)
    missing = {k: v for k, v in truth.items() if k not in got}
    assert len(missing) <= 1  # only the sentinel's window may be open
    for k, v in got.items():
        assert truth[k] == v


def test_streaming_late_rows_dropped(spark, tmp_path):
    """A row arriving after its window passed the watermark is dropped
    and the finalized window is NOT re-emitted (append-mode exactly-once
    — the streaming analog of the reference's out-of-period filter).

    Watermark mechanics: the window [t0, t0+1h) is evicted+emitted in
    the first batch whose starting watermark exceeds its end; a row for
    it arriving in a later batch hits numRowsDroppedByWatermark.
    """
    t0 = pd.Timestamp("2015-01-01 00:00:00")

    def mk(ids, times):
        return pd.DataFrame({
            "doc_id": ids, "tokens": [[1, 2, 3]] * len(ids),
            "n_tok": [3] * len(ids), "source": ["GDL"] * len(ids),
            "event_time": times})

    chunks = [
        mk(["a", "b"], [t0, t0 + pd.Timedelta(hours=6)]),
        # advances a batch; window [t0,1h) finalizes (wm = 5:50 > 1:00)
        mk(["c"], [t0 + pd.Timedelta(hours=6, minutes=5)]),
        # late: 5.5h behind the frontier, window already finalized
        mk(["late"], [t0 + pd.Timedelta(minutes=30)]),
        mk(["sent"], [t0 + pd.Timedelta(days=30)]),
    ]
    d = str(tmp_path / "late_in")
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        f = os.path.join(d, f"c{i}.parquet")
        pq.write_table(pa.Table.from_pandas(
            chunk, schema=ARROW_SCHEMA, preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
    stream = read_sequence_stream(spark, d, max_files_per_trigger=1)
    q = (streaming_windowed_doc_counts(
            stream, length="1 hour", watermark_delay="10 minutes")
         .writeStream.format("memory").queryName("late_counts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    import json as _json
    dropped = sum(
        (op or {}).get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in _json.loads(p.json).get("stateOperators", []))
    rows = [(r["window_start"], r["n_docs"])
            for r in spark.table("late_counts").collect()]
    assert dropped == 1                              # the late row
    assert rows.count((t0.to_pydatetime(), 1)) == 1  # emitted once, n=1
    assert (t0.to_pydatetime(), 2) not in rows       # late row excluded


def test_streaming_detect_events_matches_batch(spark, stream_fixture):
    """The north-rule invariant: streaming (stateful, windowed,
    watermarked) emits exactly the batch pipeline's event rows — for a
    single EM run and for best-of-3, where the window close must pick
    the same run as the batch plan (and on this fixture the pick
    changes the rows)."""
    from dataclasses import replace

    batch_df = stream_fixture["batch"]
    model = bg.background_model(
        batch_df.filter(F.col("n_tok") >= PARAMS.min_doc_tokens),
        min_count=PARAMS.min_word_corpus_count)
    results = []
    for runs in (1, 3):
        params = replace(PARAMS, em_runs=runs)
        batch_rows = {
            (r["window_start"], r["source"], r["theme_id"]): r["strength"]
            for r in detect_event_stream(batch_df, params).collect()}
        stream = read_sequence_stream(spark, stream_fixture["dir"],
                                      max_files_per_trigger=2)
        events = streaming_detect_events(stream, model.toPandas(), params)
        out = _run_to_memory(spark, events, f"detect_stream_{runs}", 300)
        got = {(r["window_start"], r["source"], r["theme_id"]):
               r["strength"] for r in out.collect()}
        # The sentinel doc exists only on the streaming side and is 3
        # tokens (below min_doc_tokens=5) -> contributes nothing; its
        # own window never closes but would emit nothing anyway. Every
        # real window's rows must be IDENTICAL to batch.
        assert got == batch_rows, f"em_runs={runs}"
        results.append(got)
    assert results[0] != results[1]


def test_streaming_checkpoint_resume_exactly_once(spark, stream_fixture):
    """Stop after consuming part of the input; restart from checkpoint
    with the rest present: the union of committed outputs equals the
    full batch result with no duplicates (exactly-once file sink)."""
    root = stream_fixture["root"]
    part_dir = str(root / "resume_in")
    out_dir = str(root / "resume_out")
    ckpt = str(root / "resume_ckpt")
    os.makedirs(part_dir)
    src_files = sorted(glob.glob(stream_fixture["dir"] + "/*.parquet"))
    # phase 1: first half of the files only
    half = len(src_files) // 2
    for f in src_files[:half]:
        dst = os.path.join(part_dir, os.path.basename(f))
        open(dst, "wb").write(open(f, "rb").read())
        os.utime(dst, (os.stat(f).st_mtime, os.stat(f).st_mtime))
    stream = read_sequence_stream(spark, part_dir, max_files_per_trigger=1)
    counts = streaming_windowed_doc_counts(
        stream, length="1 hour", watermark_delay="10 minutes")
    q = start_event_sink(counts, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)
    n_phase1 = spark.read.parquet(out_dir).count()
    # phase 2: all files present; SAME checkpoint — replays nothing
    for f in src_files[half:]:
        dst = os.path.join(part_dir, os.path.basename(f))
        open(dst, "wb").write(open(f, "rb").read())
        os.utime(dst, (os.stat(f).st_mtime, os.stat(f).st_mtime))
    stream2 = read_sequence_stream(spark, part_dir, max_files_per_trigger=1)
    counts2 = streaming_windowed_doc_counts(
        stream2, length="1 hour", watermark_delay="10 minutes")
    q2 = start_event_sink(counts2, out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)

    final = spark.read.parquet(out_dir)
    assert final.count() > n_phase1
    # no duplicate (window, source) keys across the two runs
    dupes = (final.groupBy("window_start", "source").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0
    # and the values equal the direct batch aggregation (closed windows)
    sent = pd.DataFrame({
        "doc_id": ["SENTINEL-0"], "tokens": [[0, 1, 2]], "n_tok": [3],
        "source": ["GDL"],
        "event_time": [stream_fixture["pdf"]["event_time"].max()
                       + pd.Timedelta(days=30)]})
    full = pd.concat([stream_fixture["pdf"], sent])
    truth_df = (
        spark.createDataFrame(full)
        .groupBy(F.window("event_time", "1 hour").alias("w"), "source")
        .agg(F.count("*").alias("n")))
    truth = {(r["w"]["start"], r["source"]): r["n"]
             for r in truth_df.collect()}
    for r in final.collect():
        assert truth[(r["window_start"], r["source"])] == r["n_docs"]


def test_streaming_session_windows(spark, tmp_path):
    """session_window merges rows within gap per source and closes on
    watermark; session bounds match the batch lag/cumsum analog."""
    t0 = pd.Timestamp("2015-01-01 00:00:00")
    rows = []
    # source A: two sessions (gap 30 min, break of 2 hours between)
    for i in range(3):
        rows.append(("a%d" % i, [1, 2, 3], 3, "A",
                     t0 + pd.Timedelta(minutes=10 * i)))
    for i in range(2):
        rows.append(("b%d" % i, [1, 2, 3], 3, "A",
                     t0 + pd.Timedelta(hours=3, minutes=10 * i)))
    rows.append(("sent", [1], 1, "B", t0 + pd.Timedelta(days=30)))
    pdf = pd.DataFrame(rows, columns=[
        "doc_id", "tokens", "n_tok", "source", "event_time"])
    d = str(tmp_path / "sess_in")
    _write_chunks(pdf, d, n_chunks=2, sentinel=False)
    stream = read_sequence_stream(spark, d, max_files_per_trigger=1)
    out = _run_to_memory(
        spark,
        streaming_session_doc_counts(stream, gap="30 minutes",
                                     watermark_delay="5 minutes"),
        "sess_counts")
    got = {(r["source"], r["window_start"], r["n_docs"])
           for r in out.collect()}
    assert ("A", t0.to_pydatetime(), 3) in got
    assert ("A", (t0 + pd.Timedelta(hours=3)).to_pydatetime(), 2) in got


def test_correlate_events_across_sources_batch(spark):
    from datetime import datetime
    rows = [
        (datetime(2015, 1, 1, 0), "GDL", 1, 10),
        (datetime(2015, 1, 1, 0), "JDG", 1, 7),
        (datetime(2015, 1, 1, 0), "JDG", 2, 5),
        (datetime(2015, 1, 1, 1), "GDL", 1, 4),
    ]
    events = spark.createDataFrame(
        rows, "window_start timestamp, source string, theme_id int, "
              "strength long")
    out = correlate_events_across_sources(events).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source1"], r["source2"]) == ("GDL", "JDG")
    assert r["theme_id"] == 1 and r["combined_strength"] == 17


def test_correlate_events_streaming(spark, stream_fixture, tmp_path):
    """Stream-stream self-join on the detected-event stream."""
    ev_rows = [
        ("e1", pd.Timestamp("2015-01-01 00:00:00"), "GDL", 1, 10),
        ("e2", pd.Timestamp("2015-01-01 00:00:00"), "JDG", 1, 7),
        ("e3", pd.Timestamp("2015-01-01 02:00:00"), "GDL", 2, 3),
        ("e4", pd.Timestamp("2015-01-02 00:00:00"), "GDL", 1, 1),
    ]
    pdf = pd.DataFrame(ev_rows, columns=[
        "event_id", "window_start", "source", "theme_id", "strength"])
    d = str(tmp_path / "ev_in")
    os.makedirs(d)
    ev_schema = pa.schema([
        ("event_id", pa.string()), ("window_start", pa.timestamp("us")),
        ("source", pa.string()), ("theme_id", pa.int32()),
        ("strength", pa.int64())])
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=ev_schema, preserve_index=False),
        os.path.join(d, "ev.parquet"))
    ev_stream = (spark.readStream
                 .schema("event_id string, window_start timestamp, "
                         "source string, theme_id int, strength long")
                 .parquet(d).drop("event_id"))
    joined = correlate_events_across_sources(ev_stream)
    out = _run_to_memory(spark, joined, "corr_stream")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["combined_strength"] == 17


def test_uncorroborated_events_streaming_left_outer(spark, tmp_path):
    """Stream-stream LEFT OUTER: single-source events emit with nulls
    only after the watermark passes their window (batch 2's far-future
    sentinel advances it); the sentinel itself stays inside the open
    horizon and must NOT emit."""
    ev_schema = pa.schema([
        ("window_start", pa.timestamp("us")), ("source", pa.string()),
        ("theme_id", pa.int32()), ("strength", pa.int64())])
    d = str(tmp_path / "ev_outer")
    os.makedirs(d)

    def _w(rows, name, mtime):
        f = os.path.join(d, name)
        pq.write_table(pa.Table.from_pandas(pd.DataFrame(
            rows, columns=["window_start", "source", "theme_id",
                           "strength"]),
            schema=ev_schema, preserve_index=False), f)
        os.utime(f, (mtime, mtime))

    w1 = pd.Timestamp("2015-01-01 00:00:00")
    t0 = time.time()
    _w([(w1, "GDL", 1, 10), (w1, "JDG", 1, 7),   # corroborated pair
        (w1, "GDL", 2, 3)],                       # single-source
       "b1.parquet", t0)
    _w([(pd.Timestamp("2015-01-10 00:00:00"), "GDL", 9, 1)],
       "b2.parquet", t0 + 10)                     # watermark sentinel

    stream = (spark.readStream
              .schema("window_start timestamp, source string, "
                      "theme_id int, strength long")
              .option("maxFilesPerTrigger", "1").parquet(d))
    out = _run_to_memory(
        spark, uncorroborated_events(stream, join_watermark="1 hour"),
        "uncorr_stream")
    rows = out.collect()
    assert [(r["window_start"], r["theme_id"], r["source"], r["strength"])
            for r in rows] == [(w1.to_pydatetime(), 2, "GDL", 3)]

    # batch path: same plan, same single row (plus the sentinel, whose
    # horizon never closes in streaming but which batch fully decides)
    batch = spark.createDataFrame(
        [(w1.to_pydatetime(), "GDL", 1, 10),
         (w1.to_pydatetime(), "JDG", 1, 7),
         (w1.to_pydatetime(), "GDL", 2, 3)],
        "window_start timestamp, source string, theme_id int, "
        "strength long")
    got = [(r["theme_id"], r["source"])
           for r in uncorroborated_events(batch).collect()]
    assert got == [(2, "GDL")]


def test_metrics_listener_records_progress(spark, stream_fixture, tmp_path):
    jsonl = str(tmp_path / "metrics.jsonl")
    listener = MetricsListener(jsonl)
    spark.streams.addListener(listener)
    try:
        stream = read_sequence_stream(spark, stream_fixture["dir"],
                                      max_files_per_trigger=2)
        out = streaming_windowed_doc_counts(stream)
        _run_to_memory(spark, out, "metrics_run")
        deadline = time.time() + 30
        while not listener.progress and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert listener.progress, "no progress events captured"
    batches = [p for p in listener.progress if p["num_input_rows"]]
    assert batches and batches[0]["sources"][0]["end_offset"] is not None
    assert listener.throughput_rows_per_sec() is not None
    assert os.path.getsize(jsonl) > 0


def test_streaming_sliding_windows_match_batch(spark, stream_fixture):
    """Sliding windows duplicate each doc into every containing window
    (the reference's flatMap duplication, EmInputFromParser.java:89-92);
    the stateful detector must emit batch-identical rows per window."""
    from dataclasses import replace

    sliding = replace(PARAMS, window_length="2 hours",
                      window_slide="1 hour")
    batch_df = stream_fixture["batch"]
    model = bg.background_model(
        batch_df.filter(F.col("n_tok") >= sliding.min_doc_tokens),
        min_count=sliding.min_word_corpus_count)
    batch_rows = {
        (r["window_start"], r["source"], r["theme_id"]): r["strength"]
        for r in detect_event_stream(batch_df, sliding).collect()}
    stream = read_sequence_stream(spark, stream_fixture["dir"],
                                  max_files_per_trigger=2)
    out = _run_to_memory(
        spark, streaming_detect_events(stream, model.toPandas(), sliding),
        "detect_sliding", 300)
    got = {(r["window_start"], r["source"], r["theme_id"]): r["strength"]
           for r in out.collect()}
    assert got == batch_rows


def test_streaming_detect_events_chunked_state(spark, stream_fixture):
    """``state_chunks=2`` fans each window over two deterministic
    doc-hash state keys (the reference's split-large-window M4 semantics
    applied to grouped state): >1 state key per window, theme ids
    namespaced per chunk, and rows EQUAL to the batch chunked plan —
    per-chunk EM + decode with the shared full-corpus background."""
    from bigdata_event_stream_detection_spark.operators import hmm as hmm_ops
    from bigdata_event_stream_detection_spark.operators import windows as win

    batch_df = stream_fixture["batch"]
    filtered = batch_df.filter(F.col("n_tok") >= PARAMS.min_doc_tokens)
    model = bg.background_model(
        filtered, min_count=PARAMS.min_word_corpus_count)
    model_pdf = model.toPandas()

    n_chunks = 2
    expected = {}
    for c in range(n_chunks):
        sub = filtered.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)) == c)
        windowed = win.with_time_window(sub, length=PARAMS.window_length)
        ev = hmm_ops.detect_events_pooled(
            windowed, model_pdf, k=PARAMS.num_themes,
            em_iterations=PARAMS.em_iterations,
            lambda_b=PARAMS.lambda_background,
            score_floor=PARAMS.theme_score_floor_factor / PARAMS.num_themes,
            max_iterations=PARAMS.bw_max_iterations,
            pi_threshold=PARAMS.bw_pi_threshold,
            a_threshold=PARAMS.bw_a_threshold)
        for r in ev.collect():
            key = (r["window_start"], r["source"],
                   c * PARAMS.num_themes + r["theme_id"])
            expected[key] = r["strength"]

    stream = read_sequence_stream(spark, stream_fixture["dir"],
                                  max_files_per_trigger=2)
    ev = streaming_detect_events(stream, model_pdf, PARAMS,
                                 state_chunks=n_chunks)
    out = _run_to_memory(spark, ev, "detect_chunked", 300)
    got = {(r["window_start"], r["source"], r["theme_id"]): r["strength"]
           for r in out.collect()}
    assert got == expected
    # both chunk namespaces actually produced events (i.e. a single
    # window's work really ran under more than one state key)
    assert {k[2] // PARAMS.num_themes for k in got} == {0, 1}


def test_out_of_order_file_arrival_no_crash(spark, tmp_path):
    """Regression: a file source can deliver batches out of event-time
    order (mtime ties / interleaved layouts). Rows for a window the
    watermark already finalized must be dropped (append-mode
    exactly-once — never resurrected), the timeout clamped past the
    watermark, and the query must NOT crash with
    INVALID_TIMEOUT_TIMESTAMP."""
    from bigdata_event_stream_detection_spark.operators import (
        background as bg,
    )

    t0 = pd.Timestamp("2015-01-01 00:00:00")

    def mk(ids, times):
        return pd.DataFrame({
            "doc_id": ids, "tokens": [[1, 2, 3, 4, 5, 6]] * len(ids),
            "n_tok": [6] * len(ids), "source": ["GDL"] * len(ids),
            "event_time": times})

    # file 1 jumps the watermark 3 months ahead; file 2 (processed in a
    # LATER batch) carries rows for a long-finalized window
    chunks = [
        mk(["new1", "new2"], [t0 + pd.Timedelta(days=90),
                              t0 + pd.Timedelta(days=90, hours=6)]),
        mk(["stale1", "stale2"], [t0, t0 + pd.Timedelta(minutes=5)]),
        mk(["sent"], [t0 + pd.Timedelta(days=120)]),
    ]
    d = str(tmp_path / "ooo_in")
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        f = os.path.join(d, f"c{i}.parquet")
        pq.write_table(pa.Table.from_pandas(
            chunk, schema=ARROW_SCHEMA, preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
    all_pdf = pd.concat(chunks)
    model = bg.background_model(
        spark.createDataFrame(all_pdf), min_count=1).toPandas()
    stream = read_sequence_stream(spark, d, max_files_per_trigger=1)
    ev = streaming_detect_events(stream, model, PARAMS)
    out = _run_to_memory(spark, ev, "ooo_detect", 300)
    rows = out.collect()  # must complete without INVALID_TIMEOUT_TIMESTAMP
    # the stale window never emits (its docs were late) ...
    assert all(r["window_start"] != t0.to_pydatetime() for r in rows)
    # ... and the late docs are accounted in the dropped counter
    assert ev.dropped_docs_acc.value == 2


def test_dropped_docs_are_counted(spark, stream_fixture):
    """State overflow beyond max_docs_in_state drops docs — the drop
    must be visible in the dropped_docs_acc accumulator, never silent."""
    from bigdata_event_stream_detection_spark.operators import (
        background as bg,
    )

    model = bg.background_model(
        stream_fixture["batch"].filter(
            F.col("n_tok") >= PARAMS.min_doc_tokens),
        min_count=PARAMS.min_word_corpus_count).toPandas()
    stream = read_sequence_stream(spark, stream_fixture["dir"],
                                  max_files_per_trigger=2)
    ev = streaming_detect_events(stream, model, PARAMS,
                                 max_docs_in_state=5)
    _run_to_memory(spark, ev, "detect_capped", 300)
    n_docs = len(stream_fixture["pdf"])
    assert ev.dropped_docs_acc.value > 0
    assert ev.dropped_docs_acc.value < n_docs  # some docs were kept


def test_stateful_detect_resumes_from_checkpoint(spark, stream_fixture):
    """Kill the stateful EM/HMM query after part of the input, restart
    from the same checkpoint with the rest: buffered window state is
    recovered, windows closed after the restart still emit rows
    identical to the batch pipeline, and no (window, source, theme) key
    is emitted twice — the north rule's resume-from-checkpoint
    requirement on the flagship query."""
    root = stream_fixture["root"]
    part_dir = str(root / "detect_resume_in")
    out_dir = str(root / "detect_resume_out")
    ckpt = str(root / "detect_resume_ckpt")
    os.makedirs(part_dir)
    src_files = sorted(glob.glob(stream_fixture["dir"] + "/*.parquet"))
    model = bg.background_model(
        stream_fixture["batch"].filter(
            F.col("n_tok") >= PARAMS.min_doc_tokens),
        min_count=PARAMS.min_word_corpus_count).toPandas()

    def copy(files):
        for f in files:
            dst = os.path.join(part_dir, os.path.basename(f))
            open(dst, "wb").write(open(f, "rb").read())
            os.utime(dst, (os.stat(f).st_mtime, os.stat(f).st_mtime))

    def run_once():
        stream = read_sequence_stream(spark, part_dir,
                                      max_files_per_trigger=1)
        ev = streaming_detect_events(stream, model, PARAMS)
        q = start_event_sink(ev, out_dir, ckpt, available_now=True)
        q.awaitTermination(300)

    copy(src_files[:len(src_files) // 2])
    run_once()                      # phase 1: some windows still open
    copy(src_files[len(src_files) // 2:])
    run_once()                      # phase 2: resume, finish the rest

    final = spark.read.parquet(out_dir)
    dupes = (final.groupBy("window_start", "source", "theme_id").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0
    batch_rows = {
        (r["window_start"], r["source"], r["theme_id"]): r["strength"]
        for r in detect_event_stream(
            stream_fixture["batch"], PARAMS).collect()}
    got = {(r["window_start"], r["source"], r["theme_id"]): r["strength"]
           for r in final.collect()}
    assert got == batch_rows


def test_keyed_idempotent_sink(spark, stream_fixture, tmp_path):
    """foreachBatch keyed sink: batch replay overwrites the same
    batch_id partition, so output has no duplicate keys and reading the
    tree gives the same rows as the file-manifest sink."""
    from bigdata_event_stream_detection_spark.streaming.engine import (
        start_keyed_idempotent_sink,
    )

    out = str(tmp_path / "keyed_out")
    ckpt = str(tmp_path / "keyed_ckpt")
    stream = read_sequence_stream(spark, stream_fixture["dir"],
                                  max_files_per_trigger=2)
    counts = streaming_windowed_doc_counts(
        stream, length="1 hour", watermark_delay="10 minutes").select(
        "window_start", "source", "n_docs")
    q = start_keyed_idempotent_sink(
        counts, out, ckpt, key_cols=("window_start", "source"),
        available_now=True)
    q.awaitTermination(180)
    final = spark.read.option("basePath", out).parquet(out)
    assert final.count() > 0
    dupes = (final.groupBy("window_start", "source").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0


def test_watermark_to_sink_latency_metric(spark, stream_fixture):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = read_sequence_stream(spark, stream_fixture["dir"],
                                      max_files_per_trigger=2)
        _run_to_memory(spark, streaming_windowed_doc_counts(stream),
                       "lat_run")
        deadline = time.time() + 30
        while not listener.progress and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    lats = listener.watermark_to_sink_latency_sec()
    assert lats and all(l > 0 for l in lats)
