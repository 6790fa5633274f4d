"""Streaming funnel CEP parity with batch funnel_times (horizon-bounded,
exactly-once completion emission)."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_event_stream_detection_spark.operators.funnel import (
    funnel_times,
)
from bigdata_event_stream_detection_spark.streaming.funnel import (
    streaming_funnel_completions,
)

ARROW_SCHEMA = pa.schema([
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("ts", pa.timestamp("us")),
])

STEPS = ["view", "click", "purchase"]
WITHIN = 1800  # 30 min horizon


def _make_events() -> pd.DataFrame:
    t0 = datetime(2024, 6, 1)
    rows = []
    # u1 completes inside the horizon
    rows += [(1, "view", t0), (1, "click", t0 + timedelta(minutes=5)),
             (1, "purchase", t0 + timedelta(minutes=20))]
    # u2's purchase breaches the horizon of its earliest view
    rows += [(2, "view", t0), (2, "click", t0 + timedelta(minutes=10)),
             (2, "purchase", t0 + timedelta(minutes=40))]
    # u3 has the steps out of order
    rows += [(3, "click", t0), (3, "view", t0 + timedelta(minutes=5)),
             (3, "purchase", t0 + timedelta(minutes=4))]
    # u4 completes late in the stream (second chunk)
    rows += [(4, "view", t0 + timedelta(hours=2)),
             (4, "click", t0 + timedelta(hours=2, minutes=1)),
             (4, "purchase", t0 + timedelta(hours=2, minutes=2))]
    # u5: noise event types only
    rows += [(5, "error", t0 + timedelta(minutes=i)) for i in range(3)]
    return pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])


def test_streaming_funnel_matches_batch(spark, tmp_path):
    pdf = _make_events().sort_values("ts").reset_index(drop=True)
    d = str(tmp_path / "in")
    os.makedirs(d)
    half = len(pdf) // 2
    for i, chunk in enumerate([pdf.iloc[:half], pdf.iloc[half:]]):
        f = os.path.join(d, f"c{i}.parquet")
        pq.write_table(pa.Table.from_pandas(
            chunk, schema=ARROW_SCHEMA, preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
    sent = pd.DataFrame({"user_id": [99], "event_type": ["view"],
                         "ts": [pdf["ts"].max() + pd.Timedelta(days=30)]})
    f = os.path.join(d, "zz.parquet")
    pq.write_table(pa.Table.from_pandas(
        sent, schema=ARROW_SCHEMA, preserve_index=False), f)
    os.utime(f, (time.time() + 9, time.time() + 9))

    stream = (spark.readStream
              .schema("user_id long, event_type string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(d))
    out = streaming_funnel_completions(stream, STEPS, WITHIN)
    q = (out.writeStream.format("memory").queryName("funnel_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: (r["t0"], r["t1"], r["t2"])
           for r in spark.table("funnel_s").collect()}

    batch = funnel_times(
        spark.createDataFrame(pdf), STEPS, within_seconds=WITHIN)
    truth = {r["user_id"]: (r["t0"], r["t1"], r["t2"])
             for r in batch.filter(F.col("t2").isNotNull()).collect()}
    assert got == truth
    assert set(got) == {1, 4}          # u2 horizon, u3 order, u5 noise
    assert out.dropped_events_acc.value == 0


def test_streaming_funnel_flushes_on_non_step_sentinel(spark, tmp_path):
    """Every event advances the watermark, funnel step or not: a stream
    that ends in a far-future ``noise`` event resolves every pending
    chain, with the batch completions."""
    pdf = _make_events().sort_values("ts").reset_index(drop=True)
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_chunk(d, "c0.parquet", pdf, 0)
    _write_chunk(d, "zz.parquet", pd.DataFrame(
        {"user_id": [99], "event_type": ["noise"],
         "ts": [pdf["ts"].max() + pd.Timedelta(days=30)]}), 9)

    stream = (spark.readStream
              .schema("user_id long, event_type string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(d))
    q = (streaming_funnel_completions(stream, STEPS, WITHIN)
         .writeStream.format("memory").queryName("funnel_noise")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: (r["t0"], r["t1"], r["t2"])
           for r in spark.table("funnel_noise").collect()}
    batch = funnel_times(
        spark.createDataFrame(pdf), STEPS, within_seconds=WITHIN)
    truth = {r["user_id"]: (r["t0"], r["t1"], r["t2"])
             for r in batch.filter(F.col("t2").isNotNull()).collect()}
    assert got == truth and set(got) == {1, 4}


def _write_chunk(path: str, name: str, pdf: pd.DataFrame,
                 mtime_offset: int) -> None:
    f = os.path.join(path, name)
    pq.write_table(pa.Table.from_pandas(
        pdf, schema=ARROW_SCHEMA, preserve_index=False), f)
    os.utime(f, (time.time() + mtime_offset, time.time() + mtime_offset))


def test_streaming_funnel_resumes_from_checkpoint(spark, tmp_path):
    """Kill the query mid-input with unresolved chains in state, restart
    from the same checkpoint with the remaining files: buffered
    (step, ts) state is recovered, post-restart completions still match
    batch, and no user is emitted twice."""
    pdf = _make_events().sort_values("ts").reset_index(drop=True)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    half = len(pdf) // 2

    def run_once():
        stream = (spark.readStream
                  .schema("user_id long, event_type string, ts timestamp")
                  .option("maxFilesPerTrigger", "1").parquet(in_dir))
        q = (streaming_funnel_completions(stream, STEPS, WITHIN)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    _write_chunk(in_dir, "c0.parquet", pdf.iloc[:half], 0)
    run_once()                 # phase 1: chains buffered, nothing closed
    _write_chunk(in_dir, "c1.parquet", pdf.iloc[half:], 1)
    sent = pd.DataFrame({"user_id": [99], "event_type": ["view"],
                         "ts": [pdf["ts"].max() + pd.Timedelta(days=30)]})
    _write_chunk(in_dir, "zz.parquet", sent, 9)
    run_once()                 # phase 2: resume, drain, close everything

    final = spark.read.parquet(out_dir)
    assert (final.groupBy("user_id").count()
            .filter(F.col("count") > 1).count()) == 0
    got = {r["user_id"]: (r["t0"], r["t1"], r["t2"])
           for r in final.collect()}
    batch = funnel_times(
        spark.createDataFrame(pdf), STEPS, within_seconds=WITHIN)
    truth = {r["user_id"]: (r["t0"], r["t1"], r["t2"])
             for r in batch.filter(F.col("t2").isNotNull()).collect()}
    assert got == truth and set(got) == {1, 4}


def test_streaming_funnel_tombstone_counts_late_events(spark, tmp_path):
    """An event that reaches a user's state AFTER the chain resolved
    (tombstone) is dropped-and-counted, and never changes the emitted
    completion."""
    t0 = datetime(2024, 6, 1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    chain = pd.DataFrame(
        [(1, "view", t0), (1, "click", t0 + timedelta(minutes=5)),
         (1, "purchase", t0 + timedelta(minutes=20))],
        columns=["user_id", "event_type", "ts"])
    _write_chunk(d, "c0.parquet", chain, 0)
    # two watermark movers: after c1 the watermark (30 min delay) is
    # t0+1h31m > t0+WITHIN, so u1's chain resolves via timeout while
    # processing c2; after c2 the watermark is t0+2h
    mover = pd.DataFrame([(7, "view", t0 + timedelta(hours=2, minutes=1))],
                         columns=["user_id", "event_type", "ts"])
    _write_chunk(d, "c1.parquet", mover, 1)
    mover2 = pd.DataFrame([(7, "view", t0 + timedelta(hours=2, minutes=30))],
                          columns=["user_id", "event_type", "ts"])
    _write_chunk(d, "c2.parquet", mover2, 2)
    # straggler for the now-resolved u1: ts above the current watermark
    # (so Spark admits it) but the chain already closed -> tombstone
    straggler = pd.DataFrame(
        [(1, "purchase", t0 + timedelta(hours=2, minutes=15))],
        columns=["user_id", "event_type", "ts"])
    _write_chunk(d, "c3.parquet", straggler, 3)
    sent = pd.DataFrame({"user_id": [99], "event_type": ["view"],
                         "ts": [t0 + pd.Timedelta(days=30)]})
    _write_chunk(d, "zz.parquet", sent, 9)

    stream = (spark.readStream
              .schema("user_id long, event_type string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(d))
    out = streaming_funnel_completions(stream, STEPS, WITHIN)
    q = (out.writeStream.format("memory").queryName("funnel_tomb")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("funnel_tomb").collect()
    assert [r["user_id"] for r in rows] == [1]
    assert rows[0]["t2"] == t0 + timedelta(minutes=20)
    assert out.dropped_events_acc.value == 1


def test_streaming_funnel_state_lifecycle(spark, tmp_path):
    """State accounting: a resolved user keeps exactly one tombstone; a
    user who only ever sent un-anchored (non-step-0) events is REMOVED
    from the store once provably dead — not leaked forever."""
    t0 = datetime(2024, 6, 1)
    d = str(tmp_path / "in")
    os.makedirs(d)
    chain = pd.DataFrame(
        [(1, "view", t0), (1, "click", t0 + timedelta(minutes=5)),
         (1, "purchase", t0 + timedelta(minutes=20)),
         # u2: click only, never a view -> must not leak state
         (2, "click", t0 + timedelta(minutes=3))],
        columns=["user_id", "event_type", "ts"])
    _write_chunk(d, "c0.parquet", chain, 0)
    mover = pd.DataFrame([(7, "noise", t0 + timedelta(hours=3))],
                         columns=["user_id", "event_type", "ts"])
    _write_chunk(d, "c1.parquet", mover, 1)
    sent = pd.DataFrame({"user_id": [99], "event_type": ["view"],
                         "ts": [t0 + pd.Timedelta(days=30)]})
    _write_chunk(d, "zz.parquet", sent, 9)

    stream = (spark.readStream
              .schema("user_id long, event_type string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(d))
    out = streaming_funnel_completions(stream, STEPS, WITHIN)
    q = (out.writeStream.format("memory").queryName("funnel_life")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [r["user_id"] for r in spark.table("funnel_life").collect()] \
        == [1]
    # state rows: u1 tombstone + u99 (sentinel, anchored, never closes).
    # u2 pruned-and-removed; u7 filtered before the state op entirely.
    progress = q.lastProgress or q.recentProgress[-1]
    n_state = progress["stateOperators"][0]["numRowsTotal"]
    assert n_state == 2, f"state leak: {n_state} rows in store"


def test_streaming_funnel_repeated_step_matches_batch(spark, tmp_path):
    """A step type may repeat ("view, view, purchase"): the second view
    must land strictly after the first, as in batch. Steps are coded by
    distinct type, so the repeat no longer builds a map with a
    duplicate key."""
    t0 = datetime(2024, 6, 1)
    steps = ["view", "view", "purchase"]
    pdf = pd.DataFrame(
        [(1, "view", t0), (1, "view", t0 + timedelta(minutes=5)),
         (1, "purchase", t0 + timedelta(minutes=9))],
        columns=["user_id", "event_type", "ts"])
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_chunk(d, "c0.parquet", pdf, 0)
    _write_chunk(d, "zz.parquet", pd.DataFrame(
        {"user_id": [99], "event_type": ["noise"],
         "ts": [t0 + timedelta(days=30)]}), 9)

    stream = (spark.readStream
              .schema("user_id long, event_type string, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(d))
    q = (streaming_funnel_completions(stream, steps, 3600)
         .writeStream.format("memory").queryName("funnel_repeat")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("funnel_repeat").collect())
    batch = funnel_times(spark.createDataFrame(pdf), steps,
                         within_seconds=3600)
    truth = sorted(tuple(r) for r in batch.collect())
    assert got == truth == [(1, t0, t0 + timedelta(minutes=5),
                             t0 + timedelta(minutes=9))]


@pytest.mark.parametrize("within", [0.0, -60.0])
def test_funnel_rejects_non_positive_horizons(spark, within):
    """Batch and streaming funnels validate their horizon like the CEP
    twins: a zero horizon turned every streaming user into a tombstone
    and cut every batch chain at ``t0``."""
    ev = spark.createDataFrame(
        _make_events(), "user_id long, event_type string, ts timestamp")
    stream = (spark.readStream.format("rate").load()
              .selectExpr("value AS user_id", "'view' AS event_type",
                          "timestamp AS ts"))
    for build in (lambda: funnel_times(ev, STEPS, within_seconds=within),
                  lambda: streaming_funnel_completions(stream, STEPS,
                                                       within)):
        with pytest.raises(ValueError,
                           match="within_seconds must be positive"):
            build()
