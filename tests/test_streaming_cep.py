"""Streaming absence-pattern CEP parity with batch match_absence
(horizon-bounded, exactly-once emission, state lifecycle).

Same micro-batch conventions as tests/test_streaming.py: file mtimes
order the batches, a far-future sentinel advances the watermark past
every real decision point.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_event_stream_detection_spark.operators.cep import (
    match_absence,
)
from bigdata_event_stream_detection_spark.streaming.cep import (
    streaming_match_absence,
)

ARROW_SCHEMA = pa.schema([
    ("user_id", pa.int64()),
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("event_type", pa.string()),
])
COLS = ["user_id", "event_id", "ts", "event_type"]
WITHIN = 1800  # 30 min horizon
T0 = datetime(2024, 6, 1)
M = timedelta(minutes=1)


def _make_events() -> pd.DataFrame:
    rows = [
        # u1: clean A -> B match
        (1, 10, T0, "A"), (1, 11, T0 + 5 * M, "B"),
        # u2: C between -> negation kills it
        (2, 20, T0, "A"), (2, 21, T0 + 2 * M, "C"),
        (2, 22, T0 + 5 * M, "B"),
        # u3: B beyond horizon -> no match
        (3, 30, T0, "A"), (3, 31, T0 + 40 * M, "B"),
        # u4: tie on ts, B strictly-after by event_id, gap 0
        (4, 40, T0, "A"), (4, 41, T0, "B"),
        # u5: two anchors, one shared B -> two rows
        (5, 50, T0, "A"), (5, 51, T0 + 1 * M, "A"),
        (5, 52, T0 + 2 * M, "B"),
        # u6: anchor in chunk 1, match arrives in chunk 2
        (6, 60, T0 + 60 * M, "A"), (6, 61, T0 + 75 * M, "B"),
        # u7: noise only
        (7, 70, T0 + 1 * M, "noise"), (7, 71, T0 + 2 * M, "noise"),
    ]
    return pd.DataFrame(rows, columns=COLS)


def _write_chunk(path, name, pdf, mtime_offset):
    f = os.path.join(path, name)
    pq.write_table(pa.Table.from_pandas(
        pdf, schema=ARROW_SCHEMA, preserve_index=False), f)
    os.utime(f, (time.time() + mtime_offset, time.time() + mtime_offset))


def _sentinel(ts):
    return pd.DataFrame([(99, 990, ts, "A")], columns=COLS)


def _read(spark, d):
    return (spark.readStream
            .schema("user_id long, event_id long, ts timestamp, "
                    "event_type string")
            .option("maxFilesPerTrigger", "1").parquet(d))


def _rows(collected):
    return {(r["user_id"], r["first_event_id"], r["first_ts"],
             r["then_ts"], r["gap_sec"]) for r in collected}


def test_streaming_match_absence_matches_batch(spark, tmp_path):
    pdf = _make_events().sort_values(["ts", "event_id"]).reset_index(
        drop=True)
    d = str(tmp_path / "in")
    os.makedirs(d)
    half = len(pdf) // 2
    _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
    _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)

    out = streaming_match_absence(_read(spark, d), "A", "B", "C", WITHIN)
    q = (out.writeStream.format("memory").queryName("cep_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(spark.table("cep_s").collect())

    truth = _rows(match_absence(
        spark.createDataFrame(pdf), "A", "B", "C",
        within_seconds=WITHIN).collect())
    assert got == truth
    assert {g[0] for g in got} == {1, 4, 5, 6}
    assert len([g for g in got if g[0] == 5]) == 2
    assert out.dropped_events_acc.value == 0

    # a type playing two roles ("A then the next A"): one buffered copy
    # per role, and an anchor never matches its own copy
    aa = streaming_match_absence(_read(spark, d), "A", "A", "C", WITHIN)
    q = (aa.writeStream.format("memory").queryName("cep_s_aa")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    truth_aa = _rows(match_absence(
        spark.createDataFrame(pdf), "A", "A", "C",
        within_seconds=WITHIN).collect())
    assert truth_aa
    assert _rows(spark.table("cep_s_aa").collect()) == truth_aa


def test_streaming_match_absence_resumes_from_checkpoint(spark, tmp_path):
    """Kill mid-input with unresolved anchors buffered, restart from the
    checkpoint: emissions still equal batch and no anchor fires twice."""
    pdf = _make_events().sort_values(["ts", "event_id"]).reset_index(
        drop=True)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    half = len(pdf) // 2

    def run_once():
        q = (streaming_match_absence(
                _read(spark, in_dir), "A", "B", "C", WITHIN)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    _write_chunk(in_dir, "c0.parquet", pdf.iloc[:half], 0)
    run_once()                 # phase 1: anchors buffered, nothing final
    _write_chunk(in_dir, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(in_dir, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)
    run_once()                 # phase 2: resume, drain, settle all

    final = spark.read.parquet(out_dir)
    assert (final.groupBy("first_event_id").count()
            .filter(F.col("count") > 1).count()) == 0
    truth = _rows(match_absence(
        spark.createDataFrame(pdf), "A", "B", "C",
        within_seconds=WITHIN).collect())
    assert _rows(final.collect()) == truth


def test_streaming_match_absence_state_lifecycle(spark, tmp_path):
    """Resolved anchors and dead non-anchor events leave the store; a
    key whose buffer empties is REMOVED (no tombstones)."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    chunk = pd.DataFrame([
        (1, 10, T0, "A"), (1, 11, T0 + 5 * M, "B"),   # resolves + empties
        (2, 20, T0, "B"), (2, 21, T0 + 1 * M, "C"),   # never an anchor
    ], columns=COLS)
    _write_chunk(d, "c0.parquet", chunk, 0)
    # two movers: first lifts the watermark past u1/u2's decision points
    # (resolving u1 and killing u2's non-anchor buffer on the timeout
    # sweep), second lifts it again so the sweep actually runs
    _write_chunk(d, "c1.parquet", _sentinel(T0 + timedelta(hours=4)), 1)
    _write_chunk(d, "c2.parquet",
                 pd.DataFrame([(98, 980, T0 + timedelta(hours=8), "A")],
                              columns=COLS), 2)

    out = streaming_match_absence(_read(spark, d), "A", "B", "C", WITHIN)
    q = (out.writeStream.format("memory").queryName("cep_life")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [r["user_id"] for r in spark.table("cep_life").collect()] \
        == [1]
    # store holds only the last live anchor (u98): u1 resolved-and-
    # emptied, u2 pruned-and-removed, and even the u99 mover's anchor
    # horizon-resolved once the second mover passed T0+4h30m
    progress = q.lastProgress or q.recentProgress[-1]
    n_state = progress["stateOperators"][0]["numRowsTotal"]
    assert n_state == 1, f"state leak: {n_state} rows in store"


def test_streaming_match_absence_random_chunking_parity(spark, tmp_path):
    """Property: for random event sets split at random chronological cut
    points (rows unordered within a chunk — the watermark only advances
    between batches), the streamed rows equal batch exactly. Exercises
    anchors resolving across many different batch boundaries."""
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 15):
            for _ in range(rng.randint(3, 12)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 5400)),
                    rng.choice(["A", "B", "C", "noise"])))
                eid += 1
        pdf = (pd.DataFrame(rows, columns=COLS)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        d = str(tmp_path / f"in_{seed}")
        os.makedirs(d)
        cuts = sorted(rng.sample(range(1, len(pdf)),
                                 k=rng.randint(2, 5)))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(pdf)])]
        for i, chunk in enumerate(chunks):
            # shuffle WITHIN the chunk: batch-internal order is free
            _write_chunk(d, f"c{i}.parquet",
                         chunk.sample(frac=1, random_state=seed), i)
        _write_chunk(d, "zz.parquet",
                     _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)),
                     len(chunks) + 5)
        out = streaming_match_absence(
            _read(spark, d), "A", "B", "C", WITHIN)
        q = (out.writeStream.format("memory")
             .queryName(f"cep_prop_{seed}")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = _rows(spark.table(f"cep_prop_{seed}").collect())
        truth = _rows(match_absence(
            spark.createDataFrame(pdf), "A", "B", "C",
            within_seconds=WITHIN).collect())
        assert got == truth, f"seed {seed}: stream != batch"
        assert out.dropped_events_acc.value == 0


def test_streaming_match_timeout_matches_batch(spark, tmp_path):
    """Timeout/SLA alerts: streamed rows equal batch match_timeout, each
    exactly once, firing at the watermark deadline."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_timeout,
    )
    rows = [
        (1, 10, T0, "A"), (1, 11, T0 + 5 * M, "B"),    # answered: silent
        (2, 20, T0, "A"),                              # alert
        (3, 30, T0, "A"), (3, 31, T0 + 90 * M, "B"),   # beyond: alert
        (4, 40, T0, "A"), (4, 41, T0 + 10 * M, "C"),   # unless: silent
        (5, 50, T0, "A"), (5, 51, T0, "B"),            # tie: silent
        (6, 60, T0 + 40 * M, "A"),                     # 2nd-chunk alert
    ]
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "in")
    os.makedirs(d)
    half = len(pdf) // 2
    _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
    _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)

    out = streaming_match_timeout(
        _read(spark, d), "A", "B", within_seconds=WITHIN, unless="C")
    q = (out.writeStream.format("memory").queryName("cep_to")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["first_event_id"], r["first_ts"],
            r["deadline_ts"])
           for r in spark.table("cep_to").collect()}
    truth = {(r["user_id"], r["first_event_id"], r["first_ts"],
              r["deadline_ts"])
             for r in match_timeout(
                 spark.createDataFrame(pdf), "A", "B",
                 within_seconds=WITHIN, unless="C").collect()}
    assert got == truth
    assert {g[0] for g in got} == {2, 3, 6}
    assert out.dropped_events_acc.value == 0
    # early retirement: answered/silenced anchors left the store before
    # their deadline; only the sentinel anchor remains
    progress = q.lastProgress or q.recentProgress[-1]
    assert progress["stateOperators"][0]["numRowsTotal"] == 1

    # "no repeat within T" (first == then): the anchor's silencer copy
    # of itself is not strictly after it
    aa = streaming_match_timeout(_read(spark, d), "A", "A",
                                 within_seconds=WITHIN)
    q = (aa.writeStream.format("memory").queryName("cep_to_aa")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    truth_aa = {(r["user_id"], r["first_event_id"], r["first_ts"],
                 r["deadline_ts"])
                for r in match_timeout(
                    spark.createDataFrame(pdf), "A", "A",
                    within_seconds=WITHIN).collect()}
    assert truth_aa
    assert {(r["user_id"], r["first_event_id"], r["first_ts"],
             r["deadline_ts"])
            for r in spark.table("cep_to_aa").collect()} == truth_aa


def _run_rows(collected):
    return {(r["user_id"], r["start_ts"], r["end_ts"], r["run_len"])
            for r in collected}


def test_streaming_match_runs_matches_batch(spark, tmp_path):
    """Kleene-plus runs: streamed rows equal batch match_runs, each
    exactly once — breaker-closed runs, a gap-split, a tie-ordered
    run, and a TRAILING run only the watermark can close."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_runs,
    )
    rows = [
        # u1: straight 3-run closed by 'ok'
        (1, 10, T0, "F"), (1, 11, T0 + M, "F"), (1, 12, T0 + 2 * M, "F"),
        (1, 13, T0 + 3 * M, "ok"),
        # u2: run split across the chunk boundary, then broken
        (2, 20, T0 + 4 * M, "F"), (2, 21, T0 + 40 * M, "F"),
        (2, 22, T0 + 41 * M, "ok"),
        # u3: gap above max_gap splits into singletons -> no output
        (3, 30, T0, "F"), (3, 31, T0 + 200 * M, "F"),
        # u4: tie timestamps ordered by event_id
        (4, 40, T0 + 5 * M, "F"), (4, 41, T0 + 5 * M, "F"),
        # u5: trailing run, never broken — gap-closure must emit it
        (5, 50, T0 + 60 * M, "F"), (5, 51, T0 + 61 * M, "F"),
        (5, 52, T0 + 62 * M, "F"),
    ]
    gap = 3600.0
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "in")
    os.makedirs(d)
    half = len(pdf) // 2
    _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
    _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)

    out = streaming_match_runs(
        _read(spark, d), "F", min_run=2, max_gap_seconds=gap)
    q = (out.writeStream.format("memory").queryName("cep_runs")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _run_rows(spark.table("cep_runs").collect())

    truth = _run_rows(match_runs(
        spark.createDataFrame(pdf), "F", min_run=2,
        max_gap_seconds=gap).collect())
    assert got == truth
    assert {g[0] for g in got} == {1, 2, 4, 5}   # incl. the trailing u5
    assert out.dropped_events_acc.value == 0


def test_streaming_match_runs_random_chunking_parity(spark, tmp_path):
    """Random event sets at random chronological cut points (unordered
    within a chunk): streamed runs equal batch for every boundary."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_runs,
    )
    for seed in (5, 29):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 15):
            for _ in range(rng.randint(3, 12)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 5400)),
                    rng.choice(["F", "F", "ok", "noise"])))
                eid += 1
        pdf = (pd.DataFrame(rows, columns=COLS)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        d = str(tmp_path / f"runs_{seed}")
        os.makedirs(d)
        cuts = sorted(rng.sample(range(1, len(pdf)),
                                 k=rng.randint(2, 5)))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(pdf)])]
        for i, chunk in enumerate(chunks):
            _write_chunk(d, f"c{i}.parquet",
                         chunk.sample(frac=1, random_state=seed), i)
        _write_chunk(d, "zz.parquet",
                     _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)),
                     len(chunks) + 5)
        out = streaming_match_runs(
            _read(spark, d), "F", min_run=2, max_gap_seconds=600)
        q = (out.writeStream.format("memory")
             .queryName(f"cep_runs_{seed}")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = _run_rows(spark.table(f"cep_runs_{seed}").collect())
        truth = _run_rows(match_runs(
            spark.createDataFrame(pdf), "F", min_run=2,
            max_gap_seconds=600).collect())
        assert got == truth, f"seed {seed}: stream != batch"
        assert out.dropped_events_acc.value == 0


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Native time-bound stream-stream join == batch banded
    interval_join on the same drained input, including cross-chunk
    pairs, negative dt, and the |dt| == gap boundary."""
    from bigdata_event_stream_detection_spark.operators.asof import (
        interval_join,
    )
    from bigdata_event_stream_detection_spark.streaming.joins import (
        streaming_interval_join,
    )

    rng = random.Random(3)
    lrows, rrows = [], []
    eid = 0
    for u in range(1, 10):
        for _ in range(rng.randint(1, 6)):
            lrows.append((u, eid, T0 + timedelta(
                seconds=rng.randint(0, 5400)), "error"))
            eid += 1
        for _ in range(rng.randint(1, 6)):
            rrows.append((u, eid, T0 + timedelta(
                seconds=rng.randint(0, 5400)), "purchase"))
            eid += 1
    # exact-boundary pair: dt == gap must be included
    lrows.append((99, 9900, T0, "error"))
    rrows.append((99, 9901, T0 + timedelta(seconds=600), "purchase"))
    lpdf = (pd.DataFrame(lrows, columns=COLS)
            .sort_values(["ts", "event_id"]).reset_index(drop=True))
    rpdf = (pd.DataFrame(rrows, columns=COLS)
            .sort_values(["ts", "event_id"]).reset_index(drop=True))
    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    for d, pdf in ((ld, lpdf), (rd, rpdf)):
        os.makedirs(d)
        half = len(pdf) // 2
        _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
        _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)

    out = streaming_interval_join(_read(spark, ld), _read(spark, rd),
                                  600.0)
    q = (out.writeStream.format("memory").queryName("sij")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.table("sij").collect()))

    truth = sorted(map(tuple, interval_join(
        spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
        600.0).collect()))
    assert got == truth
    assert (99, 9900, 9901, 600.0) in got      # boundary pair included
    assert any(r[3] < 0 for r in got)          # negative dt present


def test_streaming_match_timeout_rules_matches_batch(spark, tmp_path):
    """Dynamic-rules timeout CEP: streamed alerts equal the batch
    match_timeout_rules rows for a 3-rule table (including a
    self-type 'no repeat within T' rule), each exactly once."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout_rules,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_timeout_rules,
    )
    rows = [
        # r1 (A->B 30m): u1 answered, u2 alerts
        (1, 10, T0, "A"), (1, 11, T0 + 5 * M, "B"),
        (2, 20, T0, "A"),
        # r2 (B->C 10m): u3 answered, u1's B alerts
        (3, 30, T0, "B"), (3, 31, T0 + 2 * M, "C"),
        # r3 (C->C 15m): u4 burst -> only the last C alerts; anchors
        # must not self-silence even though each event carries both
        # an anchor and a silencer row
        (4, 40, T0, "C"), (4, 41, T0 + 5 * M, "C"),
        (4, 42, T0 + 10 * M, "C"),
        # second-chunk anchor
        (6, 60, T0 + 40 * M, "A"),
    ]
    rules = pd.DataFrame(
        [("r1", "A", "B", 1800.0), ("r2", "B", "C", 600.0),
         ("r3", "C", "C", 900.0)],
        columns=["rule_id", "first_type", "then_type",
                 "within_seconds"])
    rules_df = spark.createDataFrame(rules)
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "in")
    os.makedirs(d)
    half = len(pdf) // 2
    _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
    _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)

    out = streaming_match_timeout_rules(_read(spark, d), rules_df)
    q = (out.writeStream.format("memory").queryName("cep_rules")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    def keyset(collected):
        return {(r["user_id"], r["rule_id"], r["first_event_id"],
                 r["first_ts"], r["deadline_ts"]) for r in collected}

    got = keyset(spark.table("cep_rules").collect())
    truth = keyset(match_timeout_rules(
        spark.createDataFrame(pdf), rules_df).collect())
    # the sentinel (user 99, type "A") is data to the STREAM only: it
    # anchors r1 and times out inside the drained availableNow run, so
    # align batch truth by adding it there too before comparing
    got_no_sentinel = {g for g in got if g[0] != 99}
    assert got_no_sentinel == truth
    burst = {g for g in got if g[1] == "r3" and g[0] == 4}
    assert burst == {(4, "r3", 42, T0 + 10 * M,
                      T0 + 10 * M + pd.Timedelta(seconds=900))}
    assert out.dropped_events_acc.value == 0


def test_streaming_match_runs_resumes_from_checkpoint(spark, tmp_path):
    """Kill mid-input with an OPEN run in fold state, restart from the
    checkpoint: emissions still equal batch and no run fires twice
    (the fold accumulator must round-trip through the state store)."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_runs,
    )
    rows = [
        (1, 10, T0, "F"), (1, 11, T0 + M, "F"),          # chunk 1
        (1, 12, T0 + 2 * M, "F"), (1, 13, T0 + 3 * M, "ok"),  # chunk 2
        (2, 20, T0 + M, "F"), (2, 21, T0 + 2 * M, "F"),  # split run
        (3, 30, T0 + 4 * M, "F"), (3, 31, T0 + 5 * M, "F"),
    ]
    gap = 3600.0
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    half = len(pdf) // 2

    def run_once():
        q = (streaming_match_runs(
                _read(spark, in_dir), "F", min_run=2,
                max_gap_seconds=gap)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    _write_chunk(in_dir, "c0.parquet", pdf.iloc[:half], 0)
    run_once()                 # phase 1: open runs held in fold state
    _write_chunk(in_dir, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(in_dir, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)
    run_once()                 # phase 2: resume, drain, settle all

    final = spark.read.parquet(out_dir)
    assert (final.groupBy("user_id", "start_ts").count()
            .filter(F.col("count") > 1).count()) == 0
    truth = _run_rows(match_runs(
        spark.createDataFrame(pdf), "F", min_run=2,
        max_gap_seconds=gap).collect())
    assert _run_rows(final.collect()) == truth


def test_streaming_match_timeout_rules_random_chunking_parity(
        spark, tmp_path):
    """Random event sets at random chronological cut points: streamed
    rule alerts equal batch for every boundary, every rule."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout_rules,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_timeout_rules,
    )
    rules_df = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "A", "B", 1800.0), ("r2", "B", "A", 600.0),
             ("r3", "C", "C", 900.0)],
            columns=["rule_id", "first_type", "then_type",
                     "within_seconds"]))
    for seed in (17, 43):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 15):
            for _ in range(rng.randint(3, 12)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 5400)),
                    rng.choice(["A", "B", "C", "noise"])))
                eid += 1
        pdf = (pd.DataFrame(rows, columns=COLS)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        d = str(tmp_path / f"rules_{seed}")
        os.makedirs(d)
        cuts = sorted(rng.sample(range(1, len(pdf)),
                                 k=rng.randint(2, 5)))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(pdf)])]
        for i, chunk in enumerate(chunks):
            _write_chunk(d, f"c{i}.parquet",
                         chunk.sample(frac=1, random_state=seed), i)
        # sentinel type must not anchor/silence any rule: 'noise'
        sent = pd.DataFrame(
            [(99, 990, pdf["ts"].max() + pd.Timedelta(days=30),
              "noise")], columns=COLS)
        _write_chunk(d, "zz.parquet", sent, len(chunks) + 5)
        out = streaming_match_timeout_rules(_read(spark, d), rules_df)
        q = (out.writeStream.format("memory")
             .queryName(f"cep_rules_{seed}")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        keyset = lambda rs: {  # noqa: E731
            (r["user_id"], r["rule_id"], r["first_event_id"],
             r["first_ts"], r["deadline_ts"]) for r in rs}
        got = keyset(spark.table(f"cep_rules_{seed}").collect())
        truth = keyset(match_timeout_rules(
            spark.createDataFrame(pdf), rules_df).collect())
        assert got == truth, f"seed {seed}: stream != batch"
        assert out.dropped_events_acc.value == 0


def test_streaming_match_absence_rules_random_chunking_parity(
        spark, tmp_path):
    """Dynamic-rules absence CEP: streamed matches equal batch across
    random micro-batch boundaries, for every rule, including a
    self-type-then rule whose anchors buffer two role copies."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence_rules,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_absence_rules,
    )
    rules_df = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "A", "B", "C", 1800.0),
             ("r2", "B", "C", "A", 600.0),
             ("r3", "A", "A", "C", 900.0)],
            columns=["rule_id", "first_type", "then_type",
                     "without_type", "within_seconds"]))
    for seed in (7, 31):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 15):
            for _ in range(rng.randint(3, 12)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 5400)),
                    rng.choice(["A", "B", "C", "noise"])))
                eid += 1
        pdf = (pd.DataFrame(rows, columns=COLS)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        d = str(tmp_path / f"ar_{seed}")
        os.makedirs(d)
        cuts = sorted(rng.sample(range(1, len(pdf)),
                                 k=rng.randint(2, 5)))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(pdf)])]
        for i, chunk in enumerate(chunks):
            _write_chunk(d, f"c{i}.parquet",
                         chunk.sample(frac=1, random_state=seed), i)
        sent = pd.DataFrame(
            [(99, 990, pdf["ts"].max() + pd.Timedelta(days=30),
              "noise")], columns=COLS)
        _write_chunk(d, "zz.parquet", sent, len(chunks) + 5)
        out = streaming_match_absence_rules(_read(spark, d), rules_df)
        q = (out.writeStream.format("memory")
             .queryName(f"ar_{seed}")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        keyset = lambda rs: {  # noqa: E731
            (r["user_id"], r["rule_id"], r["first_event_id"],
             r["first_ts"], r["then_ts"], r["gap_sec"]) for r in rs}
        got = keyset(spark.table(f"ar_{seed}").collect())
        truth = keyset(match_absence_rules(
            spark.createDataFrame(pdf), rules_df).collect())
        assert got == truth, f"seed {seed}: stream != batch"
        assert any(g[1] == "r3" for g in got)
        assert out.dropped_events_acc.value == 0


# ---------------------------------------------------------------------------
# streaming_match_seq: continuous MATCH_RECOGNIZE quantified patterns
# ---------------------------------------------------------------------------

VCP = [("a", "A", "1"), ("b", "B", "+"), ("c", "C", "1")]


def _seq_rows(collected):
    return {(r["user_id"], r["first_event_id"], r["start_ts"],
             r["end_ts"], r["n_events"], r["step_counts"])
            for r in collected}


def test_streaming_match_seq_matches_batch(spark, tmp_path):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq,
    )

    rows = [
        # u1: B-run split ACROSS micro-batches
        (1, 10, T0, "A"), (1, 11, T0 + 5 * M, "B"),
        (1, 12, T0 + 7 * M, "B"), (1, 13, T0 + 10 * M, "C"),
        # u2: failed anchor (C beyond horizon), later anchor succeeds
        (2, 20, T0, "A"), (2, 21, T0 + 20 * M, "A"),
        (2, 22, T0 + 35 * M, "B"), (2, 23, T0 + 45 * M, "C"),
        # u3: trailing '+'-less pattern noise
        (3, 30, T0 + 1 * M, "noise"),
    ]
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "seq_in")
    os.makedirs(d)
    half = len(pdf) // 2
    _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
    _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)

    out = streaming_match_seq(_read(spark, d), VCP, within_seconds=1800)
    q = (out.writeStream.format("memory").queryName("seq_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _seq_rows(spark.table("seq_s").collect())
    truth = _seq_rows(match_seq(
        spark.createDataFrame(pdf), VCP,
        within_seconds=1800).collect())
    assert got == truth
    assert {g[0] for g in got} == {1, 2}
    assert out.dropped_events_acc.value == 0


def test_streaming_match_seq_random_chunking_parity(spark, tmp_path):
    """Random events at random chronological cut points (shuffled
    within each chunk): streamed matches equal batch for every split —
    decidability, consumption, and suffix retention included."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq,
    )

    for seed in (7, 41):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 15):
            for _ in range(rng.randint(3, 20)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 5400)),
                    rng.choice(["A", "B", "B", "C", "noise"])))
                eid += 1
        pdf = (pd.DataFrame(rows, columns=COLS)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        d = str(tmp_path / f"seq_{seed}")
        os.makedirs(d)
        cuts = sorted(rng.sample(range(1, len(pdf)),
                                 k=rng.randint(2, 5)))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(pdf)])]
        for i, chunk in enumerate(chunks):
            _write_chunk(d, f"c{i}.parquet",
                         chunk.sample(frac=1, random_state=seed), i)
        _write_chunk(d, "zz.parquet",
                     _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)),
                     len(chunks) + 5)
        out = streaming_match_seq(
            _read(spark, d), VCP, within_seconds=900)
        q = (out.writeStream.format("memory")
             .queryName(f"seq_p_{seed}")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = _seq_rows(spark.table(f"seq_p_{seed}").collect())
        truth = _seq_rows(match_seq(
            spark.createDataFrame(pdf), VCP,
            within_seconds=900).collect())
        assert got == truth, f"seed {seed}: stream != batch"
        assert out.dropped_events_acc.value == 0


def test_streaming_match_seq_resumes_from_checkpoint(spark, tmp_path):
    """Kill after the first batches, restart on the same checkpoint:
    the union of emissions equals batch with no duplicates."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq,
    )

    rows = [
        (1, 10, T0, "A"), (1, 11, T0 + 5 * M, "B"),
        (1, 12, T0 + 7 * M, "B"), (1, 13, T0 + 10 * M, "C"),
        (2, 20, T0 + 2 * M, "A"), (2, 21, T0 + 6 * M, "B"),
        (2, 22, T0 + 9 * M, "C"),
    ]
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "seq_ck_in")
    os.makedirs(d)
    ckpt = str(tmp_path / "seq_ck")
    sink = str(tmp_path / "seq_out")
    _write_chunk(d, "c0.parquet", pdf.iloc[:4], 0)

    def run():
        out = streaming_match_seq(
            _read(spark, d), VCP, within_seconds=1800)
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()                                 # phase 1: nothing decidable yet
    _write_chunk(d, "c1.parquet", pdf.iloc[4:], 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)), 9)
    run()                                 # phase 2: resume, decide, emit
    run()                                 # phase 3: no new data, no dupes

    got = _seq_rows(spark.read.parquet(sink).collect())
    truth = _seq_rows(match_seq(
        spark.createDataFrame(pdf), VCP,
        within_seconds=1800).collect())
    assert got == truth
    n_files = spark.read.parquet(sink).count()
    assert n_files == len(truth)          # exactly once, no duplicates


def test_streaming_match_seq_rules_random_chunking_parity(
        spark, tmp_path):
    """Dynamic-rules sequence CEP: streamed == batch at random
    chronological cut points, per (user, rule) group."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq_rules,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq_rules,
    )

    rules_rows = [("r1", "A:1,B:+,C:1", 900.0),
                  ("r2", "D:+", 600.0),
                  ("r3", "B:1,B:+", 1200.0)]

    def _rules():
        return spark.createDataFrame(
            rules_rows,
            "rule_id string, steps string, within_seconds double")

    def _rowset(collected):
        return {(r["user_id"], r["rule_id"], r["first_event_id"],
                 r["start_ts"], r["end_ts"], r["n_events"],
                 r["step_counts"]) for r in collected}

    for seed in (13,):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 15):
            for _ in range(rng.randint(3, 20)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 5400)),
                    rng.choice(["A", "B", "B", "C", "D", "noise"])))
                eid += 1
        pdf = (pd.DataFrame(rows, columns=COLS)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        d = str(tmp_path / f"seqr_{seed}")
        os.makedirs(d)
        cuts = sorted(rng.sample(range(1, len(pdf)), k=3))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(pdf)])]
        for i, chunk in enumerate(chunks):
            _write_chunk(d, f"c{i}.parquet",
                         chunk.sample(frac=1, random_state=seed), i)
        _write_chunk(d, "zz.parquet",
                     _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)),
                     len(chunks) + 5)
        out = streaming_match_seq_rules(_read(spark, d), _rules())
        q = (out.writeStream.format("memory")
             .queryName(f"seqr_{seed}")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = _rowset(spark.table(f"seqr_{seed}").collect())
        truth = _rowset(match_seq_rules(
            spark.createDataFrame(pdf), _rules()).collect())
        assert got == truth, f"seed {seed}: stream != batch"
        assert len({g[1] for g in got}) == 3
        assert out.dropped_events_acc.value == 0


def test_streaming_match_seq_rules_spec_change_reencodes(
        spark, tmp_path):
    """Restart with a CHANGED spec for the same rule_id: buffered state
    re-encodes under the new spec (types dropped from the pattern fall
    out of the buffer) and matching continues with no crash."""
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq_rules,
    )

    d = str(tmp_path / "seqchg_in")
    os.makedirs(d)
    ckpt = str(tmp_path / "seqchg_ck")
    sink = str(tmp_path / "seqchg_out")
    # phase 1: rule = A then B+ ; anchor A arrives, undecided
    rows1 = [(1, 10, T0, "A"), (1, 11, T0 + 2 * M, "B")]
    _write_chunk(d, "c0.parquet", pd.DataFrame(rows1, columns=COLS), 0)

    def run(spec):
        rules = spark.createDataFrame(
            [("r", spec, 900.0)],
            "rule_id string, steps string, within_seconds double")
        out = streaming_match_seq_rules(_read(spark, d), rules)
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run("A:1,B:+")
    # phase 2: same rule_id, NEW spec A then C — buffered B is dropped,
    # the buffered A still anchors and matches the arriving C
    rows2 = [(1, 12, T0 + 5 * M, "C")]
    _write_chunk(d, "c1.parquet", pd.DataFrame(rows2, columns=COLS), 1)
    _write_chunk(d, "zz.parquet",
                 _sentinel(T0 + pd.Timedelta(days=30)), 9)
    run("A:1,C:1")

    got = spark.read.parquet(sink).collect()
    assert {(r["user_id"], r["rule_id"], r["first_event_id"],
             r["n_events"], r["step_counts"]) for r in got} == {
        (1, "r", 10, 2, "A=1,C=1")}


def test_streaming_match_seq_predicate_matches_batch(spark, tmp_path):
    """DEFINE-clause (predicate) classification streams identically to
    batch — value-gated anchors included."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq,
    )

    steps = [("hi_A", "event_type = 'A' AND value >= 10.0", "1"),
             ("b", "event_type = 'B'", "+")]
    rng = random.Random(3)
    rows = []
    eid = 0
    for u in range(1, 12):
        for _ in range(rng.randint(3, 15)):
            rows.append((u, eid,
                         T0 + timedelta(seconds=rng.randint(0, 5400)),
                         rng.choice(["A", "B", "B", "noise"]),
                         round(rng.uniform(0, 20), 2)))
            eid += 1
    cols = COLS + ["value"]
    pdf = (pd.DataFrame(rows, columns=cols)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "seqp_in")
    os.makedirs(d)
    schema = pa.schema(list(ARROW_SCHEMA) + [("value", pa.float64())])
    half = len(pdf) // 2
    for i, sl in enumerate([pdf.iloc[:half], pdf.iloc[half:]]):
        f = os.path.join(d, f"c{i}.parquet")
        pq.write_table(pa.Table.from_pandas(
            sl, schema=schema, preserve_index=False), f)
        os.utime(f, (time.time() + i, time.time() + i))
    sent = _sentinel(pdf["ts"].max() + pd.Timedelta(days=30))
    sent["value"] = 99.0
    f = os.path.join(d, "zz.parquet")
    pq.write_table(pa.Table.from_pandas(
        sent[cols], schema=schema, preserve_index=False), f)
    os.utime(f, (time.time() + 9, time.time() + 9))

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp,"
                      " event_type string, value double")
              .option("maxFilesPerTrigger", "1").parquet(d))
    out = streaming_match_seq(stream, steps, within_seconds=900,
                              classify="predicate")
    q = (out.writeStream.format("memory").queryName("seqp_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _seq_rows(spark.table("seqp_s").collect())
    truth = _seq_rows(match_seq(
        spark.createDataFrame(pdf), steps, within_seconds=900,
        classify="predicate").collect())
    # the A-typed sentinel (value 99) anchors in batch but is never
    # decidable in the stream (the watermark stops at it): exclude it
    truth = {t for t in truth if t[0] != 99}
    got = {g for g in got if g[0] != 99}
    assert got == truth
    assert len(got) > 0


def test_streaming_match_seq_next_row_chunking_parity(spark, tmp_path):
    """AFTER MATCH SKIP TO NEXT ROW (overlapping matches) streams
    identically to batch across random chunk boundaries."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq,
    )

    rng = random.Random(61)
    rows = []
    eid = 0
    for u in range(1, 12):
        for _ in range(rng.randint(3, 18)):
            rows.append((u, eid,
                         T0 + timedelta(seconds=rng.randint(0, 5400)),
                         rng.choice(["A", "A", "B", "C", "noise"])))
            eid += 1
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "seq_nr")
    os.makedirs(d)
    cuts = sorted(rng.sample(range(1, len(pdf)), k=3))
    chunks = [pdf.iloc[a:b] for a, b in
              zip([0] + cuts, cuts + [len(pdf)])]
    for i, chunk in enumerate(chunks):
        _write_chunk(d, f"c{i}.parquet",
                     chunk.sample(frac=1, random_state=61), i)
    _write_chunk(d, "zz.parquet",
                 _sentinel(pdf["ts"].max() + pd.Timedelta(days=30)),
                 len(chunks) + 5)
    out = streaming_match_seq(
        _read(spark, d), VCP, within_seconds=900,
        after_match="next_row")
    q = (out.writeStream.format("memory").queryName("seq_nr")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _seq_rows(spark.table("seq_nr").collect())
    truth = _seq_rows(match_seq(
        spark.createDataFrame(pdf), VCP, within_seconds=900,
        after_match="next_row").collect())
    assert got == truth
    assert out.dropped_events_acc.value == 0


def test_fixed_twins_flush_on_non_pattern_sentinel(spark, tmp_path):
    """Every input event advances the watermark in every twin: a stream
    ending in a non-pattern ('noise') sentinel still resolves pending
    anchors, and the fixed timeout/absence twins equal batch AND their
    one-rule rules twin without rule_id."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_absence_rules, streaming_match_timeout,
        streaming_match_timeout_rules,
    )
    rng = random.Random(19)
    rows = []
    for u in range(1, 12):
        for _ in range(rng.randint(3, 10)):
            rows.append((u, len(rows),
                         T0 + timedelta(seconds=rng.randint(0, 5400)),
                         rng.choice(["A", "B", "C", "noise"])))
    # a last anchor nothing answers: only the noise sentinel decides it
    rows.append((50, len(rows), T0 + timedelta(seconds=5400), "A"))
    pdf = (pd.DataFrame(rows, columns=COLS)
           .sort_values(["ts", "event_id"]).reset_index(drop=True))
    d = str(tmp_path / "noise_end")
    os.makedirs(d)
    half = len(pdf) // 2
    _write_chunk(d, "c0.parquet", pdf.iloc[:half], 0)
    _write_chunk(d, "c1.parquet", pdf.iloc[half:], 1)
    _write_chunk(d, "zz.parquet", pd.DataFrame(
        [(99, 990, pdf["ts"].max() + pd.Timedelta(days=30), "noise")],
        columns=COLS), 9)

    def drain(out, name):
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.table(name).drop("rule_id").collect()

    to_keys = ("user_id", "first_event_id", "first_ts", "deadline_ts")
    fixed_to = {tuple(r[k] for k in to_keys) for r in drain(
        streaming_match_timeout(_read(spark, d), "A", "B", WITHIN),
        "noise_to")}
    rules_to = {tuple(r[k] for k in to_keys) for r in drain(
        streaming_match_timeout_rules(_read(spark, d), spark.createDataFrame(
            [("r", "A", "B", float(WITHIN))],
            "rule_id string, first_type string, then_type string,"
            " within_seconds double")), "noise_to_rules")}
    batch_to = {tuple(r[k] for k in to_keys) for r in match_timeout(
        spark.createDataFrame(pdf), "A", "B",
        within_seconds=WITHIN).collect()}
    assert any(t[0] == 50 for t in batch_to)
    assert fixed_to == batch_to
    assert fixed_to == rules_to

    fixed_ab = _rows(drain(streaming_match_absence(
        _read(spark, d), "A", "B", "C", WITHIN), "noise_ab"))
    rules_ab = _rows(drain(streaming_match_absence_rules(
        _read(spark, d), spark.createDataFrame(
            [("r", "A", "B", "C", float(WITHIN))],
            "rule_id string, first_type string, then_type string,"
            " without_type string, within_seconds double")),
        "noise_ab_rules"))
    batch_ab = _rows(match_absence(
        spark.createDataFrame(pdf), "A", "B", "C",
        within_seconds=WITHIN).collect())
    assert batch_ab
    assert fixed_ab == batch_ab
    assert fixed_ab == rules_ab


@pytest.mark.parametrize("twin", ["timeout", "seq"])
def test_bounded_state_keeps_earliest_events(spark, tmp_path, twin):
    """max_events_in_state: one user's events arrive in ONE micro-batch;
    the buffer keeps the earliest N by (ts, event_id), the accumulator
    counts exactly the overflow, and the emitted rows equal batch on
    those N events (which differ from batch on all of them)."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq, match_timeout,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_seq, streaming_match_timeout,
    )
    cap = 5
    if twin == "timeout":
        # the 6th event (B @55) would silence the 5th (A @50)
        plan = [(0, "A"), (5, "B"), (10, "A"), (20, "A"), (50, "A"),
                (55, "B"), (60, "A"), (62, "B"), (70, "A")]

        def stream_of(src):
            return streaming_match_timeout(
                src, "A", "B", within_seconds=WITHIN,
                max_events_in_state=cap)

        def batch_of(df):
            return match_timeout(df, "A", "B", within_seconds=WITHIN)
    else:
        # the 6th event (C @30) would complete the 4th's A B+ C
        plan = [(0, "A"), (5, "B"), (10, "C"), (20, "A"), (25, "B"),
                (30, "C"), (40, "A"), (41, "B"), (42, "C")]

        def stream_of(src):
            return streaming_match_seq(
                src, VCP, within_seconds=WITHIN,
                max_events_in_state=cap)

        def batch_of(df):
            return match_seq(df, VCP, within_seconds=WITHIN)
    pdf = pd.DataFrame([(1, 100 + i, T0 + m * M, t)
                        for i, (m, t) in enumerate(plan)], columns=COLS)
    d = str(tmp_path / f"cap_{twin}")
    os.makedirs(d)
    # one micro-batch, rows in reverse order: the trim must sort
    _write_chunk(d, "c0.parquet", pdf.iloc[::-1], 0)
    _write_chunk(d, "zz.parquet", pd.DataFrame(
        [(99, 990, T0 + pd.Timedelta(days=30), "noise")], columns=COLS), 9)

    out = stream_of(_read(spark, d))
    q = (out.writeStream.format("memory").queryName(f"cap_{twin}")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    def rowset(rs):
        return {tuple(r) for r in rs}

    got = rowset(spark.table(f"cap_{twin}").collect())
    truth = rowset(batch_of(spark.createDataFrame(pdf.iloc[:cap])).collect())
    assert out.dropped_events_acc.value == len(pdf) - cap
    assert got == truth
    assert truth != rowset(batch_of(spark.createDataFrame(pdf)).collect())
