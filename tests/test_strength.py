"""absoluteStrength slice / strength-series operators and the
format-agnostic sequences-table adapters."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.operators import em as em_ops
from bigdata_event_stream_detection_spark.operators import hmm as hmm_ops
from bigdata_event_stream_detection_spark.operators import windows as win
from bigdata_event_stream_detection_spark.plans.pipeline import small_params

PARAMS = small_params(
    num_themes=3, window_length="6 hours", em_iterations=10,
    min_doc_tokens=50, min_word_corpus_count=5, bw_max_iterations=8,
)


@pytest.fixture(scope="module")
def doc_counts(tiny_sequences):
    seqs = win.filter_docs(tiny_sequences, min_tokens=PARAMS.min_doc_tokens)
    model = bg.background_model(seqs, min_count=PARAMS.min_word_corpus_count)
    windowed = win.with_time_window(seqs, length=PARAMS.window_length)
    themes = em_ops.filter_themes(
        em_ops.em_themes(
            windowed, model, k=PARAMS.num_themes,
            iterations=PARAMS.em_iterations),
        PARAMS.num_themes, PARAMS.theme_score_floor_factor)
    dc = hmm_ops.doc_theme_counts(windowed, themes, model,
                                  max_iterations=PARAMS.bw_max_iterations)
    dc = dc.persist()
    dc.count()
    return dc


def test_doc_counts_consistent_with_detect_events(tiny_sequences, doc_counts):
    """Summing the per-doc counts per (window, source, theme) must equal
    the detect_events strength rows (same kernel, finer grain)."""
    from bigdata_event_stream_detection_spark.plans.pipeline import (
        detect_event_stream,
    )

    agg = {(r["window_start"], r["source"], r["theme_id"]): r["s"]
           for r in doc_counts.groupBy("window_start", "source", "theme_id")
           .agg(F.sum("strength").alias("s")).collect()}
    ev = {(r["window_start"], r["source"], r["theme_id"]): r["strength"]
          for r in detect_event_stream(tiny_sequences, PARAMS).collect()}
    assert agg == ev


def test_theme_strength_slice_bounds(doc_counts):
    """The slice aggregate equals a manual filter+sum, and slicing the
    full time range reproduces the per-theme total."""
    tid = int(doc_counts.select("theme_id").first()["theme_id"])
    lo = doc_counts.agg(F.min("event_time")).collect()[0][0]
    hi = doc_counts.agg(F.max("event_time")).collect()[0][0]
    full_len_h = int((hi - lo).total_seconds() // 3600) + 2
    full = hmm_ops.theme_strength(
        doc_counts, theme_id=tid, start=str(lo),
        length=f"{full_len_h} hours").collect()
    truth = {r["source"]: r["s"] for r in doc_counts
             .filter(F.col("theme_id") == tid).groupBy("source")
             .agg(F.sum("strength").alias("s")).collect()}
    assert {r["source"]: r["strength"] for r in full} == truth
    # a slice strictly inside the range is a subset of the full total
    part = hmm_ops.theme_strength(
        doc_counts, theme_id=tid,
        start=str(lo + pd.Timedelta(hours=2)), length="3 hours").collect()
    for r in part:
        assert r["strength"] <= truth[r["source"]]


def test_strength_series_finer_than_window(doc_counts):
    """Minute buckets give strictly finer granularity than the 6-hour
    analysis window, and bucket sums reconcile to the theme totals."""
    s = hmm_ops.strength_series(doc_counts, bucket="minute")
    rows = s.collect()
    assert rows
    n_windows = doc_counts.select("window_start").distinct().count()
    n_buckets = s.select("bucket").distinct().count()
    assert n_buckets > n_windows
    total_series = sum(r["strength"] for r in rows)
    total_truth = doc_counts.agg(F.sum("strength")).collect()[0][0]
    assert total_series == total_truth


def test_tables_parquet_roundtrip(spark, tiny_sequences, tmp_path):
    """Format-agnostic adapters: parquet batch + streaming reads carry
    the input-hint schema; event write partitions by window."""
    from bigdata_event_stream_detection_spark.sources.tables import (
        has_iceberg, read_sequences, read_sequences_stream, write_events,
    )

    p = str(tmp_path / "seqtable")
    tiny_sequences.limit(50).write.parquet(p)
    back = read_sequences(spark, p)
    assert set(back.columns) == {"doc_id", "tokens", "n_tok", "source",
                                 "event_time"}
    assert back.count() == 50
    stream = read_sequences_stream(spark, p, max_files_per_trigger=1)
    assert stream.isStreaming
    # no Iceberg runtime in this sandbox — adapter must report that
    assert has_iceberg(spark) is False

    from datetime import datetime

    ev = spark.createDataFrame(
        [(datetime(2015, 1, 1), "GDL", 1, 10)],
        "window_start timestamp, source string, theme_id int, strength long")
    out = str(tmp_path / "events_out")
    write_events(ev, out, partition_by=("window_start",))
    assert spark.read.parquet(out).count() == 1
