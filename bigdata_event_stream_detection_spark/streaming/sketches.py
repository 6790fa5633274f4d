"""Streaming sketch aggregates: windowed HLL++ distinct counts.

Exact windowed ``count(DISTINCT x)`` is not supported by Structured
Streaming's append mode (the distinct set would be unbounded state);
the HLL++ sketch IS, because it is a fixed-size register array whose
merge is commutative, associative, and idempotent-under-max — so the
incremental micro-batch merges produce bit-identical registers to a
one-shot batch aggregation regardless of arrival order. That makes
stream == batch parity EXACT (same estimate, not "close"), which the
parity test asserts.

This is the production form of ``operators.sketches`` at stream time:
per-window unique users/documents over an unbounded stream with
O(windows x groups x 1.5 kB) state, closed by the watermark.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .state import _state_stream


def streaming_windowed_distinct(
    stream: DataFrame,
    keys: list[str],
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    watermark_delay: str = "30 minutes",
    rsd: float = 0.05,
) -> DataFrame:
    """Per-(window, keys) HLL++ distinct count of ``col`` in append
    mode: each window emits exactly once, when the watermark closes it.
    """
    return (
        stream.withWatermark(time_col, watermark_delay)
        .groupBy(F.window(time_col, length).alias("w"), *keys)
        .agg(F.approx_count_distinct(col, rsd).alias("n_approx"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
            *keys, "n_approx")
    )


def batch_windowed_distinct(
    df: DataFrame,
    keys: list[str],
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    rsd: float = 0.05,
) -> DataFrame:
    """The batch twin (same plan minus the watermark) — the parity
    oracle for the streaming form."""
    return (
        df.groupBy(F.window(time_col, length).alias("w"), *keys)
        .agg(F.approx_count_distinct(col, rsd).alias("n_approx"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
            *keys, "n_approx")
    )


def streaming_windowed_histogram(
    stream: DataFrame,
    keys: list[str],
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    watermark_delay: str = "30 minutes",
    bin_width: float = 1.0,
) -> DataFrame:
    """Per-(window, keys) fixed-width value histogram in append mode —
    the streaming quantile sketch (see ``operators.sketches.
    binned_histogram``: exact mergeable bin counts, order-insensitive,
    so stream == batch parity is EXACT, unlike KLL/t-digest whose
    merges depend on arrival order). Each window's bins emit exactly
    once when the watermark closes it; feed the closed rows to
    ``operators.sketches.histogram_quantiles`` for per-window
    quantile estimates within ``bin_width`` of the true discrete
    quantile. State is O(windows x keys x occupied bins) longs.
    """
    return (
        stream.withWatermark(time_col, watermark_delay)
        .groupBy(
            F.window(time_col, length).alias("w"),
            *keys,
            F.floor(F.col(col) / F.lit(float(bin_width))).alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
            *keys, "bin", "cnt")
    )


def batch_windowed_histogram(
    df: DataFrame,
    keys: list[str],
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    bin_width: float = 1.0,
) -> DataFrame:
    """The batch twin (same plan minus the watermark) — the parity
    oracle for the streaming form."""
    return (
        df.groupBy(
            F.window(time_col, length).alias("w"),
            *keys,
            F.floor(F.col(col) / F.lit(float(bin_width))).alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
            *keys, "bin", "cnt")
    )


def streaming_windowed_heavy_hitters(
    stream: DataFrame,
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    watermark_delay: str = "30 minutes",
    capacity: int = 256,
    num_buckets: int = 8,
) -> DataFrame:
    """Per-window Misra-Gries heavy-hitter candidates over an unbounded
    stream, emitted once when the watermark closes the window.

    State is keyed by (window_start, hash-bucket of the VALUE) — not by
    window alone — so a hot window spreads across ``num_buckets`` tasks
    and state entries (the window-keyed-state bottleneck the engine's
    round-1 review flagged, avoided by construction here). Every
    occurrence of one value lands in one bucket, so per-value error
    keeps the Misra-Gries bound within its bucket: emitted rows are
    (ws_epoch, bucket, value, lb, n_bucket) with

        lb <= true_count <= lb + n_bucket / (capacity + 1)

    and NO FALSE NEGATIVES among values with true_count >
    n_bucket/(capacity+1). A bucket whose counters all trim away
    (pure long-tail) emits one NULL-value marker row so its n_bucket
    still reaches consumers, who union buckets per window and apply
    their threshold against sum(n_bucket); an exact recount (batch
    ``operators.sketches.heavy_hitters`` pass 2) upgrades candidates
    to exact counts when needed. State per key is bounded:
    ``capacity`` (value, count) pairs + one total.
    """
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    state_schema = StructType([
        StructField("vals", ArrayType(StringType())),
        StructField("cnts", ArrayType(LongType())),
        StructField("n_bucket", LongType()),
        StructField("ws_us", LongType()),
    ])
    out_schema = StructType([
        StructField("ws_epoch", LongType()),
        StructField("bucket", LongType()),
        StructField("value", StringType()),
        StructField("lb", LongType()),
        StructField("n_bucket", LongType()),
    ])

    def step(key, old, pdfs, wm_ms):
        ws_us, bucket = key
        if old is not None:
            vals, cnts, n_bucket, end_us = old
            counters = pd.Series(list(cnts),
                                 index=list(vals), dtype="int64")
        else:
            counters = pd.Series(dtype="int64")
            n_bucket, end_us = 0, None

        for pdf in pdfs:
            if not len(pdf):
                continue
            n_bucket += len(pdf)
            if end_us is None:
                end_us = int(pdf["_we_us"].iloc[0])
            vc = pdf[col].value_counts()
            counters = counters.add(vc, fill_value=0).astype("int64")
            if len(counters) > capacity:
                cut = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]

        # a timeout call always closes: its timer lies past end_us and
        # fires only once the watermark passes it. A bucket whose
        # counters all trimmed away (pure tail) emits a NULL-value
        # marker so its row count still reaches the window total
        if end_us is not None and end_us <= wm_ms * 1000:
            pairs = counters.items() if len(counters) else [(None, 0)]
            return ([(ws_us // 1_000_000, bucket, v, int(lb), n_bucket)
                     for v, lb in pairs], None, None, 0)
        return ([], (list(counters.index.astype(str)),
                     [int(c) for c in counters.to_numpy()],
                     int(n_bucket),
                     int(end_us if end_us is not None else 0)),
                None if end_us is None else end_us // 1000 + 1, 0)

    w = F.window(time_col, length)
    keyed = (
        stream.withWatermark(time_col, watermark_delay)
        .select(
            F.unix_micros(w.start).alias("_ws_us"),
            F.unix_micros(w.end).alias("_we_us"),
            F.pmod(F.xxhash64(F.col(col).cast("string")),
                   F.lit(num_buckets)).alias("_bucket"),
            F.col(col).cast("string").alias(col),
            # the watermarked event-time column must stay in the plan
            # for EventTimeTimeout to attach
            F.col(time_col),
        )
    )
    return _state_stream(keyed, ["_ws_us", "_bucket"], step, state_schema,
                         out_schema)[0]


def streaming_windowed_count_min(
    stream: DataFrame,
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    watermark_delay: str = "30 minutes",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Per-window count-min sketch cells in append mode: each closed
    window emits its (ws_epoch, row, bucket, cnt) relation exactly
    once. Cells are exact longs (operators/sketches.count_min_sketch),
    so the merge inside the windowed agg is order-insensitive and the
    streamed cells EQUAL the batch twin bit-for-bit — and downstream,
    per-window point-frequency estimates come from the same
    ``count_min_estimate`` probe join, batch or stored."""
    from ..functions.textfns import hash60

    rows = F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1)))
    cells = (
        stream.withWatermark(time_col, watermark_delay)
        .select(F.col(time_col), F.col(col).cast("string").alias("_v"))
        .withColumn("row", rows)
        .select(
            time_col, "row",
            F.pmod(hash60(F.concat_ws("|", F.lit("cm"), F.col("row"),
                                      F.col("_v"))),
                   F.lit(int(width))).alias("bucket"),
        )
        .groupBy(F.window(time_col, length).alias("w"), "row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    return cells.select(
        F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
        "row", "bucket", "cnt")


def batch_windowed_count_min(
    df: DataFrame,
    col: str,
    time_col: str = "ts",
    length: str = "1 hour",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """The batch twin (same plan minus the watermark) — the parity
    oracle for the streaming form."""
    from ..functions.textfns import hash60

    rows = F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1)))
    return (
        df.select(F.col(time_col), F.col(col).cast("string").alias("_v"))
        .withColumn("row", rows)
        .select(
            time_col, "row",
            F.pmod(hash60(F.concat_ws("|", F.lit("cm"), F.col("row"),
                                      F.col("_v"))),
                   F.lit(int(width))).alias("bucket"),
        )
        .groupBy(F.window(time_col, length).alias("w"), "row", "bucket")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
                "row", "bucket", "cnt")
    )
