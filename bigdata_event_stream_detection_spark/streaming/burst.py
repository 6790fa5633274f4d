"""Closed-window counting in grouped state, and streaming burst
detection on it: the continuous form of ``operators.windows.
burst_windows``.

``_closed_window_counter`` is the layout shared with
``streaming/changepoint.py``, a step of the grouped-state driver
``state._state_stream``. Per key (event type / tenant / source) it
counts rows into tumbling event-time windows, closes each window IN
ORDER once the watermark passes its end, and hands the closed count to
the operator's fold, ``step(n, fold) -> (row | None, fold)``; a row is
emitted (append mode, exactly once per closed window) as ``(key,
ws_epoch, *row)``. The counter owns the open-window counts and the
vectorized micro-batch bucketing (one numpy pass per key), the late
fence — rows for a window at or before the newest closed one are
dropped and COUNTED into ``dropped_rows_acc`` (append mode cannot
revise an emitted window) — and the wake-up at the first open window's
end.

Burst's fold is the trailing baseline of the most recent non-empty
closed windows: a window is emitted iff its count reaches ``min_lift``
x that baseline. Output rows are identical to the batch operator on
the same input once every real window has closed — the same
batch/streaming parity contract as ``streaming_detect_events``.

Scale shape: the ONLY exchange is the hash shuffle on ``key_col``
(naturally bounded cardinality), and each key's state is O(open
windows) longs plus the fold (here ``baseline_windows`` longs), so the
state store carries kilobytes per key no matter the stream volume.
Contrast with a naive global sort or an unbounded raw-event buffer —
neither survives a hot stream.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .state import _state_stream

BURST_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("ws_epoch", LongType()),
    StructField("n", LongType()),
    StructField("baseline", DoubleType()),
    StructField("lift", DoubleType()),
])


def _closed_window_counter(stream: DataFrame, step, fold: tuple,
                           fold_ddl: str, out_schema: StructType, *,
                           time_col: str, key_col: str, window_seconds: int,
                           watermark_delay: str) -> DataFrame:
    """Run ``step`` over each key's closed-window counts, in window
    order (see module docstring). ``fold`` is the initial fold and
    ``fold_ddl`` its state fields; open windows are a handful of longs
    per key, so boxed arrays are fine (unlike the engine's token
    blobs)."""
    win = int(window_seconds)

    def counter_step(key, old, pdfs, wm_ms):
        if old is not None:
            open_ws, open_n, last_closed, *acc = old
            counts = dict(zip(open_ws, open_n))
        else:
            counts, last_closed, acc = {}, -(1 << 62), fold
        late = 0
        for pdf in pdfs:
            sec = (pdf[time_col].to_numpy("datetime64[ns]")
                   .astype(np.int64) // 1_000_000_000)
            uws, cnt = np.unique((sec // win) * win, return_counts=True)
            for ws, c in zip(uws.tolist(), cnt.tolist()):
                if ws <= last_closed:
                    late += c               # late: window emitted
                else:
                    counts[ws] = counts.get(ws, 0) + c
        rows = []
        for ws in sorted(counts):
            if (ws + win) * 1000 > wm_ms:
                break
            row, acc = step(counts.pop(ws), acc)
            if row is not None:
                rows.append((key[0], ws, *row))
            last_closed = ws
        open_ws = sorted(counts)
        return (rows, (open_ws, [counts[w] for w in open_ws], last_closed,
                       *acc),
                (open_ws[0] + win) * 1000 if open_ws else None, late)

    keyed = (
        stream.withWatermark(time_col, watermark_delay)
        .select(F.col(key_col).alias("event_type"), time_col)
    )
    out, dropped_acc = _state_stream(
        keyed, ["event_type"], counter_step,
        "open_ws array<bigint>, open_n array<bigint>, last_closed_ws bigint, "
        + fold_ddl, out_schema)
    out.dropped_rows_acc = dropped_acc
    return out


def streaming_burst_windows(
    stream: DataFrame,
    time_col: str = "ts",
    key_col: str = "event_type",
    window_seconds: int = 3600,
    baseline_windows: int = 6,
    min_lift: float = 1.5,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Continuous keyed burst detection (see module docstring).

    ``window_seconds=3600`` matches the batch operator's
    ``date_trunc('hour')`` bucketing (UTC). Emitted columns equal
    ``windows.burst_windows``: (key, ws_epoch, n, baseline, lift).
    """
    base_k = int(baseline_windows)
    lift_thr = float(min_lift)

    def step(n, fold):
        hist = list(fold[0])
        row = None
        if hist:
            base = float(np.mean(hist[-base_k:]))
            if n >= base * lift_thr:
                row = (n, round(base, 6), round(n / base, 6))
        return row, ((hist + [n])[-base_k:],)

    return _closed_window_counter(
        stream, step, ([],), "hist_n array<bigint>", BURST_SCHEMA,
        time_col=time_col, key_col=key_col, window_seconds=window_seconds,
        watermark_delay=watermark_delay)
