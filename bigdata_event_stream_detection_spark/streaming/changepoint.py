"""Streaming CUSUM changepoint detection: the continuous form of
``operators.changepoint.cusum_changepoints``, as a fold on the
closed-window counter it shares with burst detection
(``streaming/burst._closed_window_counter``: per-key window counts,
in-order close on the watermark, late rows counted into
``dropped_rows_acc``).

The fold: the first ``calibration_windows`` closed (non-empty) windows
calibrate the expected rate ``mu``; afterwards each close advances the
one-sided CUSUM recursion ``S = max(0, S + n - mu*(1+drift))`` and the
window is emitted iff ``S > threshold * mu``. Output rows are identical
to the batch operator on the same input once every real window has
closed, and the float sequence matches because both sides accumulate
deviations in the key's window order with plain double arithmetic.

Scale shape: one hash exchange on the key; per-key state is O(open
windows) longs plus the fold's three fields (calibration counts fold
into ``mu`` once full), so state stays kilobytes per key on an
unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .burst import _closed_window_counter

CUSUM_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("ws_epoch", LongType()),
    StructField("n", LongType()),
    StructField("cusum", DoubleType()),
    StructField("target", DoubleType()),
])


def streaming_cusum_changepoints(
    stream: DataFrame,
    time_col: str = "ts",
    key_col: str = "event_type",
    window_seconds: int = 3600,
    calibration_windows: int = 6,
    drift: float = 0.25,
    threshold: float = 2.0,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Continuous keyed CUSUM drift detection (see module docstring).

    ``window_seconds=3600`` matches the batch operator's
    ``date_trunc('hour')`` bucketing (UTC). Emitted columns equal
    ``changepoint.cusum_changepoints``: (key, ws_epoch, n, cusum,
    target).
    """
    calib_k = int(calibration_windows)
    drift_f = float(drift)
    thr_f = float(threshold)

    def step(n, fold):
        """Calibration, then the Page recursion. The batch side computes
        S via cumsum-minus-running-min of plain double sums in ws order,
        which equals this max(0, ...) fold over the same sequence; mu <
        0 means not calibrated yet."""
        calib, mu, s = fold
        if mu < 0.0:
            calib = list(calib) + [n]
            if len(calib) >= calib_k:
                mu = float(sum(calib)) / float(len(calib))
                calib = []
            return None, (calib, mu, s)
        s = max(0.0, s + (float(n) - mu * (1.0 + drift_f)))
        row = (n, round(s, 6), round(mu, 6)) if s > mu * thr_f else None
        return row, (calib, mu, s)

    return _closed_window_counter(
        stream, step, ([], -1.0, 0.0),
        "calib array<bigint>, mu double, s double", CUSUM_SCHEMA,
        time_col=time_col, key_col=key_col, window_seconds=window_seconds,
        watermark_delay=watermark_delay)
