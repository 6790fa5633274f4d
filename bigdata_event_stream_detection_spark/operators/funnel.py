"""Funnel / sequence-pattern matching over keyed event streams.

The classic CEP ask — "users who did A, then B, then C, in order,
optionally within a horizon" — as a composition of per-key aggregates:
step k's completion time is the earliest step-k event STRICTLY AFTER
the user's step-(k-1) completion. One ``groupBy(user) -> min`` plus one
user-key hash join per step; every intermediate frame is one row per
user, so k steps cost k bounded shuffles regardless of event volume —
no per-user event sorting, no cross-step pair blow-up, no state. (The
streaming analog buffers per-key step timestamps in grouped state; the
batch form here is the oracle-checkable reference semantics.)

Greedy-earliest matching: taking the earliest valid event at every
step maximizes the chance of completing the remaining steps (any later
choice only shrinks the future window), so greedy == existence — the
standard funnel semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cep import _horizon


def funnel_times(
    events: DataFrame,
    steps: list[str],
    time_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    within_seconds: float | None = None,
) -> DataFrame:
    """Per-user earliest step-completion chain.

    Returns one row per user who completed step 0, with columns
    ``t0..t{k-1}`` (timestamp of each step's completion; NULL from the
    first missed step onward). ``within_seconds`` additionally requires
    every later step to land within that horizon of ``t0``; it must be
    positive (None = unbounded).
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    horizon_us = _horizon(within_seconds)
    out = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(time_col).alias("t0"))
    )
    for i, s in enumerate(steps[1:], start=1):
        step_ev = events.filter(F.col(type_col) == s).select(
            user_col, F.col(time_col).alias("_ts"))
        joined = step_ev.join(out, user_col).filter(
            F.col("_ts") > F.col(f"t{i - 1}"))
        if within_seconds is not None:
            # timestampdiff keeps sub-second precision (unix_timestamp
            # truncates to seconds) and works on both TIMESTAMP and
            # TIMESTAMP_NTZ columns, matching the streaming form's
            # microsecond horizon arithmetic exactly
            joined = joined.filter(
                F.expr("timestampdiff(MICROSECOND, t0, _ts)") <= horizon_us)
        agg = joined.groupBy(user_col).agg(F.min("_ts").alias(f"t{i}"))
        out = out.join(agg, user_col, "left")
    return out


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    **kwargs,
) -> DataFrame:
    """One-row funnel summary: how many users completed each prefix."""
    times = funnel_times(events, steps, **kwargs)
    return times.agg(*[
        F.count(f"t{i}").alias(f"n_step{i + 1}") for i in range(len(steps))
    ])
