"""Streaming funnel / sequence-pattern CEP: the continuous form of
``operators.funnel.funnel_times`` with a required horizon.

Semantics (identical to batch): per user, the chain anchors at the
GLOBALLY earliest step-0 event (t0) and every later step must land
strictly after its predecessor and within ``within_seconds`` of t0.
That horizon is what makes the pattern decidable in a stream: once the
event-time watermark passes ``t0 + within``, every event that could
participate in the user's chain is final — the chain resolves exactly
once, completions are emitted, and the state is reduced to a tombstone
(so replays/late stragglers can never re-emit; late events for a
resolved user are dropped and COUNTED).

State per user is a bounded buffer of (step_idx, ts) pairs — funnel
events inside the active horizon only, never the raw payload — packed
as binary blobs like the engine's token buffers. State lifecycle:
un-anchored buffers carry a timeout at their provably-dead point and
are REMOVED once pruned empty (a user who only ever sends non-step-0
events costs no permanent state); resolved users keep a ~30-byte
tombstone FOREVER — that is inherent to the once-per-user batch
semantics (t0 anchors at the user's global earliest step-0 event, so
forgetting a resolved user would let a late second chain re-emit and
break exactly-once/batch parity). An unbounded-horizon funnel is
deliberately NOT offered in-stream: without the horizon the chain is
never decidable and state never closes (run the batch operator over
the accumulated table instead).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, BooleanType, LongType, StructField, StructType,
    TimestampType,
)

from ..operators.cep import _horizon

FUNNEL_STATE_SCHEMA = StructType([
    StructField("steps", BinaryType()),     # int32 step idx, one per event
    StructField("ts_us", BinaryType()),     # int64 event us, one per event
    StructField("resolved", BooleanType()),
])


def streaming_funnel_completions(
    stream: DataFrame,
    steps: list[str],
    within_seconds: float,
    time_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Emit one row per user whose full step chain completes:
    (user_id, t0..t{k-1} timestamps) — equal to the batch
    ``funnel_times(..., within_seconds=...)`` rows with every step
    non-null, each emitted exactly once. ``within_seconds`` must be
    positive.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    k = len(steps)
    horizon_us = _horizon(float(within_seconds))
    dropped_acc = stream.sparkSession.sparkContext.accumulator(0)
    out_schema = StructType(
        [StructField("user_id", LongType())]
        + [StructField(f"t{i}", TimestampType()) for i in range(k)])

    def resolve(step_arr: np.ndarray, us_arr: np.ndarray):
        """Greedy-earliest chain over the final horizon buffer."""
        t0 = us_arr[step_arr == 0].min()
        chain = [int(t0)]
        prev = t0
        for i in range(1, k):
            mask = (step_arr == i) & (us_arr > prev) & \
                (us_arr <= t0 + horizon_us)
            if not mask.any():
                return None
            prev = us_arr[mask].min()
            chain.append(int(prev))
        return chain

    def fn(key, pdf_iter, state: GroupState):
        user = key[0]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            steps_b, us_b, resolved = state.get
            step_arr = np.frombuffer(steps_b, dtype=np.int32)
            us_arr = np.frombuffer(us_b, dtype=np.int64)
        else:
            step_arr = np.empty(0, np.int32)
            us_arr = np.empty(0, np.int64)
            resolved = False

        if not state.hasTimedOut:
            new_steps, new_us = [], []
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                new_steps.append(pdf["_step"].to_numpy(np.int32))
                new_us.append(pdf[time_col].to_numpy("datetime64[ns]")
                              .astype(np.int64) // 1_000)
            if new_steps:
                if resolved:
                    dropped_acc.add(sum(len(a) for a in new_steps))
                else:
                    step_arr = np.concatenate([step_arr] + new_steps)
                    us_arr = np.concatenate([us_arr] + new_us)
                    if step_arr.size > max_events_in_state:
                        dropped_acc.add(step_arr.size - max_events_in_state)
                        order = np.argsort(us_arr, kind="stable")
                        keep = np.sort(order[:max_events_in_state])
                        step_arr, us_arr = step_arr[keep], us_arr[keep]

        if not resolved and step_arr.size and not (step_arr == 0).any():
            # un-anchored buffer: an event e can only ever join an anchor
            # t0 in [e.ts - horizon, e.ts), which resolves at t0 + horizon
            # >= e.ts — so once the watermark passes e.ts + horizon no
            # unresolved anchor can reach e: provably dead, prune silently
            live = us_arr + horizon_us >= wm_us
            step_arr, us_arr = step_arr[live], us_arr[live]

        rows = []
        if not resolved and step_arr.size:
            zeros = us_arr[step_arr == 0]
            if zeros.size:
                t0 = int(zeros.min())
                if t0 + horizon_us < wm_us:
                    chain = resolve(step_arr, us_arr)
                    if chain is not None:
                        rows.append([user] + [
                            pd.Timestamp(m, unit="us") for m in chain])
                    resolved = True
                    step_arr = np.empty(0, np.int32)
                    us_arr = np.empty(0, np.int64)

        if not resolved and not step_arr.size:
            # nothing buffered and nothing to remember: leaving an
            # empty entry (or an un-anchored buffer with no timeout)
            # would leak state for every noise-heavy user forever
            if state.exists:
                state.remove()
        else:
            state.update((step_arr.tobytes(), us_arr.tobytes(), resolved))
            if not resolved:
                if (step_arr == 0).any():
                    # fire just after the horizon closes the chain
                    fire_us = int(us_arr[step_arr == 0].min()) + horizon_us
                else:
                    # un-anchored: fire at the provably-dead point so
                    # the prune above empties and removes this state
                    # even if the user never sends another event
                    fire_us = int(us_arr.max()) + horizon_us
                state.setTimeoutTimestamp(
                    max(fire_us // 1000 + 1, wm_us // 1000 + 1))
        if rows:
            yield pd.DataFrame(
                rows, columns=["user_id"] + [f"t{i}" for i in range(k)])

    step_of = F.create_map(*[
        x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))])
    # every event advances the watermark, funnel step or not: the step
    # filter reads the event-time column, or Catalyst pushes it below
    # withWatermark
    keyed = (
        stream.withWatermark(time_col, watermark_delay)
        .filter(F.when(F.col(type_col).isin(list(steps)),
                       F.col(time_col)).isNotNull())
        .select(F.col(user_col).alias("user_id"), time_col,
                step_of[F.col(type_col)].cast("int").alias("_step"))
    )
    out = keyed.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out.dropped_events_acc = dropped_acc
    return out
