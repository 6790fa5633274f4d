"""Streaming funnel / sequence-pattern CEP: the continuous form of
``operators.funnel.funnel_times`` with a required horizon, as one
decision on the CEP keyed buffer (``cep._cep_state_stream``).

Semantics (identical to batch): per user, the chain anchors at the
GLOBALLY earliest step-0 event (t0) and every later step must land
strictly after its predecessor and within ``within_seconds`` of t0.
That horizon is what makes the pattern decidable in a stream: once the
event-time watermark passes ``t0 + within``, every event that could
participate in the user's chain is final — the chain resolves exactly
once and completions are emitted.

Events are classified by the CEP step coder (one code per distinct
type, so a step type may repeat) and buffered as ``(code, ts, 0)`` —
the funnel has no event id, and the constant id keeps the buffer's
earliest-by-(ts, id) trim stable in arrival order. State lifecycle:
an un-anchored buffer wakes at its provably-dead point and is REMOVED
once pruned empty (a user who only ever sends non-step-0 events costs
no permanent state); a resolved user keeps an empty buffer and a
resolved flag FOREVER, with no wake-up — inherent to the once-per-user
batch semantics (forgetting a resolved user would let a late second
chain re-emit). Events reaching a resolved user are dropped and
counted. An unbounded-horizon funnel is deliberately NOT offered
in-stream: its chain is never decidable (run the batch operator over
the accumulated table instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.cep import _step_code_expr, _step_tids
from .cep import NEVER, _cep_state_stream, _keyed, _stream_horizon, _ts


def _funnel_decision(step_tids, horizon_us):
    def decide(key, code, us, eid, extra, wm_us):
        (resolved,) = extra
        if resolved:                      # tombstone: every event drops
            return [], (code[:0], us[:0], eid[:0]), extra, NEVER, code.size
        anchors = us[code == step_tids[0]]
        if not anchors.size:
            # an event e can only join an anchor t0 in [e.ts - horizon,
            # e.ts), which resolves at t0 + horizon >= e.ts — so once the
            # watermark passes e.ts + horizon it is provably dead
            live = us + horizon_us >= wm_us
            code, us, eid = code[live], us[live], eid[live]
            fire = int(us.max()) + horizon_us if us.size else None
            return [], (code, us, eid), extra, fire, 0
        t0 = int(anchors.min())
        if t0 + horizon_us >= wm_us:
            return [], (code, us, eid), extra, t0 + horizon_us, 0
        chain = [t0]                      # greedy earliest, as in batch
        for tid in step_tids[1:]:
            nxt = us[(code == tid) & (us > chain[-1])
                     & (us <= t0 + horizon_us)]
            if not nxt.size:
                break
            chain.append(int(nxt.min()))
        rows = ([[*key, *map(_ts, chain)]]
                if len(chain) == len(step_tids) else [])
        return rows, (code[:0], us[:0], eid[:0]), (True,), NEVER, 0
    return decide


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
    positive and finite.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    horizon_us = _stream_horizon(within_seconds)
    tid_of, step_tids = _step_tids(steps)
    return _cep_state_stream(
        _keyed(stream, time_col, user_col, type_col, None, watermark_delay,
               code=_step_code_expr(tid_of, "type", type_col)),
        _funnel_decision(step_tids, horizon_us),
        "user_id long" + "".join(
            f", t{i} timestamp" for i in range(len(steps))),
        [("resolved", "boolean")], max_events_in_state)
