"""Streaming CEP twins: the continuous forms of the pattern classes in
``operators/cep.py`` — timeout/SLA and absence (fixed or rules-table),
Kleene-plus runs, and MATCH_RECOGNIZE quantified sequences (fixed,
DEFINE-predicate classified, or rules-table). Every pattern instance
resolves exactly once at watermark finality, with rows equal to the
batch operator on the same drained input.

All seven run on ONE keyed-buffer state machine, ``_cep_state_stream``.
It owns everything that is not pattern logic:

* the state per key: a bounded buffer of ``(code, ts_us, event_id)``
  triples — pattern roles only, never payloads — packed as binary
  blobs like the engine's token buffers, plus the pattern's scalars (a
  rule's horizon and spec, or the runs fold);
* appending each micro-batch, and the bounded trim: past
  ``max_events_in_state`` only the earliest events by (ts, event_id)
  stay and the overflow is counted on ``dropped_events_acc``;
* removing a key from the store once nothing is left (no tombstones:
  every anchor is an independent pattern instance identified by its
  event_id, and Spark's late-row filter stops replayed anchors from
  re-entering), and the event-time wake-up, clamped past the watermark.

Each pattern is a decision ``decide(key, code, us, eid, extra, wm_us)
-> (rows, (code, us, eid), extra, fire_us)``; ``fire_us=None`` means
nothing is left to wait for:

* **timeout** (0 anchor / 1 silencer): an anchor alerts once the
  watermark passes ``anchor + horizon``; a silencer buffered inside the
  horizon retires it early and silently.
* **absence** (0 anchor / 1 then / 2 without): a match is final once
  the watermark passes the matched then-event (nothing can slot in
  before it), a negation once the preceding without-event is behind
  the watermark, a no-match once the watermark passes the horizon.
* **runs** (1 target / 0 other): a fold — final events are consumed in
  (ts, event_id) order into an open-run accumulator and leave state.
* **seq**: ``operators.cep._seq_scan``, the scan batch uses too, with
  the watermark as its decidability frontier.

For timeout and absence, non-anchor events older than ``watermark -
horizon`` are pruned: future anchors have ts >= watermark, so nothing
can ever reach them.

Keying. Rules tables become ROLES tables ``(rule_id, _et, _code,
horizon_us[, steps])`` by ``operators.cep._roles``, the derivation (and
``_check_rules`` the validation) batch uses too: derived in SQL (so
rules are re-read every micro-batch) and attached with one broadcast
join, so the stream is scanned once; state is keyed by (user, rule).
An event playing two roles ("no repeat within T", "A then the next A")
fans out one copy per role, and the strictly-after (ts, event_id)
comparison keeps an anchor from matching its own copy. The fixed
timeout and absence twins are one-rule tables on the same path. Fixed
seq and runs classify with a column expression and stay keyed by user.

Watermark rule, identical for all seven: every event of the input
stream advances the watermark, not only pattern events (a stream of
non-pattern events flushes pending anchors). The roles join sits above
``withWatermark``; the expression filter reads the event-time column,
because Catalyst pushes any filter that does not below the watermark.
Only events with a NULL type never advance it in the roles twins
(the join's inferred not-null filter is pushed down).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.cep import (
    ABSENCE_ROLES, TIMEOUT_ROLES, _check_rules, _horizon, _parse_steps_spec,
    _roles, _seq_scan, _skip_past, _spec_pattern, _step_code_expr, _step_tids,
    _validate_steps,
)

# output schemas (DDL); each fixed twin's is its rules twin's minus rule_id
RULES_OUT_SCHEMA = ("user_id long, rule_id string, first_event_id long, "
                    "first_ts timestamp, deadline_ts timestamp")
ABSENCE_RULES_OUT_SCHEMA = (
    "user_id long, rule_id string, first_event_id long, "
    "first_ts timestamp, then_ts timestamp, gap_sec double")
RUNS_OUT_SCHEMA = ("user_id long, start_ts timestamp, end_ts timestamp, "
                   "run_len long")
SEQ_OUT_SCHEMA = ("user_id long, first_event_id long, start_ts timestamp, "
                  "end_ts timestamp, n_events long, step_counts string")
SEQ_RULES_OUT_SCHEMA = SEQ_OUT_SCHEMA.replace(
    "user_id long,", "user_id long, rule_id string,")


def _ts(us) -> pd.Timestamp:
    return pd.Timestamp(int(us), unit="us")


def _scalar(v):
    return v.item() if isinstance(v, np.generic) else v


def _cep_state_stream(keyed: DataFrame, decide, out_schema: str,
                      extra_state_fields=(), max_events_in_state=10_000,
                      rebase=None) -> DataFrame:
    """Run ``decide`` per key over a bounded, watermark-driven buffer.

    ``keyed`` carries ``user_id`` [, ``rule_id``] (the state key),
    ``_ts``, ``_eid`` and ``_code``. ``extra_state_fields`` are
    ``(name, ddl_type)`` state scalars next to the buffer: those that
    are also columns of ``keyed`` are refreshed from every micro-batch
    (a rule's horizon), the rest belong to the decision (the runs
    fold). ``rebase(code, old, new)`` re-encodes the buffered codes when
    refreshed scalars change; code -1 drops the event."""
    names = [n for n, _ in extra_state_fields]
    columns = [f.split()[0] for f in out_schema.split(",")]
    keys = [c for c in ("user_id", "rule_id") if c in keyed.columns]
    dropped_acc = keyed.sparkSession.sparkContext.accumulator(0)

    def fn(key, pdf_iter, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            tb, ub, eb, *extra = state.get
            code = np.frombuffer(tb, dtype=np.int8)
            us = np.frombuffer(ub, dtype=np.int64)
            eid = np.frombuffer(eb, dtype=np.int64)
        else:
            code = np.empty(0, np.int8)
            us = eid = np.empty(0, np.int64)
            extra = [None] * len(names)
        parts = ([] if state.hasTimedOut
                 else [pdf for pdf in pdf_iter if len(pdf)])
        if parts:
            tail = parts[-1]
            new = [_scalar(tail[n].iloc[-1]) if n in tail.columns else x
                   for n, x in zip(names, extra)]
            if rebase is not None and state.exists and new != extra:
                code = rebase(code, extra, new)
                ok = code >= 0
                code, us, eid = code[ok], us[ok], eid[ok]
            extra = new
            code = np.concatenate(
                [code] + [p["_code"].to_numpy(np.int8) for p in parts])
            us = np.concatenate([us] + [
                p["_ts"].to_numpy("datetime64[ns]").astype(np.int64)
                // 1_000 for p in parts])
            eid = np.concatenate(
                [eid] + [p["_eid"].to_numpy(np.int64) for p in parts])
            if code.size > max_events_in_state:
                dropped_acc.add(code.size - max_events_in_state)
                keep = np.sort(
                    np.lexsort((eid, us))[:max_events_in_state])
                code, us, eid = code[keep], us[keep], eid[keep]

        rows, (code, us, eid), extra, fire_us = decide(
            key, code, us, eid, extra, wm_us)
        if fire_us is None:
            if state.exists:
                state.remove()
        else:
            state.update((code.tobytes(), us.tobytes(), eid.tobytes(),
                          *extra))
            state.setTimeoutTimestamp(
                max(fire_us // 1000 + 1, wm_us // 1000 + 1))
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    out = keyed.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="types binary, ts_us binary, eids binary" + "".join(
            f", {n} {t}" for n, t in extra_state_fields),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out.dropped_events_acc = dropped_acc
    return out


def _keyed(stream: DataFrame, time_col, key_col, type_col, id_col,
           watermark_delay, roles: DataFrame | None = None, code=None):
    """The skeleton's input. Every event is watermarked first, then
    classified by ONE broadcast join against a roles table
    ``(rule_id, _et, _code, ...)``, or by a ``code`` expression whose
    null filter also reads the event time so that Catalyst cannot push
    it below ``withWatermark``."""
    ev = stream.withWatermark(time_col, watermark_delay).select(
        F.col(key_col).alias("user_id"), F.col(time_col).alias("_ts"),
        F.col(id_col).cast("long").alias("_eid"),
        F.col(type_col).alias("_et") if roles is not None
        else code.alias("_code"))
    if roles is not None:
        return ev.join(F.broadcast(roles), "_et").drop("_et")
    return ev.filter(
        F.when(F.col("_code").isNotNull(), F.col("_ts")).isNotNull())


def _one_rule(stream: DataFrame, within_seconds, **types) -> DataFrame:
    """A fixed pattern as a one-row rules table (rule_id ""), built in
    the JVM so the per-micro-batch re-read starts no Python worker. Its
    horizon must be positive, as in the batch fixed twins."""
    _horizon(within_seconds)
    return stream.sparkSession.range(1).select(
        F.lit("").alias("rule_id"),
        F.lit(float(within_seconds)).alias("within_seconds"),
        *[F.lit(t).cast("string").alias(c) for c, t in types.items()])


def _without_rule_id(out: DataFrame) -> DataFrame:
    fixed = out.drop("rule_id")
    fixed.dropped_events_acc = out.dropped_events_acc
    return fixed


# ---------------------------------------------------------------------------
# pattern decisions
# ---------------------------------------------------------------------------

def _after(us, eid, t0, e0):
    """(ts, eid) strictly after (t0, e0) — the batch sort order."""
    return (us > t0) | ((us == t0) & (eid > e0))


def _earliest(mask, us, eid):
    j = np.flatnonzero(mask)
    if not j.size:
        return None
    jj = j[np.lexsort((eid[j], us[j]))[0]]
    return int(us[jj]), int(eid[jj])


def _anchor_decision(judge):
    """Decision of the per-anchor patterns (timeout, absence): code 0
    marks an anchor and ``extra`` is ``(horizon_us,)``. ``judge``
    returns the output row tail (emit, then retire), None (retire
    silently) or the event time at which the anchor becomes
    decidable."""
    def decide(key, code, us, eid, extra, wm_us):
        (h,) = extra
        rows, keep, pending = [], np.ones(code.size, dtype=bool), []
        for i in np.flatnonzero(code == 0):
            verdict = judge(code, us, eid, int(us[i]), int(eid[i]), h,
                            wm_us)
            if isinstance(verdict, list):
                rows.append([*key, *verdict])
            elif verdict is not None:
                pending.append(verdict)
                continue
            keep[i] = False
        # a non-anchor event older than wm - horizon is strictly after
        # no live or future anchor (live anchors have ts >= wm - horizon
        # and ts ties resolve by event_id, so the boundary survives)
        keep &= (code == 0) | (us >= wm_us - h)
        code, us, eid = code[keep], us[keep], eid[keep]
        fire = (min(pending) if pending
                else int(us.min()) + h if us.size else None)
        return rows, (code, us, eid), extra, fire
    return decide


def _timeout_judge(code, us, eid, f_us, f_eid, h, wm_us):
    if ((code == 1) & _after(us, eid, f_us, f_eid)
            & (us - f_us <= h)).any():
        return None                       # answered early: never alerts
    if wm_us > f_us + h:                  # deadline passed: alert once
        return [f_eid, _ts(f_us), _ts(f_us + h)]
    return f_us + h


def _absence_judge(code, us, eid, f_us, f_eid, h, wm_us):
    fol = _after(us, eid, f_us, f_eid)
    t = _earliest(fol & (code == 1), us, eid)
    w = _earliest(fol & (code == 2), us, eid)
    if t is not None and (w is None or t < w) and t[0] - f_us <= h:
        if t[0] < wm_us:                  # match final: emit + retire
            return [f_eid, _ts(f_us), _ts(t[0]),
                    round((t[0] - f_us) / 1e6, 6)]
        return t[0]                       # match pending finality
    if w is not None and w[0] < wm_us and (t is None or w < t):
        return None                       # negation final
    if wm_us > f_us + h:
        return None                       # horizon final: no match
    return f_us + h


def _runs_decision(min_run, gap_us):
    def decide(key, code, us, eid, extra, wm_us):
        run_len, start_us, last_us = (x or 0 for x in extra)
        order = np.lexsort((eid, us))
        code, us, eid = code[order], us[order], eid[order]
        final = us < wm_us
        rows = []

        def emit():
            if run_len >= min_run:
                rows.append([*key, _ts(start_us), _ts(last_us), run_len])

        for i in np.flatnonzero(final):
            t = int(us[i])
            if code[i] == 1 and run_len and t - last_us <= gap_us:
                run_len, last_us = run_len + 1, t
                continue
            emit()                        # a breaker or a gap closes it
            if code[i] == 1:
                run_len, start_us, last_us = 1, t, t
            else:
                run_len = 0
        if run_len and wm_us > last_us + gap_us:
            emit()                        # nothing can ever extend it
            run_len = 0
        code, us, eid = code[~final], us[~final], eid[~final]
        # wake at the run's gap deadline or when the watermark can
        # finalize more of the buffered out-of-order suffix
        cand = ([last_us + gap_us] if run_len else []) + (
            [int(us[0])] if us.size else [])
        return (rows, (code, us, eid), (run_len, start_us, last_us),
                min(cand) if cand else None)
    return decide


def _seq_rebase(code, old, new):
    """A rule's spec string changed: re-encode its buffered codes under
    the new spec; types absent from it leave the buffer (-1)."""
    if old[0] == new[0]:
        return code
    types = [s[1] for s in _parse_steps_spec(old[0])]
    new_of = _step_tids([s[1] for s in _parse_steps_spec(new[0])])[0]
    return np.array([new_of.get(t, -1) for t in dict.fromkeys(types)],
                    dtype=np.int8)[code]


def _seq_decision(pattern, skip_past=True):
    """``pattern(extra) -> (labels, quants, step_tids, horizon_us)``."""
    def decide(key, code, us, eid, extra, wm_us):
        labels, quants, step_tids, h = pattern(extra)
        order = np.lexsort((eid, us))
        code, us, eid = code[order], us[order], eid[order]
        matches, consumed = _seq_scan(code, us, eid, step_tids, quants,
                                      h, wm_us, skip_past)
        # never drop the out-of-order suffix: a future anchor (ts >=
        # watermark) may still be followed by buffered ts >= wm events
        consumed = min(consumed, int(np.searchsorted(us, wm_us)))
        rows = [[*key, int(eid[a]), _ts(us[a]), _ts(us[last]),
                 int(sum(counts)),
                 ",".join(f"{lb}={c}" for lb, c in zip(labels, counts))]
                for a, last, counts in matches]
        code, us, eid = code[consumed:], us[consumed:], eid[consumed:]
        anchors = np.flatnonzero(code == step_tids[0])
        # wake when the first pending anchor becomes decidable; a
        # non-anchor suffix only waits to be pruned once final
        fire = (int(us[anchors[0]]) + h if anchors.size
                else int(us[0]) if us.size else None)
        return rows, (code, us, eid), extra, fire
    return decide


# ---------------------------------------------------------------------------
# the seven twins
# ---------------------------------------------------------------------------

def streaming_match_timeout(
    stream: DataFrame,
    first: str,
    then: str,
    within_seconds: float,
    unless: str | None = None,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Continuous timeout/SLA alerts: emit ``(user_id, first_event_id,
    first_ts, deadline_ts)`` exactly when the watermark proves no
    ``then`` (nor ``unless``) event landed within the horizon — equal to
    the batch ``match_timeout`` rows, each exactly once.

    A one-rule :func:`streaming_match_timeout_rules` in which ``unless``
    is a second silencer type; ``first == then`` ("no repeat within
    T") works like any rule whose types coincide.
    """
    rules = _one_rule(stream, within_seconds, first_type=first,
                      then_type=then, unless_type=unless)
    return _without_rule_id(_timeout_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay,
               roles=_roles(rules, *TIMEOUT_ROLES, ("unless_type", 1))),
        max_events_in_state))


def streaming_match_timeout_rules(
    stream: DataFrame,
    rules: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Continuous dynamic-rules timeout CEP: the streaming twin of
    ``operators.cep.match_timeout_rules``. Emits the same
    ``(user_id, rule_id, first_event_id, first_ts, deadline_ts)`` rows,
    each exactly once, at the moment the watermark passes the rule's
    deadline.

    ``rules(rule_id, first_type, then_type, within_seconds)`` is the
    STATIC side of a stream-static join, re-read every micro-batch:
    inserting a rule row starts matching it on the next trigger with no
    redeploy (the broadcast-state idiom). Deleting a rule stops NEW
    anchors immediately while already-buffered anchors still resolve
    with the horizon stored in their group's state; changing a horizon
    applies to a group the next time data for it arrives. State is
    keyed by (user, rule) and stores the rule's own horizon, so a group
    stays decidable on a pure timeout wake-up with no rules lookup.
    Every ``within_seconds`` must be positive.
    """
    _check_rules(rules)
    return _timeout_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay, roles=_roles(rules, *TIMEOUT_ROLES)),
        max_events_in_state)


def _timeout_stream(keyed, max_events_in_state):
    return _cep_state_stream(
        keyed, _anchor_decision(_timeout_judge), RULES_OUT_SCHEMA,
        [("horizon_us", "long")], max_events_in_state)


def streaming_match_absence(
    stream: DataFrame,
    first: str,
    then: str,
    without: str,
    within_seconds: float,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Emit ``(user_id, first_event_id, first_ts, then_ts, gap_sec)``
    rows equal to the batch ``match_absence(..., within_seconds=...)``
    output on the same input, each exactly once — a one-rule
    :func:`streaming_match_absence_rules` ("A then the next A" included).
    """
    rules = _one_rule(stream, within_seconds, first_type=first,
                      then_type=then, without_type=without)
    _check_rules(rules, "then_type", "without_type")
    return _without_rule_id(_absence_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay, roles=_roles(rules, *ABSENCE_ROLES)),
        max_events_in_state))


def streaming_match_absence_rules(
    stream: DataFrame,
    rules: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Continuous dynamic-rules absence CEP: the streaming twin of
    ``operators.cep.match_absence_rules``, emitting the same
    ``(user_id, rule_id, first_event_id, first_ts, then_ts, gap_sec)``
    rows exactly once at watermark finality.

    Same architecture as :func:`streaming_match_timeout_rules` — rules
    ``(rule_id, first_type, then_type, without_type, within_seconds)``
    are the static side of a per-micro-batch join, state is keyed by
    (user, rule) and stores the rule's horizon. ``then_type ==
    without_type`` is rejected (the silencer would tie every match), and
    so is a NULL or non-positive ``within_seconds``.
    """
    _check_rules(rules, "then_type", "without_type")
    return _absence_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay, roles=_roles(rules, *ABSENCE_ROLES)),
        max_events_in_state)


def _absence_stream(keyed, max_events_in_state):
    return _cep_state_stream(
        keyed, _anchor_decision(_absence_judge), ABSENCE_RULES_OUT_SCHEMA,
        [("horizon_us", "long")], max_events_in_state)


def streaming_match_runs(
    stream: DataFrame,
    run_type: str,
    min_run: int = 3,
    max_gap_seconds: float = 3600.0,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Continuous Kleene-plus runs: emit rows equal to the batch
    ``match_runs(..., max_gap_seconds=...)`` output on the same input,
    each exactly once.

    Run state is a FOLD: events final under the watermark are consumed
    in (ts, event_id) order into a 3-long accumulator (open-run length
    / start / last) and leave state immediately — the buffer only holds
    the out-of-order suffix (ts >= watermark). A run resolves once:

    * **broken** when a differently-typed or too-late event lands
      behind the watermark directly after it — the breaker is final, so
      nothing can ever slot back inside the run;
    * **gap-closed** when ``watermark > last + max_gap``: every future
      arrival has ts >= watermark, so no event can extend it. The
      finite gap is what makes a trailing run decidable — the batch
      operator takes the same parameter so the two stay row-identical.
    """
    gap_us = int(round(float(max_gap_seconds) * 1e6))
    if gap_us <= 0:
        raise ValueError(
            f"max_gap_seconds={max_gap_seconds} must be positive — a "
            "finite positive gap is what makes trailing runs decidable")
    return _cep_state_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay,
               code=(F.col(type_col) == run_type).cast("tinyint")),
        _runs_decision(min_run, gap_us), RUNS_OUT_SCHEMA,
        [("run_len", "long"), ("start_us", "long"), ("last_us", "long")],
        max_events_in_state)


def streaming_match_seq(
    stream: DataFrame,
    steps,
    within_seconds: float,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
    classify: str = "type",
    after_match: str = "past_last_row",
) -> DataFrame:
    """Continuous MATCH_RECOGNIZE sequences: the streaming twin of
    ``operators.cep.match_seq`` — same ``steps`` grammar, REQUIRED
    horizon — emitting row-identical matches exactly once.

    Batch and streaming share ONE scan (``operators.cep._seq_scan``);
    the stream drives it with the watermark as the decidability
    frontier: an anchor resolves (match or fail, exactly once) when the
    watermark passes ``anchor + horizon``, because every event that
    could participate is then final — this is why the horizon is
    mandatory here (same reason ``streaming_match_runs`` requires a
    finite gap). The scan also returns how far the buffer can never
    matter again (events behind the first undecided anchor), clamped to
    the finality frontier so out-of-order suffix events survive.

    Every input event advances the watermark, pattern-relevant or not
    (classify="predicate" included): the classifying filter stays above
    ``withWatermark``, so a quiet stream of other events still flushes
    pending anchors.
    """
    labels, types, quants = _validate_steps(steps)
    skip_past = _skip_past(after_match)
    horizon_us = int(round(float(within_seconds) * 1e6))
    if horizon_us <= 0:
        raise ValueError("within_seconds must be positive — the "
                         "horizon is what makes anchors decidable")
    tid_of, step_tids = _step_tids(types)
    pattern = (labels, quants, step_tids, horizon_us)
    return _cep_state_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay,
               code=_step_code_expr(tid_of, classify, type_col)),
        _seq_decision(lambda extra: pattern, skip_past), SEQ_OUT_SCHEMA,
        (), max_events_in_state)


def streaming_match_seq_rules(
    stream: DataFrame,
    rules: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark_delay: str = "30 minutes",
    max_events_in_state: int = 10_000,
) -> DataFrame:
    """Continuous dynamic-rules sequence CEP: the streaming twin of
    ``operators.cep.match_seq_rules`` — quantified pattern specs live
    in a TABLE (``rules(rule_id, steps, within_seconds)``, re-read as
    the static join side every micro-batch), matches emitted exactly
    once at watermark finality, row-identical to batch on drained
    input.

    Same architecture as the other rules twins: state is keyed by
    (user, rule) and carries the rule's spec + horizon next to the
    bounded event buffer, so a pure timeout wake-up decides with no
    rules lookup. If a rule's spec string CHANGES mid-stream, a group
    re-encodes its buffered events under the new spec the next time
    data for it arrives (buffered types absent from the new spec are
    dropped); already-emitted matches are never retracted.
    """
    _check_rules(rules, "steps")
    return _cep_state_stream(
        _keyed(stream, time_col, key_col, type_col, id_col,
               watermark_delay, roles=_roles(rules)),
        _seq_decision(lambda extra: (*_spec_pattern(extra[0]), extra[1])),
        SEQ_RULES_OUT_SCHEMA, [("steps", "string"), ("horizon_us", "long")],
        max_events_in_state, rebase=_seq_rebase)
