"""Batch CEP over keyed event tables: timeout/SLA ("A with no B within
T"), absence ("A then B with no C between"), Kleene-plus runs and
MATCH_RECOGNIZE quantified sequences. Timeout, absence and sequences
each come as a fixed-pattern operator and a rules-as-data twin whose
patterns live in a table.

One roles table. A rules table becomes a ROLES table ``(rule_id, _et,
_code, horizon_us[, steps])`` — one row per (rule, event type, role),
deduplicated per rule — derived in SQL by :func:`_roles` after the
driver-side checks of :func:`_check_rules` (positive horizons,
``then_type != without_type``, parseable seq specs). The streaming
twins in ``streaming/cep.py`` import both, so batch and stream fan
events out to rules the same way.

One body per pattern, over one tagged frame ``(key, rule_id, ts, id,
_code, horizon_us)``:

* **timeout** (0 anchor / 1 silencer: ``then`` or ``unless``): an
  anchor alerts unless a silencer lands within the horizon strictly
  after it — one forward minimum.
* **absence** (0 anchor / 1 then / 2 without): greedy-earliest equals
  existence (a without-event before the earliest following then also
  sits between the anchor and every later then), so three forward
  minima decide it.
* **seq**: one ``applyInPandas`` kernel running :func:`_seq_scan`, the
  scan the streaming twin and the single-node oracle also pin.

Timeout and absence are whole-stage-codegen window aggregates on ONE
per-(key, rule) sort: one hash exchange, no self-join, no per-row
Python. Role copies of one event sort ``(ts, id, _code desc)``, so its
anchor copy comes last and never matches the event's other copies
("no repeat within T", "A then the next A").

Tagging. A rules twin tags with ONE broadcast join against its roles
table. A fixed twin tags with a column expression of role codes under
a literal rule_id and horizon — an event playing two roles is exploded
once per role — and drops rule_id from its output: one exchange, no
join. Events that play no role never reach the sort.

Scale: sort-within-partition after a single hash exchange on the key
— the minimum for any order-sensitive per-key semantics. A
pathologically hot key serializes its own sort only; salting cannot
help (order must be global per key) but AQE splits the *exchange*
skew, and keys are users — bounded fan-in by construction.

Reference parity: the reference has no CEP beyond funnels; this
extends its event-detection query family (SURVEY.md §2 funnel rows)
with the timeout, absence (Flink MATCH_RECOGNIZE's ``NOT`` idiom) and
quantified-sequence patterns of CEP engines, built Spark-first.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import pin_partitions
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

# (rules column, role code) pairs of the per-anchor patterns
TIMEOUT_ROLES = (("first_type", 0), ("then_type", 1))
ABSENCE_ROLES = (("first_type", 0), ("then_type", 1), ("without_type", 2))


# ---------------------------------------------------------------------------
# the roles table (shared with streaming/cep.py) and the tagged frame
# ---------------------------------------------------------------------------

def _check_rules(rules: DataFrame, *cols: str) -> None:
    """Fail fast on a rule no pattern can honour; ``cols`` are the rule
    columns beyond ``(rule_id, within_seconds)`` to collect (rules
    tables are tiny). Rejects a NULL or non-positive horizon, an
    absence rule whose ``then_type == without_type`` (the silencer
    would tie every match), a bad seq spec, and an empty seq table."""
    rows = rules.select("rule_id", "within_seconds", *cols).collect()
    if not rows and "steps" in cols:
        raise ValueError("rules table is empty")
    for r in rows:
        if "steps" in cols:
            _validate_steps(_parse_steps_spec(r["steps"]))
        if ("without_type" in cols and r["then_type"] is not None
                and r["then_type"] == r["without_type"]):
            raise ValueError(
                f"rule {r['rule_id']}: then_type == without_type "
                "can never fire (the silencer ties every match)")
        w = r["within_seconds"]
        if w is None or not float(w) > 0:
            raise ValueError(
                f"rule {r['rule_id']}: within_seconds must be positive")


def _roles(rules: DataFrame, *roles) -> DataFrame:
    """Rules -> the roles table ``(rule_id, [steps,] horizon_us, _et,
    _code)``, one row per (rule, type, role), deduplicated per rule (a
    type named twice for one role plays it once); NULL types play no
    role. ``roles`` are ``(column, code)`` pairs; with none, ``steps``
    holds seq specs and each distinct step type plays the role coded
    by its first position (the codes :func:`_step_tids` assigns)."""
    if roles:
        keep, pairs = [], F.array(*[
            F.struct(F.col(c).alias("_et"), F.lit(code).alias("_code"))
            for c, code in roles])
    else:
        keep, pairs = ["steps"], F.transform(
            F.array_distinct(F.transform(
                F.split("steps", ","),
                lambda p: F.trim(F.regexp_extract(p, r"^(.*):[^:]*$", 1)))),
            lambda t, i: F.struct(t.alias("_et"), i.alias("_code")))
    return (rules.select(
        "rule_id", *keep,
        F.round(F.col("within_seconds").cast("double") * 1e6)
        .cast("long").alias("horizon_us"),
        F.inline(F.array_distinct(pairs)))
        .withColumn("_code", F.col("_code").cast("tinyint"))
        .filter(F.col("_et").isNotNull()))


def _tag(events: DataFrame, key_col, time_col, id_col, type_col,
         roles: DataFrame | None = None, codes=None,
         horizon_us=None) -> DataFrame:
    """Events -> the tagged frame ``(key, ts, id, rule_id, horizon_us,
    _code[, steps])``: by ONE broadcast join against a roles table, or
    (a fixed pattern) by ``codes``, an array of per-row role codes
    (NULL = no such role) exploded once per role under a literal
    rule_id ``""`` and ``horizon_us``. No join on the fixed path, and
    no lambda either: ``array_compact`` would run interpreted."""
    if roles is not None:
        return (events.select(key_col, time_col, id_col,
                              F.col(type_col).alias("_et"))
                .join(F.broadcast(roles), "_et").drop("_et"))
    return events.select(
        key_col, time_col, id_col, F.lit("").alias("rule_id"),
        F.lit(horizon_us).cast("long").alias("horizon_us"),
        F.explode(codes.cast("array<tinyint>")).alias("_code")
    ).filter(F.col("_code").isNotNull())


def _horizon(within_seconds) -> int:
    """Seconds -> horizon micros; None (unbounded) -> 2**62, far beyond
    any event-time span."""
    return (int(round(float(within_seconds) * 1e6))
            if within_seconds is not None else 2 ** 62)


# ---------------------------------------------------------------------------
# the per-anchor bodies: timeout and absence
# ---------------------------------------------------------------------------

def _role_windows(key_col, time_col, id_col):
    """One (key, rule) partition sorted ``(ts, id, _code desc)`` — an
    event's anchor copy after its other role copies — and its
    strictly-after frame."""
    w_ord = Window.partitionBy(key_col, "rule_id").orderBy(
        F.col(time_col).asc(), F.col(id_col).asc(), F.col("_code").desc())
    return w_ord, w_ord.rowsBetween(1, Window.unboundedFollowing)


def _gap_us(time_col, later):
    return F.timestamp_diff("MICROSECOND", F.col(time_col), F.col(later))


def _timeout_plan(tagged: DataFrame, key_col, time_col, id_col):
    """Alert ``(key, rule_id, first_event_id, first_ts, deadline_ts)``
    per anchor with no silencer within its horizon."""
    _, w_fwd = _role_windows(key_col, time_col, id_col)
    fwd = tagged.select(
        key_col, "rule_id", id_col, time_col, "_code", "horizon_us",
        F.min(F.when(F.col("_code") == 1, F.col(time_col)))
        .over(w_fwd).alias("_then_ts"))
    silent = (F.col("_then_ts").isNotNull()
              & (_gap_us(time_col, "_then_ts") <= F.col("horizon_us")))
    return (fwd.filter((F.col("_code") == 0) & ~silent)
            .select(
                F.col(key_col), F.col("rule_id"),
                F.col(id_col).alias("first_event_id"),
                F.col(time_col).alias("first_ts"),
                F.timestamp_add("MICROSECOND", F.col("horizon_us"),
                                F.col(time_col)).alias("deadline_ts")))


def _absence_plan(tagged: DataFrame, key_col, time_col, id_col):
    """Match ``(key, rule_id, first_event_id, first_ts, then_ts,
    gap_sec)`` per anchor whose earliest following then-event precedes
    every following without-event and lies within the horizon."""
    w_ord, w_fwd = _role_windows(key_col, time_col, id_col)
    code = F.col("_code")
    # the row_number and the three minima share one partition+order:
    # Spark evaluates them in the SAME sorted pass
    ranked = tagged.select(
        key_col, "rule_id", id_col, time_col, "_code", "horizon_us",
        F.row_number().over(w_ord).alias("_rn"))
    fwd = ranked.select(
        key_col, "rule_id", id_col, time_col, "_code", "horizon_us",
        F.min(F.when(code == 1, F.col("_rn"))).over(w_fwd)
        .alias("_then_rn"),
        F.min(F.when(code == 1, F.col(time_col))).over(w_fwd)
        .alias("then_ts"),
        F.min(F.when(code == 2, F.col("_rn"))).over(w_fwd)
        .alias("_wo_rn"))
    gap_us = _gap_us(time_col, "then_ts")
    matched = fwd.filter(
        (code == 0)
        & F.col("_then_rn").isNotNull()
        & (F.col("_wo_rn").isNull()
           | (F.col("_then_rn") < F.col("_wo_rn")))
        & (gap_us <= F.col("horizon_us")))
    return matched.select(
        F.col(key_col), F.col("rule_id"),
        F.col(id_col).alias("first_event_id"),
        F.col(time_col).alias("first_ts"),
        "then_ts",
        F.round(gap_us / F.lit(1e6), 6).alias("gap_sec"))


def match_timeout(
    events: DataFrame,
    first: str,
    then: str,
    within_seconds: float,
    unless: str | None = None,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """The timeout/SLA pattern: one row per ``first``-typed event with
    NO ``then`` event within ``within_seconds`` of it (strictly after in
    the per-key (ts, event_id) order) — "order placed, never shipped".
    ``unless`` names an optional suppressing type (e.g. a cancel): an
    ``unless`` event within the horizon silences the alert.

    Output: ``(user_id, first_event_id, first_ts, deadline_ts)`` where
    deadline = first_ts + horizon (the earliest moment the alert is
    decidable — the streaming twin emits exactly then).

    A one-rule :func:`match_timeout_rules` in which ``unless`` is a
    second silencer type, tagged without a join.
    """
    typ = F.col(type_col)
    silencers = [t for t in (then, unless) if t is not None]
    return _timeout_plan(
        _tag(events, key_col, time_col, id_col, type_col,
             codes=F.array(F.when(typ == first, 0),
                           F.when(typ.isin(silencers), 1)),
             horizon_us=_horizon(within_seconds)),
        key_col, time_col, id_col).drop("rule_id")


def match_absence(
    events: DataFrame,
    first: str,
    then: str,
    without: str,
    within_seconds: float | None = None,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """One row per ``first``-typed event matched by a later ``then``
    event with no ``without`` event between them (per ``key_col``,
    ordered by ``(time_col, id_col)``).

    Output: ``(user_id, first_event_id, first_ts, then_ts, gap_sec)``
    with ``gap_sec`` = seconds from first to matched then, rounded to
    microsecond-exact 6 dp. ``within_seconds`` bounds the gap (None:
    unbounded). A one-rule :func:`match_absence_rules`, tagged without
    a join.
    """
    typ = F.col(type_col)
    return _absence_plan(
        _tag(events, key_col, time_col, id_col, type_col,
             codes=F.array(F.when(typ == first, 0), F.when(typ == then, 1),
                           F.when(typ == without, 2)),
             horizon_us=_horizon(within_seconds)),
        key_col, time_col, id_col).drop("rule_id")


def match_runs(
    events: DataFrame,
    run_type: str,
    min_run: int = 3,
    max_gap_seconds: float | None = None,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Kleene-plus quantifier (MATCH_RECOGNIZE ``A{n,}``): maximal runs
    of CONSECUTIVE ``run_type`` events per key — no other event type
    intervening in the per-key (ts, event_id) order — of length at
    least ``min_run``; "3+ failed logins in a row". With
    ``max_gap_seconds``, an event-time gap above it between adjacent
    run events also breaks the run (the bursty form; REQUIRED by the
    streaming twin, where a finite gap is what makes a trailing run
    decidable at the watermark).

    Gaps-and-islands without a self-join: a run HEAD is a target event
    whose immediately preceding event (lag over all types) is absent,
    differently typed, or too old; the cumulative head count is then a
    stable run id. lag and the running sum share one partition+order —
    ONE hash exchange and one sort (two chained WindowExecs over the
    same sorted partition); the closing (key, run_id) groupBy adds NO
    second shuffle, since partitioning by the key already clusters
    every (key, run) group (plan audit in BENCH.md).

    Output: ``(user_id, start_ts, end_ts, run_len)``, one row per
    qualifying maximal run.
    """
    w_ord = Window.partitionBy(key_col).orderBy(time_col, id_col)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
    typ = F.col(type_col)
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    new_run = F.lag(type_col).over(w_ord).isNull() \
        | (F.lag(type_col).over(w_ord) != run_type)
    if max_gap_seconds is not None:
        gap_us = int(round(float(max_gap_seconds) * 1e6))
        new_run = new_run | (us - F.lag(us).over(w_ord) > gap_us)
    headed = events.select(
        key_col, id_col, time_col, type_col,
        ((typ == run_type) & new_run).cast("long").alias("_head"),
    )
    runs = (headed
            .select(key_col, id_col, time_col, type_col,
                    F.sum("_head").over(w_cum).alias("_run_id"))
            .filter(typ == run_type)
            .groupBy(key_col, "_run_id")
            .agg(F.min(time_col).alias("start_ts"),
                 F.max(time_col).alias("end_ts"),
                 F.count("*").alias("run_len"))
            .filter(F.col("run_len") >= min_run))
    return runs.select(key_col, "start_ts", "end_ts", "run_len")


def _validate_steps(steps: Sequence[tuple[str, str, str]]):
    """Shared validation for :func:`match_seq` patterns. Returns
    ``(labels, types, quants)``."""
    if not steps:
        raise ValueError("pattern needs at least one step")
    labels, types, quants = zip(*steps)
    if len(set(labels)) != len(labels):
        raise ValueError(f"step labels must be unique: {labels}")
    bad = [q for q in quants if q not in ("1", "+", "?")]
    if bad:
        raise ValueError(
            f"quantifiers must be '1', '+' or '?', got {bad}")
    if quants[0] == "?":
        raise ValueError(
            f"step {labels[0]}: the anchor step cannot be optional — "
            "the match start would be ambiguous")
    k = len(steps)
    for i in range(k - 1):
        if quants[i] != "+":
            continue
        # every step reachable from a '+' step (the next step plus any
        # run of optional steps behind it) must differ in type, or
        # greedy absorption shadows the transition forever
        j = i + 1
        while j < k:
            if types[j] == types[i]:
                raise ValueError(
                    f"step {labels[i]}: a '+' step with a reachable "
                    f"next step of the SAME type ({types[i]}) can "
                    "never transition — greedy absorption shadows it")
            if quants[j] != "?":
                break
            j += 1
    return list(labels), list(types), list(quants)


def _skip_past(after_match: str) -> bool:
    """MATCH_RECOGNIZE AFTER MATCH option -> scan flag."""
    if after_match == "past_last_row":
        return True
    if after_match == "next_row":
        return False
    raise ValueError("after_match must be 'past_last_row' or "
                     f"'next_row', got {after_match!r}")


def _seq_scan(tid, us, eid, step_tids, step_quants, horizon_us, wm_us,
              skip_past=True):
    """The shared per-key pattern scan (batch AND streaming twin AND the
    single-node oracle recompute all pin THESE semantics).

    Events (``tid`` step-type codes, ``us`` micros, ``eid`` ids) are
    sorted by ``(us, eid)``. Relaxed contiguity (non-matching events are
    ignored), deterministic earliest-transition semantics (each event
    takes the EARLIEST reachable step it matches; no backtracking
    within a match attempt), AFTER MATCH SKIP PAST LAST ROW, and on a
    failed anchor the scan resumes at anchor+1. A ``+`` step absorbs
    its own type until an event of a reachable next step's type
    transitions; ``?`` steps are skippable — an event matching a later
    step may hop over a run of optional steps. A match attempt keeps
    scanning while an extension is still possible (a trailing ``+``
    run, or unfilled optional tail steps) and completes when the
    horizon closes it; an attempt whose remaining steps are all
    optional is a match. All matched events lie within ``horizon_us``
    of the anchor.

    ``wm_us`` is the decidability frontier: an anchor is only decided
    (matched OR failed) once ``wm_us > anchor+horizon``, i.e. every
    event that could participate is final. Batch passes ``wm_us=2**63``
    so everything decides. Returns ``(matches, consumed)`` where matches
    are ``(anchor_idx, last_idx, counts_per_step)`` and ``consumed`` is
    the array index before which no event can ever matter again.
    """
    n = int(tid.size)
    k = len(step_tids)
    anchor_tid = step_tids[0]
    out = []
    i = 0
    while i < n:
        rel = np.flatnonzero(tid[i:] == anchor_tid)
        if rel.size == 0:
            i = n
            break
        a = i + int(rel[0])
        deadline = int(us[a]) + horizon_us
        if wm_us <= deadline:
            i = a               # not decidable yet: stop consuming here
            break
        s = 0
        counts = [0] * k
        counts[0] = 1
        last = a
        # complete-and-inextensible: final non-'+' step matched
        matched = k == 1 and step_quants[0] != "+"
        pos = a + 1
        while not matched and pos < n and int(us[pos]) <= deadline:
            t = int(tid[pos])
            if step_quants[s] == "+" and t == step_tids[s]:
                counts[s] += 1
                last = pos
            else:
                s2 = s + 1
                while s2 < k:
                    if t == step_tids[s2]:
                        s = s2
                        counts[s] = 1
                        last = pos
                        if s == k - 1 and step_quants[s] != "+":
                            matched = True
                        break
                    if step_quants[s2] != "?":
                        break   # a mandatory step cannot be hopped
                    s2 += 1
            pos += 1
        if not matched and all(step_quants[j] == "?"
                               for j in range(s + 1, k)):
            matched = True      # horizon closed a trailing '+' run or
            # an all-optional tail; s == k-1 is the empty-tail case
        if matched:
            out.append((a, last, counts))
            # AFTER MATCH SKIP PAST LAST ROW (non-overlapping) or SKIP
            # TO NEXT ROW (every later anchor also tried — overlapping)
            i = last + 1 if skip_past else a + 1
        else:
            i = a + 1           # failed anchor: retry from the next event
    return out, i


def _step_code_expr(tid_of: dict, classify: str, type_col: str):
    """The row -> step-code classifier both match_seq and its streaming
    twin select with: a map lookup on ``type_col`` (``classify="type"``)
    or a first-match-wins ``CASE`` chain over SQL predicates
    (``classify="predicate"`` — MATCH_RECOGNIZE's DEFINE clauses).
    Rows matching nothing code to NULL and are filtered out before the
    kernel."""
    if classify == "type":
        pairs = []
        for t, i in tid_of.items():
            pairs += [F.lit(t), F.lit(i)]
        return F.create_map(*pairs)[F.col(type_col)].cast("tinyint")
    if classify == "predicate":
        chain = None
        for p, i in tid_of.items():
            chain = (F.when(F.expr(p), F.lit(i)) if chain is None
                     else chain.when(F.expr(p), F.lit(i)))
        return chain.cast("tinyint")
    raise ValueError(f"classify must be 'type' or 'predicate', "
                     f"got {classify!r}")


def _step_tids(types):
    """Step-type codes: index of the type among the distinct types."""
    tid_of = {t: i for i, t in enumerate(dict.fromkeys(types))}
    return tid_of, [tid_of[t] for t in types]


def _spec_pattern(spec: str):
    """A seq rule's spec string -> ``(labels, quants, step_tids)``."""
    labels, types, quants = _validate_steps(_parse_steps_spec(spec))
    return labels, quants, _step_tids(types)[1]


def _seq_plan(tagged: DataFrame, pattern, skip_past, key_col, time_col,
              id_col) -> DataFrame:
    """The one seq kernel: :func:`_seq_scan` per (key, rule_id) group
    of the tagged frame, ``pattern(pdf) -> (labels, quants,
    step_tids)`` reading the group's pattern. Output ``(key, rule_id,
    first_event_id, start_ts, end_ts, n_events, step_counts)``."""
    out_schema = StructType([
        StructField(key_col, tagged.schema[key_col].dataType),
        StructField("rule_id", StringType()),
        StructField("first_event_id", tagged.schema[id_col].dataType),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("n_events", LongType()),
        StructField("step_counts", StringType()),
    ])

    def kernel(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        labels, quants, step_tids = pattern(pdf)
        us = (pdf[time_col].to_numpy("datetime64[ns]")
              .astype(np.int64) // 1_000)
        eid = pdf[id_col].to_numpy()
        code = pdf["_code"].to_numpy(np.int8)
        order = np.lexsort((eid, us))
        us, eid, code = us[order], eid[order], code[order]
        matches, _ = _seq_scan(code, us, eid, step_tids, quants,
                               int(pdf["horizon_us"].iloc[0]), 2 ** 63,
                               skip_past)
        return pd.DataFrame(
            [(*keys, eid[a], pd.Timestamp(int(us[a]), unit="us"),
              pd.Timestamp(int(us[last]), unit="us"), int(sum(counts)),
              ",".join(f"{lb}={c}" for lb, c in zip(labels, counts)))
             for a, last, counts in matches],
            columns=[f.name for f in out_schema])

    # CPU-bound scan kernel: pin the shuffle's partition count so AQE
    # byte-coalescing can't serialize the stage (CLAUDE.md invariant)
    return (pin_partitions(tagged, key_col, "rule_id")
            .groupBy(key_col, "rule_id").applyInPandas(kernel, out_schema))


def match_seq(
    events: DataFrame,
    steps: Sequence[tuple[str, str, str]],
    within_seconds: float | None = None,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    classify: str = "type",
    after_match: str = "past_last_row",
) -> DataFrame:
    """General MATCH_RECOGNIZE-style sequence patterns — the
    generalization the specialized CEP operators compile from:
    ``steps`` is an ordered list of ``(label, event_type, quant)`` with
    ``quant`` in ``{'1', '+', '?'}`` (``PATTERN (A B+ C? D)``), matched
    per key in (ts, id) order under relaxed contiguity, greedy
    quantifiers, AFTER MATCH SKIP PAST LAST ROW, and an optional
    overall horizon (``within_seconds`` from anchor to last matched
    event). ``after_match`` picks the MATCH_RECOGNIZE AFTER MATCH
    option: ``"past_last_row"`` (default, non-overlapping) or
    ``"next_row"`` (every later anchor also tried — overlapping
    matches). ``?`` steps are skippable: an event matching a later step
    hops over a run of optional steps (deterministic
    earliest-transition semantics — each event takes the earliest
    reachable step it matches, no backtracking); a match whose
    remaining tail is all-optional completes when the horizon closes
    it. The anchor step cannot be ``?``.

    Prefer the codegen specializations when their (deliberately
    stricter) semantics fit — they are pure whole-stage-codegen window
    plans: once-per-user step chains are ``funnel_times``, strictly
    consecutive same-type runs (any other type breaks) are
    :func:`match_runs`, negation is :func:`match_absence`. This
    operator covers the general quantified shape those cannot express
    (e.g. ``view click+ purchase``, repeated per key), at the cost of
    an Arrow-batched per-key scan kernel (`applyInPandas`) — the same
    cost model as every CEP engine's NFA: one hash exchange on the
    key, a linear scan per key (quadratic only under adversarial
    anchor-retry pile-ups), perfect cross-key parallelism, and only
    pattern-relevant event types ever reach the kernel (rows with no
    step code are dropped at the scan).

    With ``classify="predicate"`` each step's second element is a SQL
    boolean expression instead of an event type — MATCH_RECOGNIZE's
    DEFINE clauses (``("hi_view", "event_type = 'view' AND value >=
    10", "1")``). A row is classified to the FIRST step predicate it
    satisfies (deterministic resolution of overlapping DEFINEs, one
    codegen CASE chain); rows satisfying none are ignored exactly like
    non-pattern types.

    Output: ``(key, first_event_id, start_ts, end_ts, n_events,
    step_counts)`` with ``step_counts`` like ``"view=1,click=3,
    purchase=1"``. A one-rule :func:`match_seq_rules` whose events are
    coded by a column expression instead of a join. Reference parity:
    extends the reference's event query family (SURVEY.md §2 funnel
    rows) with Flink/Trino MATCH_RECOGNIZE quantified patterns, built
    Spark-first.
    """
    labels, types, quants = _validate_steps(steps)
    skip_past = _skip_past(after_match)
    horizon_us = _horizon(within_seconds)
    if horizon_us <= 0:
        raise ValueError("within_seconds must be positive")
    tid_of, step_tids = _step_tids(types)
    pattern = (labels, quants, step_tids)
    return _seq_plan(
        _tag(events, key_col, time_col, id_col, type_col,
             codes=F.array(_step_code_expr(tid_of, classify, type_col)),
             horizon_us=horizon_us),
        lambda pdf: pattern, skip_past, key_col, time_col,
        id_col).drop("rule_id")


def _parse_steps_spec(spec: str) -> list[tuple[str, str, str]]:
    """Parse a rules-table pattern spec — ``"A:1,B:+,C:1"`` — into
    :func:`match_seq` steps. Labels are the step types, suffixed
    ``#i`` (1-based step position) when a type repeats, so
    ``step_counts`` stays self-describing."""
    raw = []
    for part in spec.split(","):
        t, _, q = part.strip().rpartition(":")
        # normalize exactly like the SQL membership extraction
        # (F.trim(regexp_extract)) so ' click :+' can't pass driver
        # validation yet never match the joined events
        t, q = t.strip(), q.strip()
        if not t:
            raise ValueError(f"bad step {part!r} in pattern {spec!r}"
                             " (want type:quant)")
        raw.append((t, q))
    types = [t for t, _ in raw]
    labels = [t if types.count(t) == 1 else f"{t}#{i + 1}"
              for i, t in enumerate(types)]
    return [(lb, t, q) for lb, (t, q) in zip(labels, raw)]


def match_seq_rules(
    events: DataFrame,
    rules: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    after_match: str = "past_last_row",
) -> DataFrame:
    """Dynamic-rules quantified-sequence CEP: :func:`match_seq` with
    the patterns in a TABLE — ``rules(rule_id, steps, within_seconds)``
    where ``steps`` is a spec string like ``"view:1,click:+,
    purchase:1"`` — completing rules-as-data across every pattern
    class (timeout, absence, and now general sequences). A new
    quantified pattern deploys as a row insert, not a code change.

    Plan: the rules become a roles table (each distinct step type of a
    spec, coded by its first position; driver-side validation only
    touches the tiny rules side); ONE broadcast join tags each event
    with its code, spec and horizon per rule, then the :func:`match_seq`
    kernel runs per ``(key, rule_id)`` group — key space |keys| x
    |matching rules|, strictly more parallel than the single-pattern
    operator, event duplication bounded by rules per type. The kernel
    parses each group's spec string once, so the scan itself is
    rule-agnostic.

    Output: ``(key, rule_id, first_event_id, start_ts, end_ts,
    n_events, step_counts)``.
    """
    skip_past = _skip_past(after_match)
    _check_rules(rules, "steps")
    return _seq_plan(
        _tag(events, key_col, time_col, id_col, type_col,
             roles=_roles(rules)),
        lambda pdf: _spec_pattern(pdf["steps"].iloc[0]), skip_past,
        key_col, time_col, id_col)


def match_timeout_rules(
    events: DataFrame,
    rules: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Dynamic-rules timeout CEP: :func:`match_timeout` where the
    patterns live in a TABLE — ``rules(rule_id, first_type, then_type,
    within_seconds)`` — instead of code. New alert rules deploy as a
    row insert, not a code change (the broadcast-state idiom of CEP
    engines; the streaming twin re-reads the static rules side every
    micro-batch). Every ``within_seconds`` must be positive.

    One alert row per (rule, anchor event of that rule's
    ``first_type``) with no ``then_type`` event inside the rule's own
    horizon. A rule may have ``first_type == then_type`` ("no repeat
    within T"): the event's silencer copy sorts BEFORE its anchor copy
    at the same (ts, id), so only genuinely later events fall in the
    anchor's forward frame.

    Plan: ONE broadcast join of the (tiny) roles table fans each event
    out to the (rule, role) pairs it plays, then the match_timeout
    forward minimum runs per (key, rule_id) — ONE exchange+sort whose
    key space is |keys| x |matching rules| (MORE parallel than the
    static operator, never less), event duplication bounded by roles
    per type, no per-row Python.

    Output: ``(user_id, rule_id, first_event_id, first_ts,
    deadline_ts)``.
    """
    _check_rules(rules)
    out = _timeout_plan(
        _tag(events, key_col, time_col, id_col, type_col,
             roles=_roles(rules, *TIMEOUT_ROLES)),
        key_col, time_col, id_col)
    # deadline_ts is a session-zone timestamp whatever the event-time type
    return out.withColumn("deadline_ts",
                          F.col("deadline_ts").cast("timestamp"))


def match_absence_rules(
    events: DataFrame,
    rules: DataFrame,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Dynamic-rules absence CEP: :func:`match_absence` with the
    patterns in a TABLE — ``rules(rule_id, first_type, then_type,
    without_type, within_seconds)`` — completing the rules-as-data
    story begun by :func:`match_timeout_rules`.

    Same plan as the timeout twin: ONE broadcast join against the roles
    table tags each event once per (rule, role) it plays, then the
    match_absence forward minima run per (key, rule_id) partition. The
    ``(ts, id, _code desc)`` order keeps an anchor from matching its
    own copy, which makes ``first_type == then_type`` ("A then the next
    A") work.

    ``then_type == without_type`` is rejected (the silencer would
    always tie its own match and the rule could never fire), and so is
    a NULL or non-positive ``within_seconds``.

    Output: ``(user_id, rule_id, first_event_id, first_ts, then_ts,
    gap_sec)`` — the batch twin of the streaming form, row-identical
    on drained input.
    """
    _check_rules(rules, "then_type", "without_type")
    return _absence_plan(
        _tag(events, key_col, time_col, id_col, type_col,
             roles=_roles(rules, *ABSENCE_ROLES)),
        key_col, time_col, id_col)
