"""Batch absence-pattern CEP: fixture semantics + brute-force property.

match_absence("A then B with no C between, within horizon") must equal
an exhaustive per-anchor scan under the (ts, event_id) order — ties,
negation, and horizon edges included.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd
import pytest

from bigdata_event_stream_detection_spark.operators.cep import (
    match_absence,
)

T0 = datetime(2024, 6, 1)


def _df(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["user_id", "event_id", "ts", "event_type"])
    return spark.createDataFrame(pdf)


def _brute(rows, first, then, without, within=None):
    """Exhaustive reference: for every first-event, the earliest
    following then-event in (ts, event_id) order wins iff no without
    sits between them and the gap fits the horizon."""
    out = set()
    for u, fe, fts, ftyp in rows:
        if ftyp != first:
            continue
        fol = [(ts, e, ty) for (uu, e, ts, ty) in rows
               if uu == u and (ts, e) > (fts, fe)]
        thens = sorted((ts, e) for ts, e, ty in fol if ty == then)
        wos = sorted((ts, e) for ts, e, ty in fol if ty == without)
        if not thens:
            continue
        t = thens[0]
        if wos and wos[0] < t:
            continue
        gap_us = int((t[0] - fts) / timedelta(microseconds=1))
        if within is not None and gap_us > within * 1e6:
            continue
        out.add((u, fe, fts, t[0], round(gap_us / 1e6, 6)))
    return out


def _collect(df):
    return {(r["user_id"], r["first_event_id"], r["first_ts"],
             r["then_ts"], r["gap_sec"]) for r in df.collect()}


def test_match_absence_fixture(spark):
    m = timedelta(minutes=1)
    rows = [
        # u1: clean A -> B, matches
        (1, 10, T0, "A"), (1, 11, T0 + 5 * m, "B"),
        # u2: C between A and B -> no match
        (2, 20, T0, "A"), (2, 21, T0 + 2 * m, "C"),
        (2, 22, T0 + 5 * m, "B"),
        # u3: C after B -> still matches
        (3, 30, T0, "A"), (3, 31, T0 + 3 * m, "B"),
        (3, 32, T0 + 4 * m, "C"),
        # u4: B beyond the horizon -> no match
        (4, 40, T0, "A"), (4, 41, T0 + 90 * m, "B"),
        # u5: tie on ts — B shares A's timestamp, larger event_id, so it
        # is strictly-after in order and matches with gap 0
        (5, 50, T0, "A"), (5, 51, T0, "B"),
        # u6: two anchors, one shared B: both match (each anchor is an
        # independent pattern instance)
        (6, 60, T0, "A"), (6, 61, T0 + 1 * m, "A"),
        (6, 62, T0 + 2 * m, "B"),
        # u7: B before A only -> no match
        (7, 71, T0, "B"), (7, 70, T0 + 1 * m, "A"),
    ]
    got = _collect(match_absence(
        _df(spark, rows), "A", "B", "C", within_seconds=3600))
    assert got == _brute(
        [(u, e, ts, ty) for (u, e, ts, ty) in rows], "A", "B", "C", 3600)
    assert {g[0] for g in got} == {1, 3, 5, 6}
    assert len([g for g in got if g[0] == 6]) == 2
    u5 = next(g for g in got if g[0] == 5)
    assert u5[4] == 0.0


def test_match_absence_matches_bruteforce_random(spark):
    rng = random.Random(7)
    rows = []
    eid = 0
    for u in range(1, 13):
        for _ in range(rng.randint(3, 14)):
            rows.append((
                u, eid,
                T0 + timedelta(seconds=rng.randint(0, 7200)),
                rng.choice(["A", "B", "C", "noise"])))
            eid += 1
    # role-sharing patterns: an event that is both anchor and then
    # ("A then the next A") or both anchor and without
    for pattern in (("A", "B", "C"), ("A", "A", "C"), ("A", "B", "A")):
        for within in (None, 1800):
            got = _collect(match_absence(
                _df(spark, rows), *pattern, within_seconds=within))
            assert got == _brute(rows, *pattern, within), pattern


def _batch_twins(spark):
    """Each batch CEP twin -> its plan over a tiny input."""
    from bigdata_event_stream_detection_spark.operators import cep

    ev = _df(spark, [(1, 10, T0, "A"),
                     (1, 11, T0 + timedelta(minutes=5), "B")])
    timeout_rules = spark.createDataFrame(
        [("r1", "A", "B", 60.0)],
        "rule_id string, first_type string, then_type string,"
        " within_seconds double")
    absence_rules = spark.createDataFrame(
        [("r1", "A", "B", "C", 60.0)],
        "rule_id string, first_type string, then_type string,"
        " without_type string, within_seconds double")
    seq_rules = spark.createDataFrame(
        [("r1", "A:1,B:+", 60.0)],
        "rule_id string, steps string, within_seconds double")
    return {
        "timeout": lambda: cep.match_timeout(ev, "A", "B", 60.0,
                                             unless="C"),
        "absence": lambda: cep.match_absence(ev, "A", "B", "C"),
        "seq": lambda: cep.match_seq(
            ev, [("a", "A", "1"), ("b", "B", "+")], 60.0),
        "timeout_rules": lambda: cep.match_timeout_rules(ev, timeout_rules),
        "absence_rules": lambda: cep.match_absence_rules(ev, absence_rules),
        "seq_rules": lambda: cep.match_seq_rules(ev, seq_rules),
    }


@pytest.mark.parametrize("twin", [
    "absence", "timeout", "seq", "absence_rules", "timeout_rules",
    "seq_rules"])
def test_match_absence_single_sort_plan(spark, twin):
    """One plan per pattern: every batch twin runs on one hash exchange
    on (key, rule). A fixed twin tags its events with a column
    expression (no join at all); a rules twin with exactly one
    broadcast hash join against its roles table."""
    plan = _batch_twins(spark)[twin]()._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan
    if twin.endswith("_rules"):
        assert plan.count("BroadcastHashJoin") == 1, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    else:
        assert "Join" not in plan, plan


def _brute_timeout(rows, first, then, within, unless=None):
    watch = {t for t in (then, unless) if t is not None}
    out = set()
    for u, fe, fts, ftyp in rows:
        if ftyp != first:
            continue
        silenced = any(
            uu == u and ty in watch and (ts, e) > (fts, fe)
            and (ts - fts) <= timedelta(seconds=within)
            for (uu, e, ts, ty) in rows)
        if not silenced:
            out.add((u, fe, fts, fts + timedelta(seconds=within)))
    return out


def _collect_timeout(df):
    return {(r["user_id"], r["first_event_id"], r["first_ts"],
             r["deadline_ts"]) for r in df.collect()}


def test_match_timeout_fixture(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout,
    )
    m = timedelta(minutes=1)
    rows = [
        # u1: purchase in time -> no alert
        (1, 10, T0, "A"), (1, 11, T0 + 5 * m, "B"),
        # u2: nothing follows -> alert
        (2, 20, T0, "A"),
        # u3: B beyond horizon -> alert
        (3, 30, T0, "A"), (3, 31, T0 + 90 * m, "B"),
        # u4: cancel (unless) in horizon -> silenced
        (4, 40, T0, "A"), (4, 41, T0 + 10 * m, "C"),
        # u5: tie on ts, B strictly-after by id -> silenced (gap 0)
        (5, 50, T0, "A"), (5, 51, T0, "B"),
        # u6: B BEFORE the anchor only -> alert
        (6, 61, T0, "B"), (6, 60, T0 + 1 * m, "A"),
    ]
    got = _collect_timeout(match_timeout(
        _df(spark, rows), "A", "B", within_seconds=3600, unless="C"))
    assert got == _brute_timeout(rows, "A", "B", 3600, "C")
    assert {g[0] for g in got} == {2, 3, 6}


def test_match_timeout_matches_bruteforce_random(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout,
    )
    rng = random.Random(13)
    rows = []
    eid = 0
    for u in range(1, 13):
        for _ in range(rng.randint(2, 12)):
            rows.append((
                u, eid,
                T0 + timedelta(seconds=rng.randint(0, 7200)),
                rng.choice(["A", "B", "C", "noise"])))
            eid += 1
    # ("A", "A"): "no repeat within T" — each event is anchor and
    # silencer, and must never silence itself
    for first, then in (("A", "B"), ("A", "A")):
        for unless in (None, "C"):
            got = _collect_timeout(match_timeout(
                _df(spark, rows), first, then, within_seconds=1800,
                unless=unless))
            assert got == _brute_timeout(rows, first, then, 1800, unless)


def _brute_runs(rows, run_type, min_run, gap=None):
    """Reference: fold each user's (ts, event_id)-ordered events; a
    differently-typed event or an over-gap step breaks the run."""
    out = set()
    by_user: dict = {}
    for u, e, ts, ty in rows:
        by_user.setdefault(u, []).append((ts, e, ty))
    for u, evs in by_user.items():
        evs.sort()
        run: list = []

        def flush():
            if len(run) >= min_run:
                out.add((u, run[0], run[-1], len(run)))
            run.clear()

        for ts, e, ty in evs:
            if ty != run_type:
                flush()
            elif run and gap is not None and \
                    (ts - run[-1]).total_seconds() > gap:
                flush()
                run.append(ts)
            else:
                run.append(ts)
        flush()
    return out


def _collect_runs(df):
    return {(r["user_id"], r["start_ts"], r["end_ts"], r["run_len"])
            for r in df.collect()}


def test_match_runs_fixture(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )

    m = timedelta(minutes=1)
    rows = [
        # u1: 3 straight fails -> one run
        (1, 10, T0, "F"), (1, 11, T0 + m, "F"), (1, 12, T0 + 2 * m, "F"),
        # u2: 2, broken, then 3 -> two runs at min_run=2
        (2, 20, T0, "F"), (2, 21, T0 + m, "F"), (2, 22, T0 + 2 * m, "ok"),
        (2, 23, T0 + 3 * m, "F"), (2, 24, T0 + 4 * m, "F"),
        (2, 25, T0 + 5 * m, "F"),
        # u3: consecutive but over the 10-min gap -> two singletons
        (3, 30, T0, "F"), (3, 31, T0 + 30 * m, "F"),
        # u4: tie timestamps, event_id breaks the tie -> len-2 run
        (4, 40, T0, "F"), (4, 41, T0, "F"),
        # u5: noise never forms a run
        (5, 50, T0, "ok"), (5, 51, T0 + m, "ok"),
    ]
    got = _collect_runs(match_runs(
        _df(spark, rows), "F", min_run=2, max_gap_seconds=600))
    assert got == {
        (1, T0, T0 + 2 * m, 3),
        (2, T0, T0 + m, 2), (2, T0 + 3 * m, T0 + 5 * m, 3),
        (4, T0, T0, 2),
    }


def test_match_runs_matches_bruteforce_random(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )

    rng = random.Random(11)
    rows = []
    eid = 0
    for u in range(1, 13):
        for _ in range(rng.randint(3, 16)):
            rows.append((
                u, eid,
                T0 + timedelta(seconds=rng.randint(0, 3600)),
                rng.choice(["F", "F", "ok", "noise"])))
            eid += 1
    for min_run, gap in ((1, None), (2, 900), (3, 120)):
        got = _collect_runs(match_runs(
            _df(spark, rows), "F", min_run=min_run,
            max_gap_seconds=gap))
        assert got == _brute_runs(rows, "F", min_run, gap), \
            f"min_run={min_run} gap={gap}"


def test_match_runs_plan_single_sort_then_agg(spark):
    """lag + running head-count share one partition+order: exactly one
    exchange on the key, one more for the runs-sized groupBy, no join."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )

    rows = [(1, 10, T0, "F"), (1, 11, T0 + timedelta(minutes=1), "F")]
    plan = match_runs(_df(spark, rows), "F")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan and "CartesianProduct" not in plan


def _rules_df(spark, rules):
    return spark.createDataFrame(
        pd.DataFrame(rules, columns=[
            "rule_id", "first_type", "then_type", "within_seconds"]))


def _brute_timeout_rules(rows, rules):
    out = set()
    for rid, first, then, within in rules:
        for u, fe, fts, ftyp in rows:
            if ftyp != first:
                continue
            silenced = any(
                uu == u and ty == then and (ts, e) > (fts, fe)
                and (ts - fts) <= timedelta(seconds=within)
                for (uu, e, ts, ty) in rows)
            if not silenced:
                out.add((u, rid, fe, fts,
                         fts + timedelta(seconds=within)))
    return out


def test_match_timeout_rules_fixture(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout_rules,
    )

    m = timedelta(minutes=1)
    rows = [
        # r1 (A->B, 30m): u1 answered, u2 alerts
        (1, 10, T0, "A"), (1, 11, T0 + 5 * m, "B"),
        (2, 20, T0, "A"),
        # r2 (B->C, 10m): u1's B alerts (no C), u3's B answered
        (3, 30, T0, "B"), (3, 31, T0 + 2 * m, "C"),
        # r3 (C->C, 15m: "no repeat C within 15m"): u4 burst — only the
        # last C alerts; the anchor must NOT silence itself
        (4, 40, T0, "C"), (4, 41, T0 + 5 * m, "C"),
        (4, 42, T0 + 10 * m, "C"),
    ]
    rules = [("r1", "A", "B", 1800.0), ("r2", "B", "C", 600.0),
             ("r3", "C", "C", 900.0)]
    got = {(r["user_id"], r["rule_id"], r["first_event_id"],
            r["first_ts"], r["deadline_ts"])
           for r in match_timeout_rules(
               _df(spark, rows), _rules_df(spark, rules)).collect()}
    assert got == _brute_timeout_rules(rows, rules)
    # r3 self-type rule: u4's burst alerts ONCE, from the LAST event
    # (earlier C's are silenced by the next C, never by themselves);
    # u3's lone C alerts too
    r3 = {g for g in got if g[1] == "r3"}
    assert r3 == {
        (4, "r3", 42, T0 + 10 * m, T0 + 10 * m + timedelta(seconds=900)),
        (3, "r3", 31, T0 + 2 * m, T0 + 2 * m + timedelta(seconds=900)),
    }


def test_match_timeout_rules_matches_bruteforce_random(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout_rules,
    )

    rng = random.Random(19)
    rows = []
    eid = 0
    for u in range(1, 12):
        for _ in range(rng.randint(3, 14)):
            rows.append((
                u, eid,
                T0 + timedelta(seconds=rng.randint(0, 7200)),
                rng.choice(["A", "B", "C", "noise"])))
            eid += 1
    rules = [("r1", "A", "B", 1800.0), ("r2", "B", "A", 600.0),
             ("r3", "C", "C", 900.0), ("r4", "A", "C", 60.0)]
    got = {(r["user_id"], r["rule_id"], r["first_event_id"],
            r["first_ts"], r["deadline_ts"])
           for r in match_timeout_rules(
               _df(spark, rows), _rules_df(spark, rules)).collect()}
    assert got == _brute_timeout_rules(rows, rules)


def test_match_absence_rules_matches_per_rule_bruteforce(spark):
    """Per-rule absence == the single-pattern brute force applied rule
    by rule, including a self-type 'A then the next A' rule."""
    import pytest

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence_rules,
    )

    rng = random.Random(29)
    rows = []
    eid = 0
    for u in range(1, 12):
        for _ in range(rng.randint(3, 14)):
            rows.append((
                u, eid,
                T0 + timedelta(seconds=rng.randint(0, 7200)),
                rng.choice(["A", "B", "C", "noise"])))
            eid += 1
    rules = [("r1", "A", "B", "C", 1800.0),
             ("r2", "B", "C", "A", 600.0),
             ("r3", "A", "A", "C", 900.0)]   # self-type then
    rules_df = spark.createDataFrame(
        pd.DataFrame(rules, columns=[
            "rule_id", "first_type", "then_type", "without_type",
            "within_seconds"]))
    got = {(r["user_id"], r["rule_id"], r["first_event_id"],
            r["first_ts"], r["then_ts"], r["gap_sec"])
           for r in match_absence_rules(
               _df(spark, rows), rules_df).collect()}
    want = set()
    for rid, first, then, wo, within in rules:
        for (u, fe, fts, tts, gap) in _brute(
                rows, first, then, wo, within):
            want.add((u, rid, fe, fts, tts, gap))
    assert got == want
    assert any(g[1] == "r3" for g in got)   # the self-type rule fires

    # then_type == without_type can never fire: rejected up front
    dead = spark.createDataFrame(
        pd.DataFrame([("rx", "A", "B", "B", 60.0)], columns=[
            "rule_id", "first_type", "then_type", "without_type",
            "within_seconds"]))
    with pytest.raises(ValueError, match="never fire"):
        match_absence_rules(_df(spark, rows), dead)


def test_match_absence_rules_plan_broadcasts_rules(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence_rules,
    )

    rows = [(1, 10, T0, "A"), (1, 11, T0 + timedelta(minutes=1), "B")]
    rules_df = spark.createDataFrame(
        pd.DataFrame([("r1", "A", "B", "C", 600.0)], columns=[
            "rule_id", "first_type", "then_type", "without_type",
            "within_seconds"]))
    plan = match_absence_rules(
        _df(spark, rows), rules_df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1


# ---------------------------------------------------------------------------
# match_seq: general MATCH_RECOGNIZE quantified patterns
# ---------------------------------------------------------------------------

def _seq_rows(df):
    return {(r["user_id"], r["first_event_id"],
             r["start_ts"], r["end_ts"],
             r["n_events"], r["step_counts"]) for r in df.collect()}


VCP = [("a", "A", "1"), ("b", "B", "+"), ("c", "C", "1")]


def test_match_seq_fixture(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = timedelta(minutes=1)
    rows = [
        # u1: plain A B B C — '+' absorbs both Bs
        (1, 10, T0, "A"), (1, 11, T0 + 5 * m, "B"),
        (1, 12, T0 + 7 * m, "B"), (1, 13, T0 + 10 * m, "C"),
        # u2: A then C but no B -> C is ignored while waiting for B
        (2, 20, T0, "A"), (2, 21, T0 + 5 * m, "C"),
        # u3: C lands beyond the horizon -> fail
        (3, 30, T0, "A"), (3, 31, T0 + 5 * m, "B"),
        (3, 32, T0 + 40 * m, "C"),
        # u4: two back-to-back matches (skip past last row)
        (4, 40, T0, "A"), (4, 41, T0 + 2 * m, "B"),
        (4, 42, T0 + 4 * m, "C"), (4, 43, T0 + 5 * m, "A"),
        (4, 44, T0 + 6 * m, "B"), (4, 45, T0 + 8 * m, "C"),
        # u5: failed first anchor, second anchor succeeds
        (5, 50, T0, "A"), (5, 51, T0 + 20 * m, "A"),
        (5, 52, T0 + 35 * m, "B"), (5, 53, T0 + 45 * m, "C"),
        # u6: a second A inside the B-run is ignored (relaxed contiguity)
        (6, 60, T0, "A"), (6, 61, T0 + 1 * m, "B"),
        (6, 62, T0 + 2 * m, "A"), (6, 63, T0 + 3 * m, "B"),
        (6, 64, T0 + 4 * m, "C"),
    ]
    got = _seq_rows(match_seq(_df(spark, rows), VCP,
                              within_seconds=1800))
    exp = {
        (1, 10, T0, T0 + 10 * m, 4, "a=1,b=2,c=1"),
        (4, 40, T0, T0 + 4 * m, 3, "a=1,b=1,c=1"),
        (4, 43, T0 + 5 * m, T0 + 8 * m, 3, "a=1,b=1,c=1"),
        (5, 51, T0 + 20 * m, T0 + 45 * m, 3, "a=1,b=1,c=1"),
        (6, 60, T0, T0 + 4 * m, 4, "a=1,b=2,c=1"),
    }
    assert got == exp


def test_match_seq_trailing_plus_and_single_step(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = timedelta(minutes=1)
    rows = [
        (1, 10, T0, "A"), (1, 11, T0 + 1 * m, "B"),
        (1, 12, T0 + 2 * m, "B"), (1, 13, T0 + 50 * m, "B"),
    ]
    # trailing '+': the horizon closes the run; the out-of-horizon B
    # is excluded from THIS match (no A left to re-anchor afterwards)
    got = _seq_rows(match_seq(
        _df(spark, rows), [("a", "A", "1"), ("b", "B", "+")],
        within_seconds=600))
    assert got == {(1, 10, T0, T0 + 2 * m, 3, "a=1,b=2")}
    # single '1' step: every occurrence matches on its own
    got1 = _seq_rows(match_seq(
        _df(spark, rows), [("a", "A", "1")], within_seconds=600))
    assert got1 == {(1, 10, T0, T0, 1, "a=1")}
    # single '+' step: a greedy run per horizon window — the B beyond
    # the first run's horizon anchors its own length-1 run
    gotp = _seq_rows(match_seq(
        _df(spark, rows), [("b", "B", "+")], within_seconds=600))
    assert gotp == {
        (1, 11, T0 + 1 * m, T0 + 2 * m, 2, "b=2"),
        (1, 13, T0 + 50 * m, T0 + 50 * m, 1, "b=1"),
    }


def test_match_seq_validation(spark):
    import pytest

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    df = _df(spark, [(1, 10, T0, "A")])
    with pytest.raises(ValueError, match="at least one"):
        match_seq(df, [])
    with pytest.raises(ValueError, match="quantifiers"):
        match_seq(df, [("a", "A", "*")])
    with pytest.raises(ValueError, match="unique"):
        match_seq(df, [("a", "A", "1"), ("a", "B", "1")])
    with pytest.raises(ValueError, match="never transition"):
        match_seq(df, [("a", "A", "+"), ("b", "A", "1")])
    with pytest.raises(ValueError, match="positive"):
        match_seq(df, [("a", "A", "1")], within_seconds=0)


def test_match_seq_matches_local_oracle_random(spark):
    """The Spark kernel must equal the independent single-node state
    machine (tools/local_oracle.seq_match_rows_pdf) on random data —
    ties, retries, greedy absorption and horizon edges included."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import local_oracle as lo

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    for seed, steps, within in [
        (3, VCP, 900),
        (17, [("x", "X", "+"), ("y", "Y", "1")], 600),
        (23, [("a", "A", "1"), ("b", "B", "1"), ("a2", "A", "+")], 1200),
    ]:
        rng = random.Random(seed)
        rows = []
        eid = 0
        for u in range(1, 20):
            for _ in range(rng.randint(2, 25)):
                rows.append((
                    u, eid,
                    T0 + timedelta(seconds=rng.randint(0, 3600)),
                    rng.choice(["A", "B", "C", "X", "Y", "noise"])))
                eid += 1
        pdf = pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts", "event_type"])
        got = {(r["user_id"], r["first_event_id"],
                int(r["start_ts"].timestamp() * 1e6),
                int(r["end_ts"].timestamp() * 1e6),
                r["n_events"], r["step_counts"])
               for r in match_seq(spark.createDataFrame(pdf), steps,
                                  within_seconds=within).collect()}
        exp = set(lo.seq_match_rows_pdf(pdf, steps, within))
        assert got == exp, f"seed {seed}"


def test_match_seq_invariants_random(spark):
    """Structural invariants: per-key matches are disjoint and ordered,
    spans respect the horizon, counts respect the quantifiers."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    rng = random.Random(99)
    rows = []
    eid = 0
    for u in range(1, 30):
        for _ in range(rng.randint(5, 40)):
            rows.append((u, eid,
                         T0 + timedelta(seconds=rng.randint(0, 7200)),
                         rng.choice(["A", "B", "C", "noise"])))
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["user_id", "event_id", "ts", "event_type"])
    out = (match_seq(spark.createDataFrame(pdf), VCP,
                     within_seconds=900)
           .orderBy("user_id", "start_ts").toPandas())
    assert len(out) > 0
    for _, g in out.groupby("user_id"):
        spans = list(zip(g["start_ts"], g["end_ts"]))
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2          # disjoint, ordered
        for s, e in spans:
            assert (e - s).total_seconds() <= 900
    for sc, n in zip(out["step_counts"], out["n_events"]):
        parts = dict(p.split("=") for p in sc.split(","))
        assert parts["a"] == "1" and parts["c"] == "1"
        assert int(parts["b"]) >= 1
        assert sum(map(int, parts.values())) == n


def test_match_seq_rules_equals_per_rule_match_seq(spark):
    """match_seq_rules == UNION over rules of match_seq with that
    rule's parsed steps — on random data, labels and counts included."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        _parse_steps_spec,
        match_seq,
        match_seq_rules,
    )

    rng = random.Random(31)
    rows = []
    eid = 0
    for u in range(1, 25):
        for _ in range(rng.randint(3, 30)):
            rows.append((u, eid,
                         T0 + timedelta(seconds=rng.randint(0, 5400)),
                         rng.choice(["A", "B", "C", "D", "noise"])))
            eid += 1
    df = _df(spark, rows)
    rules = [("r1", "A:1,B:+,C:1", 900.0),
             ("r2", "D:+", 600.0),
             ("r3", "B:1,B:+", 1200.0)]       # '1' then '+' of SAME type
    rdf = spark.createDataFrame(
        rules, "rule_id string, steps string, within_seconds double")
    got = {(r["user_id"], r["rule_id"], r["first_event_id"],
            r["start_ts"], r["end_ts"], r["n_events"], r["step_counts"])
           for r in match_seq_rules(df, rdf).collect()}
    exp = set()
    for rid, spec, w in rules:
        for r in match_seq(df, _parse_steps_spec(spec),
                           within_seconds=w).collect():
            exp.add((r["user_id"], rid, r["first_event_id"],
                     r["start_ts"], r["end_ts"], r["n_events"],
                     r["step_counts"]))
    assert got == exp
    assert len({g[1] for g in got}) == 3      # every rule fired


def test_match_seq_rules_validation(spark):
    import pytest

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq_rules,
    )

    df = _df(spark, [(1, 10, T0, "A")])

    def rdf(rows):
        return spark.createDataFrame(
            rows, "rule_id string, steps string, within_seconds double")

    with pytest.raises(ValueError, match="empty"):
        match_seq_rules(df, rdf([]).filter("false"))
    with pytest.raises(ValueError, match="never transition"):
        match_seq_rules(df, rdf([("r", "A:+,A:1", 60.0)]))
    with pytest.raises(ValueError, match="positive"):
        match_seq_rules(df, rdf([("r", "A:1", 0.0)]))
    with pytest.raises(ValueError, match="bad step"):
        match_seq_rules(df, rdf([("r", "A", 60.0)]))


@pytest.mark.parametrize("within", [None, 0.0, -60.0])
def test_match_rules_reject_non_positive_horizons(spark, within):
    """Every rules twin, batch and streaming, rejects a NULL, zero or
    negative horizon up front (the rules validation is shared) — a
    NULL horizon would otherwise alert with a NULL deadline, a negative
    one before the anchor, and an absence rule would silently never
    match."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence_rules,
        match_timeout_rules,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_absence_rules,
        streaming_match_timeout_rules,
    )

    df = _df(spark, [(1, 10, T0, "A"), (1, 11, T0, "noise")])
    timeout = spark.createDataFrame(
        [("ok", "A", "B", 60.0), ("bad", "A", "B", within)],
        "rule_id string, first_type string, then_type string,"
        " within_seconds double")
    absence = spark.createDataFrame(
        [("ok", "A", "B", "C", 60.0), ("bad", "A", "B", "C", within)],
        "rule_id string, first_type string, then_type string,"
        " without_type string, within_seconds double")
    stream = (spark.readStream.format("rate").load()
              .selectExpr("value AS user_id", "value AS event_id",
                          "timestamp AS ts", "'A' AS event_type"))
    for twin, rules in ((match_timeout_rules, timeout),
                        (match_absence_rules, absence)):
        with pytest.raises(ValueError, match="rule bad: within_seconds "
                                             "must be positive"):
            twin(df, rules)
    for twin, rules in ((streaming_match_timeout_rules, timeout),
                        (streaming_match_absence_rules, absence)):
        with pytest.raises(ValueError, match="rule bad: within_seconds "
                                             "must be positive"):
            twin(stream, rules)


@pytest.mark.parametrize("within", [0.0, -60.0])
def test_fixed_twins_reject_non_positive_horizons(spark, within):
    """The fixed twins validate their horizon like the rules twins: a
    zero horizon would alert although the ``then`` event follows, a
    negative one with a deadline before the anchor. ``None`` still
    means unbounded for the batch absence twin; the streaming patterns
    that need a horizon reject it."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence,
        match_timeout,
    )
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_absence,
        streaming_match_seq,
        streaming_match_timeout,
    )
    from bigdata_event_stream_detection_spark.streaming.funnel import (
        streaming_funnel_completions,
    )

    df = _df(spark, [(1, 10, T0, "A"), (1, 11, T0 + timedelta(minutes=1),
                                         "B")])
    stream = (spark.readStream.format("rate").load()
              .selectExpr("value AS user_id", "value AS event_id",
                          "timestamp AS ts", "'A' AS event_type"))
    for build in (lambda: match_timeout(df, "A", "B", within),
                  lambda: match_absence(df, "A", "B", "C", within),
                  lambda: streaming_match_timeout(stream, "A", "B", within),
                  lambda: streaming_match_absence(stream, "A", "B", "C",
                                                  within)):
        with pytest.raises(ValueError,
                           match="within_seconds must be positive"):
            build()
    assert match_absence(df, "A", "B", "C", None).count() == 1
    for build in (lambda: streaming_match_seq(stream, [("a", "A", "1")],
                                              None),
                  lambda: streaming_funnel_completions(stream, ["A", "B"],
                                                       None)):
        with pytest.raises(ValueError, match="needs a finite horizon"):
            build()


def test_parse_steps_spec_labels(spark):
    from bigdata_event_stream_detection_spark.operators.cep import (
        _parse_steps_spec,
    )

    assert _parse_steps_spec("view:1, click:+ ,purchase:1") == [
        ("view", "view", "1"), ("click", "click", "+"),
        ("purchase", "purchase", "1")]
    # repeated types get positional #i suffixes (1-based)
    assert _parse_steps_spec("A:1,B:1,A:+") == [
        ("A#1", "A", "1"), ("B", "B", "1"), ("A#3", "A", "+")]
    # whitespace adjacent to the colon normalizes exactly like the SQL
    # membership extraction (F.trim), so ' click :+' can't silently
    # produce a type that never matches the joined events
    assert _parse_steps_spec(" click :+, view : 1") == [
        ("click", "click", "+"), ("view", "view", "1")]


def test_match_seq_predicate_classify(spark):
    """DEFINE-clause steps: rows classify to the FIRST predicate they
    satisfy; value conditions gate which events participate."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = timedelta(minutes=1)
    pdf = pd.DataFrame(
        [(1, 10, T0, "view", 50.0),          # hi_view anchor
         (1, 11, T0 + 2 * m, "click", 1.0),
         (1, 12, T0 + 3 * m, "click", 2.0),
         (1, 13, T0 + 5 * m, "purchase", 9.0),
         (2, 20, T0, "view", 3.0),           # value too low: never anchors
         (2, 21, T0 + 2 * m, "click", 1.0),
         (2, 22, T0 + 4 * m, "purchase", 9.0)],
        columns=["user_id", "event_id", "ts", "event_type", "value"])
    steps = [("hi_view", "event_type = 'view' AND value >= 10.0", "1"),
             ("clicks", "event_type = 'click'", "+"),
             ("buy", "event_type = 'purchase'", "1")]
    got = _seq_rows(match_seq(spark.createDataFrame(pdf), steps,
                              within_seconds=1800,
                              classify="predicate"))
    assert got == {(1, 10, T0, T0 + 5 * m, 4,
                    "hi_view=1,clicks=2,buy=1")}
    # overlapping DEFINEs: first match wins — a 'view' with value >= 10
    # is hi_view even though it also satisfies the catch-all
    steps2 = [("hi_view", "event_type = 'view' AND value >= 10.0", "1"),
              ("any_view", "event_type = 'view'", "1")]
    got2 = _seq_rows(match_seq(spark.createDataFrame(pdf), steps2,
                               within_seconds=1800,
                               classify="predicate"))
    # u1: view@50 -> hi_view; no later plain view -> no match for u1;
    # u2 has only a low view (any_view), no hi_view anchor
    assert got2 == set()
    with __import__("pytest").raises(ValueError, match="classify"):
        match_seq(spark.createDataFrame(pdf), steps,
                  within_seconds=60, classify="regex")


def test_match_seq_optional_quantifier(spark):
    """'?' steps: skippable, greedy when their type arrives first,
    earliest-transition when a later step's type arrives first."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = timedelta(minutes=1)
    steps = [("a", "A", "1"), ("b", "B", "?"), ("c", "C", "1")]
    rows = [
        # u1: A B C -> optional B filled
        (1, 10, T0, "A"), (1, 11, T0 + 1 * m, "B"),
        (1, 12, T0 + 2 * m, "C"),
        # u2: A C -> optional B skipped
        (2, 20, T0, "A"), (2, 21, T0 + 1 * m, "C"),
        # u3: A C B -> earliest transition takes C; the later B is
        # outside the match (documented determinism)
        (3, 30, T0, "A"), (3, 31, T0 + 1 * m, "C"),
        (3, 32, T0 + 2 * m, "B"),
        # u4: A B only -> mandatory C missing, no match
        (4, 40, T0, "A"), (4, 41, T0 + 1 * m, "B"),
    ]
    got = _seq_rows(match_seq(_df(spark, rows), steps,
                              within_seconds=1800))
    assert got == {
        (1, 10, T0, T0 + 2 * m, 3, "a=1,b=1,c=1"),
        (2, 20, T0, T0 + 1 * m, 2, "a=1,b=0,c=1"),
        (3, 30, T0, T0 + 1 * m, 2, "a=1,b=0,c=1"),
    }
    # all-optional TAIL: A B? -> the horizon closes an unfilled tail
    tail = [("a", "A", "1"), ("b", "B", "?")]
    got2 = _seq_rows(match_seq(
        _df(spark, [(5, 50, T0, "A"), (6, 60, T0, "A"),
                    (6, 61, T0 + 1 * m, "B")]),
        tail, within_seconds=600))
    assert got2 == {(5, 50, T0, T0, 1, "a=1,b=0"),
                    (6, 60, T0, T0 + 1 * m, 2, "a=1,b=1")}


def test_match_seq_optional_validation(spark):
    import pytest

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    df = _df(spark, [(1, 10, T0, "A")])
    with pytest.raises(ValueError, match="anchor step cannot be"):
        match_seq(df, [("a", "A", "?"), ("b", "B", "1")],
                  within_seconds=60)
    # '+' shadow check looks THROUGH optional steps
    with pytest.raises(ValueError, match="never transition"):
        match_seq(df, [("a", "A", "+"), ("x", "X", "?"),
                       ("a2", "A", "1")], within_seconds=60)


def test_match_seq_optional_matches_local_oracle_random(spark):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import local_oracle as lo

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    steps = [("a", "A", "1"), ("b", "B", "?"), ("c", "C", "+"),
             ("d", "D", "?")]
    rng = random.Random(47)
    rows = []
    eid = 0
    for u in range(1, 25):
        for _ in range(rng.randint(3, 30)):
            rows.append((u, eid,
                         T0 + timedelta(seconds=rng.randint(0, 3600)),
                         rng.choice(["A", "B", "C", "D", "noise"])))
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["user_id", "event_id", "ts", "event_type"])
    got = {(r["user_id"], r["first_event_id"],
            int(r["start_ts"].timestamp() * 1e6),
            int(r["end_ts"].timestamp() * 1e6),
            r["n_events"], r["step_counts"])
           for r in match_seq(spark.createDataFrame(pdf), steps,
                              within_seconds=900).collect()}
    exp = set(lo.seq_match_rows_pdf(pdf, steps, 900))
    assert got == exp
    assert len(got) > 0


def test_match_seq_after_match_skip_to_next_row(spark):
    """AFTER MATCH SKIP TO NEXT ROW: overlapping matches — every later
    anchor is tried even inside an earlier match's extent."""
    import pytest

    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = timedelta(minutes=1)
    rows = [(1, 10, T0, "A"), (1, 11, T0 + 1 * m, "A"),
            (1, 12, T0 + 2 * m, "B")]
    steps = [("a", "A", "1"), ("b", "B", "1")]
    past = _seq_rows(match_seq(_df(spark, rows), steps,
                               within_seconds=600))
    assert past == {(1, 10, T0, T0 + 2 * m, 2, "a=1,b=1")}
    overlap = _seq_rows(match_seq(_df(spark, rows), steps,
                                  within_seconds=600,
                                  after_match="next_row"))
    assert overlap == {
        (1, 10, T0, T0 + 2 * m, 2, "a=1,b=1"),
        (1, 11, T0 + 1 * m, T0 + 2 * m, 2, "a=1,b=1"),
    }
    with pytest.raises(ValueError, match="after_match"):
        match_seq(_df(spark, rows), steps, within_seconds=60,
                  after_match="skip_to_last")
