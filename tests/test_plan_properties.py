"""Static physical-plan guarantees for the headline queries.

BENCH.md's plan audits are run by hand (tools/explain_audit.py); this
test pins the two properties that must NEVER regress, on every headline
query, at plan-build time (no execution beyond what query construction
itself does):

* no ``CartesianProduct`` — an all-pairs join sneaking into a headline
  plan is the canonical 100x-at-scale regression;
* every parquet scan of a fact table prunes columns (``ReadSchema``
  never re-lists the full 16-column lineitem / 9-column orders width
  for a projection query).

The audit runs against sf0.001 so plan construction (which for the
model pipelines includes the one-time background-model collect) stays
in milliseconds.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

SF_DIR = "/root/testdata/sf0.001"

HEADLINE = [
    "word_count", "background_model", "windowed_event_counts",
    "sliding_window_counts", "session_windows", "topk_event_types_per_user",
    "semi_join_filter", "revenue_per_nation", "token_counts",
    "quality_scores", "dedup_exact", "dedup_minhash_lsh",
    "ann_cosine_topk", "evolution_edges", "detect_events",
    # round-2 late additions: CEP + relational-depth queries
    "absence_patterns", "timeout_alerts", "funnel_times_within",
    "anti_join_inactive", "grouping_sets_counts", "percent_rank_prices",
    "above_avg_orders", "trailing_value_sums", "value_change_lag",
    "json_props_stats",
    # final round-2 additions: interval/run/rules CEP + quality gate
    "interval_error_purchase", "error_runs", "timeout_rule_alerts",
    "expectation_summary",
    # round-2 continuation: CDC family + MATCH_RECOGNIZE sequences
    "latest_user_state", "scd2_user_history", "seq_matches",
    "seq_rule_matches", "seq_define_matches", "seq_overlap_matches",
    # round 3: icelite table-format queries (build tables then read)
    "icelite_merge_snapshot", "icelite_time_travel",
    "icelite_pruned_scan",
    # round 5: block-GEMM kernel stages (pin_partitions invariant)
    "embedding_near_dups", "semantic_dedup", "ann_binary_hamming",
]


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark):
    import __spark_entry__ as entry_mod

    qmap = entry_mod.queries()
    return {name: _formatted_plan(qmap[name](spark, SF_DIR))
            for name in HEADLINE}


def test_no_cartesian_product(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == []


def test_fact_scans_prune_columns(plans):
    # every ReadSchema on a known-wide table must select a strict
    # subset of its columns (lineitem has 16, orders 9, events 7)
    widths = {"lineitem": 16, "orders": 9, "events": 7}
    for name, plan in plans.items():
        # formatted explain lists one detail block per scan node:
        # "(N) Scan parquet ... Location: ...<table>.parquet ...
        #  ReadSchema: struct<...>"
        for block in re.split(r"\(\d+\) Scan parquet", plan)[1:]:
            loc = re.search(r"Location:.*/(\w+)\.parquet", block)
            schema = re.search(r"ReadSchema: struct<([^>]*)>", block)
            if not loc or not schema:
                continue
            table = loc.group(1)
            if table in widths and schema.group(1):
                ncols = schema.group(1).count(":")
                assert ncols < widths[table], (
                    f"{name}: scan of {table} reads all {ncols} columns")


def _tree_nodes(plan: str):
    """(depth, op, id) for each node line of the formatted-plan tree.

    Tree lines look like ``   +- FlatMapGroupsInPandas (21)`` /
    ``   :     +- Exchange (18)``; depth is the column where the
    operator name starts (strictly increases child-ward)."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([\s:+*-]*)([A-Za-z][A-Za-z ]*) \((\d+)\)\s*$",
                     line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(),
                          int(m.group(3))))
    return nodes


def test_kernel_exchanges_are_pinned(plans):
    """The CLAUDE.md round-4 invariant, enforced engine-wide: every
    Exchange feeding an ``applyInPandas``/cogroup kernel stage must
    carry an EXPLICIT partition count (``REPARTITION_BY_NUM``) —
    AQE's byte-based coalescing otherwise serializes CPU-bound kernel
    stages onto one task.  ``ENSURE_REQUIREMENTS`` under a kernel node
    means someone forgot ``util.pin_partitions``."""
    kernel_ops = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
    offenders = []
    for name, plan in plans.items():
        nodes = _tree_nodes(plan)
        for i, (depth, op, _nid) in enumerate(nodes):
            if not any(op.startswith(k) for k in kernel_ops):
                continue
            # first Exchange in this node's subtree = the kernel's
            # input shuffle (ReusedExchange reuses a checked one)
            for d2, op2, nid2 in nodes[i + 1:]:
                if d2 <= depth:
                    break
                if op2 == "ReusedExchange":
                    break
                if op2 == "Exchange":
                    detail = re.search(
                        r"\(%d\) Exchange\n(?:.+\n)*?Arguments: (.*)"
                        % nid2, plan)
                    if detail and "REPARTITION_BY_NUM" not in detail.group(1):
                        offenders.append(
                            f"{name}: {op} fed by unpinned Exchange "
                            f"({nid2}): {detail.group(1)}")
                    break
    assert offenders == []


def test_broadcast_join_on_small_dims(plans):
    # revenue_per_nation joins 25-row nation / 1.5k-row customer:
    # the big side must never shuffle for it
    plan = plans["revenue_per_nation"]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("em_runs", [1, 3])
def test_detect_events_is_one_grouped_kernel(spark, em_runs):
    """One shuffle for every configuration: the flagship plan holds
    exactly one grouped pandas kernel and no cogroup, with one EM run
    and with best-of-3 (run selection happens inside the kernel)."""
    from dataclasses import replace

    import __spark_entry__ as entry_mod
    from bigdata_event_stream_detection_spark.plans.pipeline import (
        detect_event_stream,
    )

    params = replace(entry_mod._small_params(), em_runs=em_runs)
    plan = _formatted_plan(detect_event_stream(
        entry_mod._documents_as_sequences(spark, SF_DIR), params))
    ops = [op for _d, op, _n in _tree_nodes(plan)]
    assert ops.count("FlatMapGroupsInPandas") == 1
    assert "FlatMapCoGroupsInPandas" not in ops


def _state_operators(spark, events, seqs):
    import pandas as pd

    from bigdata_event_stream_detection_spark.plans.pipeline import (
        small_params,
    )
    from bigdata_event_stream_detection_spark.streaming import (
        burst, cep, changepoint, engine, evolution, funnel, sketches,
    )

    timeout_rules = spark.createDataFrame(
        [("r1", "A", "B", 60.0), ("r2", "B", "B", 60.0)],
        "rule_id string, first_type string, then_type string,"
        " within_seconds double")
    absence_rules = spark.createDataFrame(
        [("r1", "A", "B", "C", 60.0), ("r2", "A", "A", "C", 60.0)],
        "rule_id string, first_type string, then_type string,"
        " without_type string, within_seconds double")
    seq_rules = spark.createDataFrame(
        [("r1", "A:1,B:+", 60.0)],
        "rule_id string, steps string, within_seconds double")
    model = pd.DataFrame({"word_id": [1, 2], "p": [0.5, 0.5]})
    params = small_params()
    return {
        "timeout": lambda: cep.streaming_match_timeout(
            events, "A", "B", 60.0, unless="C"),
        "timeout_rules": lambda: cep.streaming_match_timeout_rules(
            events, timeout_rules),
        "absence": lambda: cep.streaming_match_absence(
            events, "A", "B", "C", 60.0),
        "absence_rules": lambda: cep.streaming_match_absence_rules(
            events, absence_rules),
        "runs": lambda: cep.streaming_match_runs(events, "A"),
        "seq": lambda: cep.streaming_match_seq(
            events, [("a", "A", "1"), ("b", "B", "+")], 60.0),
        "seq_rules": lambda: cep.streaming_match_seq_rules(
            events, seq_rules),
        "funnel": lambda: funnel.streaming_funnel_completions(
            events, ["A", "B", "A"], 60.0),
        "detect_events": lambda: engine.streaming_detect_events(
            seqs, model, params),
        "detect_events_sessions":
            lambda: engine.streaming_detect_events_sessions(
                seqs, model, params),
        "window_themes": lambda: evolution.streaming_window_themes(
            seqs, model, params),
        "burst": lambda: burst.streaming_burst_windows(events),
        "cusum": lambda: changepoint.streaming_cusum_changepoints(events),
        "heavy_hitters": lambda: sketches.streaming_windowed_heavy_hitters(
            events, "event_type"),
    }


@pytest.mark.parametrize("twin", [
    "timeout", "timeout_rules", "absence", "absence_rules", "runs", "seq",
    "seq_rules", "funnel", "detect_events", "detect_events_sessions",
    "window_themes", "burst", "cusum", "heavy_hitters"])
def test_streaming_cep_twin_scans_once(spark, tmp_path, twin):
    """Every streaming state operator — the CEP twins, the funnel, the
    window and session detectors, the window-theme emitter, burst and
    CUSUM — reads its stream ONCE (role fan-out is a single broadcast join,
    never a union of per-role scans) and runs ONE grouped-state
    operator.
    The windowed heavy hitters run on the same grouped-state driver."""
    import pandas as pd

    from bigdata_event_stream_detection_spark.streaming.engine import (
        read_sequence_stream,
    )

    (tmp_path / "ev").mkdir()
    (tmp_path / "seq").mkdir()
    pd.DataFrame({"user_id": [1], "event_id": [1],
                  "ts": [pd.Timestamp("2024-06-01")],
                  "event_type": ["A"]}).to_parquet(
                      tmp_path / "ev" / "ev.parquet")
    events = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp,"
                      " event_type string")
              .parquet(str(tmp_path / "ev")))
    seqs = read_sequence_stream(spark, str(tmp_path / "seq"))
    plan = _formatted_plan(_state_operators(spark, events, seqs)[twin]())
    ops = [op for _d, op, _n in _tree_nodes(plan)]
    assert ops.count("StreamingRelation") == 1, plan
    assert ops.count("FlatMapGroupsInPandasWithState") == 1, plan
