#!/usr/bin/env python
"""Headline benchmark for the PySpark event-stream-detection engine.

Runs the flagship event-detection pipeline plus representative relational
/ training-data operators at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The primary north-rule metric (events detected / sec) is included as
``events_per_sec``. Use ``--cores N`` to override parallelism. The
N→4N scaling-efficiency evidence comes from tools/scaling_bench.py,
which runs each workload family's own job at local[N] and local[4N].
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time


# Relational core first (warms the JVM/JIT for everyone), then the
# training-data operators, then the model pipelines (the heavy tail).
HEADLINE = [
    # relational core
    "word_count",
    "background_model",
    "windowed_event_counts",
    "sliding_window_counts",
    "session_windows",
    "topk_event_types_per_user",
    "semi_join_filter",
    "revenue_per_nation",
    # training-data operators
    "token_counts",
    "quality_scores",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # evolution graph (EM + range-bounded KL self-join)
    "evolution_edges",
    # flagship model pipeline (EM themes -> HMM decode -> event rows)
    "detect_events",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=None,
                    help="override local[N]; default $SPARK_GRAFT_CPUS or all")
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of headline queries")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from bigdata_event_stream_detection_spark.session import get_spark

    spark = get_spark("besd-bench", cores=args.cores)
    ncores = spark.sparkContext.defaultParallelism

    m = re.search(r"sf([0-9.]+)", args.sf_dir)
    sf = float(m.group(1)) if m else None

    names = (args.queries.split(",") if args.queries else HEADLINE)
    qmap = entrymod.queries()
    # min of N back-to-back runs per query: the shared host shows 2-4x
    # wall swings under load (BENCH.md), and the min is the standard
    # contention-robust estimator the scaling sweeps already use
    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "2")))
    timings: dict[str, float] = {}
    rowcounts: dict[str, int] = {}
    for name in names:
        fn = qmap[name]
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            rowcounts[name] = fn(spark, args.sf_dir).count()
            walls.append(time.perf_counter() - t0)
        timings[name] = round(min(walls), 3)

    total = round(sum(timings.values()), 3)

    # north-rule headline: detected-event rows emitted per second of the
    # flagship pipeline's wall time
    events_per_sec = None
    if "detect_events" in timings and timings["detect_events"] > 0:
        events_per_sec = round(
            rowcounts["detect_events"] / timings["detect_events"], 3)

    print(json.dumps({
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": ncores,
        "rows": rowcounts,
        "events_detected": rowcounts.get("detect_events"),
        "events_per_sec": events_per_sec,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
