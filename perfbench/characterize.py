#!/usr/bin/env python3
"""Characterization runs (not gated).

    python3 perfbench/characterize.py [--seed 1]

* ``scaling.eff_1to4``: backfill job_s at local[1] over 4 x job_s at
  local[4] (the only N -> 4N pair a 4-core host can run).
* ``streaming.max_sustained_docs_per_s``: live_stream's offered rate is
  swept by shortening the feed; a rate is sustained when its latency p90
  stays within 1.5x of the slowest rate's p90 (a growing backlog shows
  as growing latency, and latency counts from each slice's due time, so
  a feeder that falls behind counts too).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import SIZES  # noqa: E402


def _run(workload, seed, seconds, trace=0, cores=4) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores)]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                       text=True)
    if p.returncode != 0:
        raise RuntimeError(p.stderr[-3000:])
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--feeds", default="16,8,4,2,1",
                    help="live_stream feed lengths (s) to sweep")
    args = ap.parse_args()

    t1 = _run("backfill", args.seed, 8, cores=1)["job_s"]
    t4 = _run("backfill", args.seed, 8, cores=4)["job_s"]
    print(f"backfill job_s local[1] {t1:.3f} s, local[4] {t4:.3f} s, "
          f"scaling.eff_1to4 = {t1 / (4 * t4):.3f}", flush=True)

    docs = SIZES["live_stream"]["docs"]
    base_p90 = None
    best = 0.0
    for feed in sorted((float(x) for x in args.feeds.split(",")),
                       reverse=True):
        e2e = _run("live_stream", args.seed, feed)
        layer = _run("live_stream", args.seed, feed, trace=1)
        rate = docs / feed
        p90 = e2e["latency_p90_s"]
        base_p90 = base_p90 or p90
        kept = p90 <= 1.5 * base_p90
        if kept:
            best = max(best, rate)
        print(f"offered {rate:7.1f} docs/s: latency p50 "
              f"{e2e['latency_p50_s']:.2f} s p90 {p90:.2f} s, feed lag max "
              f"{layer['sources.feed_lag_s_max']:.2f} s, backlog max "
              f"{layer['streaming.backlog_slices_max']:.0f} slices -> "
              f"{'sustained' if kept else 'not sustained'}", flush=True)
    print(f"streaming.max_sustained_docs_per_s = {best:.1f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
