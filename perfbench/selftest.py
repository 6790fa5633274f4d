#!/usr/bin/env python3
"""Self-test: the benchmark's output checks catch a corrupted output.

    python3 perfbench/selftest.py [--workloads backfill,live_stream,near_dup]

Runs each workload once with ``--drop-output-row`` (one output row is
removed before verification) and requires ``correct: false`` with at
least one failed operation, i.e. an error rate above 0. Exits non-zero
if any workload misses the dropped row.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="backfill,live_stream,near_dup")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bad = 0
    for w in args.workloads.split(","):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", "1", "--trace", "0",
               "--drop-output-row"]
        p = subprocess.run(cmd, cwd=os.path.dirname(HERE),
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            bad += 1
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        caught = res["failed"] > 0 and not res["correct"]
        print(f"{w}: dropped one output row -> error_rate "
              f"{res['failed']}/{res['attempted']} "
              f"{'caught' if caught else 'MISSED'}")
        bad += not caught
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
