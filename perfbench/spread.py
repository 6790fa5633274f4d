#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload backfill --seeds 1-10

Runs ``run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints, per metric, the median and the quartile
spread (Q3 - Q1) / median next to the metric's bound. A spread under a
third of the bound is steady enough to gate on.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload,
                                  "--seed", str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else (
            "WIDE" if spread < m["bound"] else "OVER BOUND")
        print(f"{m['name']:>16}: median {med:.4f} {m['unit']}  "
              f"spread {spread:.3f}  bound {m['bound']}  {flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
