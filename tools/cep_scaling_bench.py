#!/usr/bin/env python
"""Scaling evidence for the absence-pattern CEP (batch + streaming).

Same method as tools/funnel_scaling_bench.py / scaling_bench.py:
identical job + deterministic synthetic input at local[N] vs local[4N],
fresh JVM per run, taskset-pinned, fixed shuffle/state partitions, min
wall over interleaved repeats (a batch run times its query's second
execution in the JVM; the first, JIT-cold one is reported beside it),

    efficiency = (throughput_4N / throughput_N) / 4

Like the funnel, the pattern is keyed by user_id (hundreds of
thousands of tiny state groups) so parallelism is unbounded by design;
the digest column (match count + sum of matched anchor ids) must be
identical at every core count and repeat or the run is void.

Usage: python tools/cep_scaling_bench.py [--n 4] [--events 2000000]
           [--users 200000] [--repeats 2] [--local-dir /dev/shm/...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HORIZON_S = 6 * 3600          # 6h of the 24h event span

GEN = r"""
import glob, os, sys, time
events, users, files, in_dir = (int(sys.argv[1]), int(sys.argv[2]),
                                int(sys.argv[3]), sys.argv[4])
from bigdata_event_stream_detection_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark("gen-cep", cores=32)
span_us = 24 * 3600 * 1000000
# deterministic: type and timestamp are pure hashes of the row id;
# the row id doubles as the event_id tiebreaker
df = (spark.range(events)
      .select(F.col("id").alias("event_id"),
              (F.col("id") % users).alias("user_id"),
              F.element_at(
                  F.array(*[F.lit(s) for s in
                            ["view", "purchase", "error", "noise"]]),
                  ((F.xxhash64("id", F.lit(1)) % 4 + 4) % 4 + 1)
                  .cast("int")
              ).alias("event_type"),
              F.timestamp_micros(
                  (F.xxhash64("id", F.lit(2)) % span_us + span_us)
                  % span_us).alias("ts")))
(df.repartitionByRange(files, "ts").sortWithinPartitions("ts")
   .write.mode("overwrite").parquet(in_dir))
# far-future sentinel (its own file, newest mtime) settles every anchor
(spark.range(1)
 .select(F.lit(-1).cast("long").alias("event_id"),
         F.lit(-1).cast("long").alias("user_id"),
         F.lit("view").alias("event_type"),
         F.timestamp_micros(F.lit(10 * span_us)).alias("ts"))
 .coalesce(1).write.mode("overwrite").parquet(in_dir + "_sentinel"))
src = glob.glob(in_dir + "_sentinel/part-*.parquet")[0]
os.replace(src, in_dir + "/zzz_sentinel.parquet")
t = time.time()
for i, f in enumerate(sorted(glob.glob(in_dir + "/part-*.parquet"))):
    os.utime(f, (t + i, t + i))
os.utime(in_dir + "/zzz_sentinel.parquet", (t + 9999, t + 9999))
print("GENERATED", df.count())
"""

WORKER = r"""
import json, sys, time
mode, cores, in_dir, out_root, partitions, horizon, tag, family = (
    sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4],
    int(sys.argv[5]), int(sys.argv[6]), sys.argv[7], sys.argv[8])
from bigdata_event_stream_detection_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark("cep-%s-%d" % (mode, cores), cores=cores,
                  shuffle_partitions=partitions,
                  extra_conf={
                      "spark.sql.adaptive.coalescePartitions.enabled":
                      "false"})
PAT = ("view", "purchase", "error")
SEQ_STEPS = [("v", "view", "1"), ("e", "error", "+"),
             ("p", "purchase", "1")]
n_events = spark.read.parquet(in_dir).count()
if mode == "batch":
    ev = spark.read.parquet(in_dir)

    def batch_query():
        if family == "runs":
            from bigdata_event_stream_detection_spark.operators.cep import (
                match_runs)
            m = match_runs(ev, "error", min_run=2, max_gap_seconds=horizon)
            dig = F.sum(F.col("run_len")
                        + F.unix_micros("start_ts") % 1000000007)
        elif family == "rules":
            from bigdata_event_stream_detection_spark.operators.cep import (
                match_timeout_rules)
            rules = spark.createDataFrame(
                [("r1", "view", "purchase", float(horizon)),
                 ("r2", "error", "view", float(horizon)),
                 ("r3", "purchase", "purchase", float(horizon))],
                "rule_id string, first_type string, then_type string,"
                " within_seconds double")
            # the far-future sentinel (user -1, type view) is r1-anchor
            # shaped: batch would alert it but a stream never can (the
            # watermark stops AT it), so it is excluded from the digest
            # on both sides
            m = match_timeout_rules(ev, rules).filter(
                F.col("user_id") >= 0)
            dig = F.sum("first_event_id")
        elif family == "seq":
            from bigdata_event_stream_detection_spark.operators.cep import (
                match_seq)
            m = match_seq(ev, SEQ_STEPS, within_seconds=horizon)
            dig = F.sum(F.col("first_event_id") + F.col("n_events")
                        + F.unix_micros("end_ts") % 1000000007)
        else:
            from bigdata_event_stream_detection_spark.operators.cep import (
                match_absence)
            m = match_absence(ev, *PAT, within_seconds=horizon)
            dig = F.sum("first_event_id")
        res = m.agg(F.count("*").alias("n"), dig.alias("dig")).collect()[0]
        return res["n"], res["dig"]

    # a fresh JVM's first query is mostly JIT warm-up, so the query
    # runs twice, each timed from operator build to result: the first
    # is reported as cold_wall_sec, the second as wall_sec
    t0 = time.perf_counter()
    cold = batch_query()
    cold_wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_match, digest = batch_query()
    wall = time.perf_counter() - t0
    assert cold == (n_match, digest), (cold, n_match, digest)
else:
    from bigdata_event_stream_detection_spark.streaming.cep import (
        streaming_match_absence)  # noqa: F401 (absence family)
    stream = (spark.readStream
              .schema("event_id long, user_id long, event_type string,"
                      " ts timestamp")
              .parquet(in_dir))
    # tag makes sink+checkpoint unique PER RUN: a reused checkpoint
    # would replay nothing and report a bogus near-zero wall
    out = out_root + "/out_%s_%d_%s" % (mode, cores, tag)
    ckpt = out_root + "/ckpt_%s_%d_%s" % (mode, cores, tag)
    if family == "runs":
        from bigdata_event_stream_detection_spark.streaming.cep import (
            streaming_match_runs)
        m = streaming_match_runs(stream, "error", min_run=2,
                                 max_gap_seconds=horizon,
                                 watermark_delay="30 minutes")
    elif family == "rules":
        from bigdata_event_stream_detection_spark.streaming.cep import (
            streaming_match_timeout_rules)
        rules = spark.createDataFrame(
            [("r1", "view", "purchase", float(horizon)),
             ("r2", "error", "view", float(horizon)),
             ("r3", "purchase", "purchase", float(horizon))],
            "rule_id string, first_type string, then_type string,"
            " within_seconds double")
        m = streaming_match_timeout_rules(
            stream, rules, watermark_delay="30 minutes")
    elif family == "seq":
        from bigdata_event_stream_detection_spark.streaming.cep import (
            streaming_match_seq)
        m = streaming_match_seq(stream, SEQ_STEPS,
                                within_seconds=horizon,
                                watermark_delay="30 minutes")
    else:
        m = streaming_match_absence(
            stream, *PAT, within_seconds=horizon,
            watermark_delay="30 minutes")
    t0 = time.perf_counter()
    q = (m.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(1800)
    wall = time.perf_counter() - t0
    if family == "runs":
        sdig = F.sum(F.col("run_len")
                     + F.unix_micros("start_ts") % 1000000007)
    elif family == "seq":
        sdig = F.sum(F.col("first_event_id") + F.col("n_events")
                     + F.unix_micros("end_ts") % 1000000007)
    else:
        sdig = F.sum("first_event_id")
    # rules/absence both digest on first_event_id; rules drops the
    # sentinel user to mirror the batch-side exclusion
    outdf = spark.read.parquet(out)
    if family == "rules":
        outdf = outdf.filter(F.col("user_id") >= 0)
    res = (outdf
           .agg(F.count("*").alias("n"), sdig.alias("dig"))
           .collect()[0])
    n_match, digest = res["n"], res["dig"]
print("RESULT " + json.dumps({
    "mode": mode, "cores": cores, "wall_sec": round(wall, 2),
    "cold_wall_sec": round(cold_wall, 2) if mode == "batch" else None,
    "n_events": n_events, "n_matches": int(n_match),
    "digest": int(digest),
    "events_per_sec": round(n_events / wall, 2)}))
"""


def run_worker(mode, cores, in_dir, out_root, partitions, tag,
               family="absence"):
    env = dict(os.environ, PYTHONPATH=REPO,
               OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1", NUMEXPR_NUM_THREADS="1")
    env["SPARK_LOCAL_DIRS"] = out_root
    cmd = [sys.executable, "-c", WORKER, mode, str(cores), in_dir,
           out_root, str(partitions), str(HORIZON_S), tag, family]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    p = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd=REPO, timeout=3600)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"worker {mode}@{cores} no RESULT:\n"
                       f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--users", type=int, default=200_000)
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--modes", default="stream,batch")
    ap.add_argument("--family", default="absence",
                    choices=["absence", "runs", "rules", "seq"])
    ap.add_argument("--local-dir", default=None)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH.md"))
    args = ap.parse_args()

    partitions = 6 * 4 * args.n
    work = tempfile.mkdtemp(prefix="cep_bench_", dir=args.local_dir)
    in_dir = os.path.join(tempfile.gettempdir(),
                          f"cep_input_{args.events}_{args.users}",
                          "events")
    env = dict(os.environ, PYTHONPATH=REPO)
    if not os.path.exists(os.path.join(in_dir, "zzz_sentinel.parquet")):
        subprocess.run([sys.executable, "-c", GEN, str(args.events),
                        str(args.users), str(args.files), in_dir],
                       check=True, env=env, cwd=REPO,
                       capture_output=True, timeout=3600)

    raw: dict[tuple, list] = {}
    for rep in range(args.repeats):
        for mode in args.modes.split(","):
            for cores in (args.n, 4 * args.n):
                r = run_worker(mode, cores, in_dir, work, partitions,
                               f"r{rep}", args.family)
                raw.setdefault((mode, cores), []).append(r)
                print(json.dumps(r), flush=True)

    fam_desc = {"runs": "2+ consecutive errors per user (Kleene-plus"
                " runs)",
                "rules": "3-rule dynamic timeout table, (user, rule)-"
                "keyed state",
                "seq": "MATCH_RECOGNIZE view error+ purchase"
                " (quantified sequence, shared scan kernel)",
                "absence": "view->purchase-without-error"}[args.family]
    lines = ["", f"## {args.family.capitalize()}-pattern CEP scaling "
             f"(N={args.n} vs 4N={4 * args.n} cores, min of "
             f"{args.repeats} interleaved sweeps)", "",
             f"Input: {args.events} synthetic events / {args.users} "
             f"users (hash-deterministic), {fam_desc},"
             f" 6h horizon/gap, {partitions} fixed shuffle/state "
             f"partitions.", "",
             "| job | cores | best wall (s) | events/s | matches | "
             "digest | all walls (s) | cold walls (s) |",
             "|---|---|---|---|---|---|---|---|"]
    summaries = []
    for mode in args.modes.split(","):
        eff_tp = {}
        for cores in (args.n, 4 * args.n):
            rs = raw[(mode, cores)]
            best = min(rs, key=lambda r: r["wall_sec"])
            eff_tp[cores] = best["events_per_sec"]
            walls = ", ".join(str(r["wall_sec"]) for r in rs)
            cold = ", ".join(str(r["cold_wall_sec"]) for r in rs
                             if r.get("cold_wall_sec") is not None) or "-"
            digs = {(r["n_matches"], r["digest"]) for r in rs}
            lines.append(
                f"| {mode} | {cores} | {best['wall_sec']} | "
                f"{best['events_per_sec']} | "
                f"{sorted(d[0] for d in digs)} | "
                f"{sorted(d[1] for d in digs)} | {walls} | {cold} |")
        eff = eff_tp[4 * args.n] / eff_tp[args.n] / 4
        summaries.append(
            f"- **{mode}**: {eff_tp[args.n]:.0f} ev/s @ local[{args.n}] "
            f"-> {eff_tp[4 * args.n]:.0f} ev/s @ local[{4 * args.n}]; "
            f"scaling efficiency **{eff:.2f}**")
    lines.append("")
    lines.extend(summaries)
    report = "\n".join(lines) + "\n"
    print(report)
    with open(args.out, "a") as f:
        f.write(report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
