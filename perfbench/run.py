#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the event-detection engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8  # every workload

Workloads (workloads.py): ``backfill`` (batch detect_event_stream, the
fused EM -> HMM kernel plan), ``live_stream`` (open-loop icelite feed
into the streaming detector) and ``near_dup`` (LSH candidate pairs +
dedup clusters). Inputs are generated from ``--seed`` once into
``perfbench/.data`` and verified against their manifest on every run.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer ones (a separate run with the Spark event
log on and every layer materialized in its own span). The lines before
it print the end-to-end metrics and the error rate by name and unit.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {"setup_s": "s", "job_s": "s", "latency_p50_s": "s",
              "latency_p90_s": "s", "peak_rss_mb": "MB"}


def _parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "live_stream", "near_dup", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="batch: repeat the job this long (at least twice);"
                    " live_stream: length of the feed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[N]")
    ap.add_argument("--driver-mem", default="1g",
                    help="BESD_DRIVER_MEM for the driver JVM")
    ap.add_argument("--blas-threads", type=int, default=1)
    ap.add_argument("--trigger", default="4 seconds",
                    help="live_stream processing-time trigger")
    ap.add_argument("--drop-output-row", action="store_true",
                    help="fault injection for the self-test: drop one "
                    "output row before verification")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return _run_all(args)
    sys.path.insert(0, HERE)
    import common
    sys.path.insert(0, common.ROOT)
    os.environ.update(common.host_env(args.driver_mem, args.blas_threads))
    os.environ["TZ"] = "UTC"
    time.tzset()
    name = args.workload
    run_id = f"{name}-s{args.seed}-{os.getpid()}"
    evlog = os.path.join(common.WORK_DIR, "evlog", run_id)
    if args.trace:
        os.environ["BESD_EXTRA_CONF"] = common.event_log_conf(evlog)

    import gen
    import workloads as wl

    # input generation is not part of set-up
    gen_s = gen.generate(wl.input_kind(name), args.seed, wl.SIZES[name],
                         os.path.join(common.DATA_DIR, f"{name}-s{args.seed}"))
    spark = common.start_spark(f"perfbench-{name}", args.cores)
    sampler = common.RssSampler(common.jvm_pid())
    tracer = common.Tracer(run_id, spark.sparkContext) if args.trace else None
    run = wl.Run(name, spark, args.seed, args.seconds, tracer=tracer,
                 drop_row=args.drop_output_row, trigger=args.trigger)
    setup, job, verify, trace = wl.WORKLOADS[name]
    try:
        with sampler:             # set-up and timed work, not the checks
            run.manifest = gen.verify(run.input_dir)
            setup(run)
            run.metrics["setup_s"] = time.perf_counter() - PROCESS_T0 - gen_s
            out = job(run)
        run.metrics["peak_rss_mb"] = sampler.peak_mb
        verify(run, out)
        if args.trace:
            trace(run)
            if run.trace_window:
                t0, t1 = run.trace_window
                run.layer.update(common.spark_metrics(
                    evlog, t0, t1, run.kernel_layer))
                run.layer["trace.overhead_s"] = (t1 - t0) - run.metrics["job_s"]
            tracer.write(os.path.join(common.WORK_DIR, "traces",
                                      run_id + ".json"))
    finally:
        if run.query is not None and run.query.isActive:
            run.query.stop()
        common.stop_spark(spark)
        run.cleanup()
    _report(args, run, wl.PER_LAYER)
    return 0


def _report(args, run, per_layer) -> None:
    m = run.metrics
    err = run.failed / run.attempted if run.attempted else 1.0
    walls = [round(w, 3) for w in m.get("_walls", [])]
    print(f"# workload={run.name} seed={run.seed} cores={args.cores} "
          f"job walls={walls} rows={m.get('_rows')} "
          f"windows={m.get('_windows', '-')}")
    for k, unit in END_TO_END.items():
        print(f"{k:>16} = {m[k]:.4f} {unit}")
    print(f"{'error_rate':>16} = {err:.4f} ({run.failed}/{run.attempted})")
    for f in run.failures[:20]:
        print(f"# FAILED: {f}")
    if args.trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(m[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))


def _run_all(args) -> int:
    """Run every workload in its own process; print one summary table."""
    names = ["backfill", "live_stream", "near_dup"]
    rows = []
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cores", str(args.cores),
               "--driver-mem", args.driver_mem,
               "--blas-threads", str(args.blas_threads),
               "--trigger", args.trigger]
        p = subprocess.run(cmd, capture_output=True, text=True,
                           cwd=os.path.dirname(HERE))
        sys.stdout.write(p.stdout)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            return p.returncode
        rows.append((name, json.loads(p.stdout.strip().splitlines()[-1])))
    ok = all(r["correct"] for _, r in rows)
    att = sum(r["attempted"] for _, r in rows)
    fail = sum(r["failed"] for _, r in rows)
    print(json.dumps({"correct": ok, "attempted": att, "failed": fail,
                      "metrics": {f"{n}.{k}": v for n, r in rows
                                  for k, v in r["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
