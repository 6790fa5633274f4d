#!/usr/bin/env python
"""Watermark-to-sink latency probe (north-rule metric #2).

Drives the flagship streaming detector as a sequence of incremental
micro-batches (maxFilesPerTrigger=1 over chronologically ordered files)
with the MetricsListener attached, then reports per-batch end-to-end
latency — the wall time between a batch's trigger (when the advanced
watermark could first close windows) and its sink commit — plus
steady-state ingest throughput.

This is the continuous-operation complement to tools/scaling_bench.py's
backfill walls: a production stream runs exactly this shape (each
micro-batch carries one new time slice, the watermark trails it, and
closed windows' event rows become queryable one batch-duration later).

Usage: python tools/latency_probe.py [--docs 100000] [--files 10]
                                     [--cores 16]
Appends nothing; prints a markdown summary to stdout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_probe(probe: str, argv: list, cores: int, env: dict, prefix: str):
    """Run ``probe`` pinned to ``cores`` CPUs, with a fresh work dir for
    its sink and checkpoint as its last argument; the dir is removed
    when the probe ends, whatever the outcome. Returns the probe's
    RESULT dict, or None after printing its output tail."""
    work = tempfile.mkdtemp(prefix=prefix)
    cmd = [sys.executable, "-c", probe, *map(str, argv), work]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, env=env,
                           cwd=REPO, timeout=3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    print(p.stdout[-2000:], p.stderr[-2000:])
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--files", type=int, default=10)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--job", default="flagship",
                    choices=["flagship", "seq"],
                    help="flagship = EM/HMM detector; seq = the "
                    "MATCH_RECOGNIZE sequence CEP stream")
    ap.add_argument("--source", default="files",
                    choices=["files", "icelite", "files-live"],
                    help="files = parquet file source with "
                    "maxFilesPerTrigger (availableNow); icelite = "
                    "snapshot-incremental table source driven by a "
                    "LIVE feeder (processing-time trigger, one append "
                    "per trigger) — the continuous-operation shape; "
                    "files-live = the SAME live-feeder shape over the "
                    "native file source (one file moved into the "
                    "watched dir per slice) — the apples-to-apples "
                    "control for the icelite numbers")
    ap.add_argument("--local-dir", default=None)
    args = ap.parse_args()
    if args.job == "seq":
        return _seq_latency(args)

    in_dir = os.path.join(tempfile.gettempdir(),
                          f"scale_input_{args.docs}_{args.files}",
                          "sequences")
    env = dict(os.environ, PYTHONPATH=REPO,
               OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    if args.local_dir:
        env["SPARK_LOCAL_DIRS"] = args.local_dir
    gen = f"""
from bigdata_event_stream_detection_spark.session import get_spark
from bigdata_event_stream_detection_spark.sources.synthetic import generate_sequences
spark = get_spark("gen", cores=32)
df = generate_sequences(spark, {args.docs}, late_fraction=0.0, partitions={args.files})
(df.repartitionByRange({args.files}, "event_time")
   .sortWithinPartitions("event_time")
   .write.mode("overwrite").parquet({in_dir!r}))
"""
    if not os.path.exists(os.path.join(in_dir, "_SUCCESS")):
        subprocess.run([sys.executable, "-c", gen], check=True, env=env,
                       cwd=REPO, capture_output=True, timeout=3600)
    t = time.time()
    for i, f in enumerate(sorted(glob.glob(in_dir + "/part-*.parquet"))):
        os.utime(f, (t + i, t + i))

    probe = r"""
import glob, json, statistics, sys, time
docs, cores, in_dir, source, work = (int(sys.argv[1]), int(sys.argv[2]),
                                     sys.argv[3], sys.argv[4], sys.argv[5])
from bigdata_event_stream_detection_spark.session import get_spark
from bigdata_event_stream_detection_spark.plans.pipeline import small_params
from bigdata_event_stream_detection_spark.operators import background as bg
from bigdata_event_stream_detection_spark.streaming.engine import (
    read_sequence_stream, streaming_detect_events, start_event_sink)
from bigdata_event_stream_detection_spark.streaming.metrics import (
    MetricsListener)
from pyspark.sql import functions as F

spark = get_spark("latency-probe", cores=cores, shuffle_partitions=96,
                  extra_conf={
                      "spark.sql.adaptive.coalescePartitions.enabled":
                      "false"})
params = small_params(num_themes=3, window_length="24 hours",
                      em_iterations=25, min_doc_tokens=5,
                      min_word_corpus_count=2, bw_max_iterations=10,
                      watermark_delay="10 minutes")
seqs = spark.read.parquet(in_dir)
model = bg.background_model(
    seqs.filter(F.col("n_tok") >= params.min_doc_tokens),
    min_count=params.min_word_corpus_count).toPandas()
listener = MetricsListener()
spark.streams.addListener(listener)
if source in ("icelite", "files-live"):
    # continuous-operation shape: the stream runs on a processing-time
    # trigger while a LIVE feeder commits one slice per trigger — an
    # icelite snapshot append, or (the apples-to-apples control) one
    # parquet file linked into the watched directory
    import os, shutil
    from bigdata_event_stream_detection_spark.sources import icelite
    from bigdata_event_stream_detection_spark.sources.tables import (
        read_sequences_stream)
    chunks = sorted(glob.glob(in_dir + "/part-*.parquet"))
    if source == "icelite":
        tbl = work + "/sequences"
        icelite.create_table(tbl, seqs.schema)
        icelite.append(spark.read.parquet(chunks[0]), tbl)
        stream = read_sequences_stream(spark, tbl, fmt="icelite")
        feed = lambda c: icelite.append(spark.read.parquet(c), tbl)
    else:
        live = work + "/sequences"
        os.makedirs(live)
        os.link(chunks[0], live + "/" + os.path.basename(chunks[0]))
        stream = read_sequences_stream(spark, live, fmt="parquet")
        feed = lambda c: os.link(c, live + "/" + os.path.basename(c))
    events = streaming_detect_events(stream, model, params)
    q = start_event_sink(events, work + "/out", work + "/ckpt")
    for c in chunks[1:]:
        feed(c)
        n_before = len(listener.progress)
        t0 = time.time()
        while len(listener.progress) <= n_before and time.time() - t0 < 120:
            time.sleep(0.2)
    # idle triggers evict the final watermark-closed windows
    tail = len(listener.progress)
    t0 = time.time()
    while len(listener.progress) < tail + 2 and time.time() - t0 < 120:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(120)
else:
    stream = read_sequence_stream(spark, in_dir, max_files_per_trigger=1)
    events = streaming_detect_events(stream, model, params)
    q = start_event_sink(events, work + "/out", work + "/ckpt",
                         available_now=True)
    q.awaitTermination(1800)
n_events = spark.read.parquet(work + "/out").count()
lats = listener.watermark_to_sink_latency_sec()
tput = listener.throughput_rows_per_sec()
print("RESULT " + json.dumps({
    "batches": len(listener.progress), "n_events": n_events,
    "latency_sec": lats, "docs_per_sec": tput}))
"""
    result = _run_probe(probe, [args.docs, args.cores, in_dir, args.source],
                        args.cores, env, "latency_probe_")
    if result is None:
        return 1
    lats = [x for x in result["latency_sec"] if x > 0]
    print(f"### Watermark-to-sink latency ({args.docs} docs, "
          f"{args.files} micro-batches, local[{args.cores}], "
          f"source={args.source})")
    print()
    print(f"- batches: {result['batches']}; event rows: "
          f"{result['n_events']}; ingest {result['docs_per_sec']:.0f} "
          "docs/s steady-state")
    if lats:
        print(f"- per-batch watermark-to-sink latency: median "
              f"{statistics.median(lats):.1f} s, p95 "
              f"{sorted(lats)[max(0, int(len(lats) * 0.95) - 1)]:.1f} s, "
              f"max {max(lats):.1f} s "
              f"(all: {', '.join(f'{x:.1f}' for x in lats)})")
    return 0


def _seq_latency(args) -> int:
    """Watermark-to-sink latency for the MATCH_RECOGNIZE sequence CEP
    stream (north-rule metric #2 for the CEP family). Reuses the
    scaling harness's deterministic cep input; `--docs` is the event
    count here."""
    import statistics

    import scaling_bench as sb

    events, users = args.docs, max(args.docs // 10, 1)
    in_dir = sb.input_dir("cep", events, users, files=args.files)
    env = dict(os.environ, PYTHONPATH=REPO,
               OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    if args.local_dir:
        env["SPARK_LOCAL_DIRS"] = args.local_dir

    probe = r"""
import json, sys
cores, in_dir, horizon, work = (int(sys.argv[1]), sys.argv[2],
                                int(sys.argv[3]), sys.argv[4])
from bigdata_event_stream_detection_spark.session import get_spark
from bigdata_event_stream_detection_spark.streaming.cep import (
    streaming_match_seq)
from bigdata_event_stream_detection_spark.streaming.metrics import (
    MetricsListener)
spark = get_spark("seq-latency", cores=cores, shuffle_partitions=96,
                  extra_conf={
                      "spark.sql.adaptive.coalescePartitions.enabled":
                      "false"})
listener = MetricsListener()
spark.streams.addListener(listener)
stream = (spark.readStream
          .schema("event_id long, user_id long, event_type string,"
                  " ts timestamp")
          .option("maxFilesPerTrigger", "1").parquet(in_dir))
out = streaming_match_seq(
    stream, [("v", "view", "1"), ("e", "error", "+"),
             ("p", "purchase", "1")],
    within_seconds=horizon, watermark_delay="30 minutes")
q = (out.writeStream.format("parquet").option("path", work + "/out")
     .option("checkpointLocation", work + "/ckpt")
     .outputMode("append").trigger(availableNow=True).start())
q.awaitTermination(1800)
n = spark.read.parquet(work + "/out").count()
print("RESULT " + json.dumps({
    "batches": len(listener.progress), "n_matches": n,
    "latency_sec": listener.watermark_to_sink_latency_sec(),
    "events_per_sec": listener.throughput_rows_per_sec()}))
"""
    result = _run_probe(probe, [args.cores, in_dir, sb.HORIZON_S],
                        args.cores, env, "seq_latency_")
    if result is None:
        return 1
    lats = [x for x in result["latency_sec"] if x > 0]
    print(f"### Seq-CEP watermark-to-sink latency ({events} events, "
          f"{args.files} micro-batches, local[{args.cores}])")
    print()
    print(f"- batches: {result['batches']}; match rows: "
          f"{result['n_matches']}; ingest "
          f"{result['events_per_sec']:.0f} events/s steady-state")
    if lats:
        print(f"- per-batch watermark-to-sink latency: median "
              f"{statistics.median(lats):.1f} s, p95 "
              f"{sorted(lats)[max(0, int(len(lats) * 0.95) - 1)]:.1f} s,"
              f" max {max(lats):.1f} s "
              f"(all: {', '.join(f'{x:.1f}' for x in lats)})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
