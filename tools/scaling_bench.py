#!/usr/bin/env python
"""N vs 4N scaling harness for every workload family.

The north rule asks for throughput scaling efficiency >= 0.8 from N to
4N executors. No real cluster exists here, so the harness runs the SAME
job on the SAME input at local[N] and local[4N] and reports

    efficiency = (throughput_4N / throughput_N) / 4

Protocol, identical for every family in ``FAMILIES``:

* one fresh JVM per run, a subprocess of this script pinned with
  ``taskset`` to exactly its core budget (JVM, GC threads and Python
  workers) — a ``cores``-CPU host, not a ``cores``-thread scheduler on
  a larger machine;
* single-threaded BLAS, or the low-core run's workers fan numpy
  matmuls across every machine core and the comparison measures
  nothing (also the right per-executor setting on a cluster);
* shuffle/state partitions FIXED at 6 x 4N across core counts: a job's
  partitioning is part of the job, and the criterion scales the
  cluster under an unchanged job; 6x keeps per-partition task walls
  queue-balanceable at 4N. AQE partition coalescing is off, since it
  merges kernel shuffles back to byte-balanced, not CPU-balanced,
  partitions;
* whole sweeps interleaved (every mode and core count once per
  repeat), so host drift spreads across configs; the table reports
  each config's MIN wall;
* a batch job runs twice in its JVM: a fresh JVM's first query is
  mostly JIT warm-up, so the second run is ``wall_sec`` and the first
  ``cold_wall_sec``. A streaming job runs once, into a fresh sink and
  checkpoint (a reused checkpoint would resume a finished query and
  time a no-op);
* every run of a mode must give the same digest at every core count
  and repeat; otherwise the table is marked VOID and the harness exits
  non-zero.

Inputs are generated once per (family, sizes, generator source) and
cached under the temp dir; a dir is reused only when the generator
exited 0 and the completion marker was written. Each invocation's work
root (sinks, checkpoints, shuffle spill) is removed when it ends.
``--local-dir`` puts that root on a RAM disk such as /dev/shm: on a
cluster every executor brings its own local disk, while this host's
single shared disk would distort the N vs 4N comparison.

Nothing else may run on the machine during a sweep.

Usage: python tools/scaling_bench.py [--family detect] [--n 4]
           [--events E] [--users U] [--repeats 2] [--modes stream,batch]
           [--local-dir /dev/shm/spark-local] [--io-codec zstd]
Per-run RESULT lines go to stderr; the markdown table goes to stdout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import inspect
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import functions as F

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)

from bigdata_event_stream_detection_spark.operators import (  # noqa: E402
    background as bg)
from bigdata_event_stream_detection_spark.operators.cdc import latest_snapshot
from bigdata_event_stream_detection_spark.operators.cep import (
    match_absence, match_runs, match_seq, match_timeout_rules)
from bigdata_event_stream_detection_spark.operators.dedup import (
    duplicate_spans)
from bigdata_event_stream_detection_spark.operators.funnel import funnel_times
from bigdata_event_stream_detection_spark.operators.sharding import (
    read_manifest, shard_assignments, write_training_shards)
from bigdata_event_stream_detection_spark.operators.similarity import (
    cosine_topk)
from bigdata_event_stream_detection_spark.plans.pipeline import (
    detect_event_stream, small_params)
from bigdata_event_stream_detection_spark.session import get_spark
from bigdata_event_stream_detection_spark.sources.synthetic import (
    generate_sequences)
from bigdata_event_stream_detection_spark.streaming.cdc import (
    read_snapshot, start_apply_changes_sink)
from bigdata_event_stream_detection_spark.streaming.cep import (
    streaming_match_absence, streaming_match_runs, streaming_match_seq,
    streaming_match_timeout_rules)
from bigdata_event_stream_detection_spark.streaming.engine import (
    read_sequence_stream, start_event_sink, streaming_detect_events)
from bigdata_event_stream_detection_spark.streaming.funnel import (
    streaming_funnel_completions)
from bigdata_event_stream_detection_spark.streaming.icelite_sink import (
    read_cdc_snapshot, start_apply_changes_icelite)

TIMEOUT_S = 3600
BLAS_ENV = {k: "1" for k in (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS")}
SPAN_US = 24 * 3600 * 1_000_000   # event-time span of the event inputs
HORIZON_S = 6 * 3600              # CEP/funnel horizon, 6 h of the span
WATERMARK = "30 minutes"
FUNNEL_STEPS = ["view", "click", "purchase"]
CEP_SEQ = [("v", "view", "1"), ("e", "error", "+"), ("p", "purchase", "1")]
CEP_RULES = [("r1", "view", "purchase"), ("r2", "error", "view"),
             ("r3", "purchase", "purchase")]
CDC_BUCKETS = 64
ANN_DIM, ANN_QUERIES, ANN_K = 128, 64, 10
SHARDS = 64


# ---------------------------------------------------------------------------
# generators: gen(spark, path, events, users, files) writes the input.
# Values are hashes of the row id (detect: the seeded planted-HMM
# fixture), so an input's rows do not depend on the generating session.
# ---------------------------------------------------------------------------

def _write_sentinel(path, row):
    """Write the one-row frame ``row`` — a far-future event — as the
    input's own, last file, so the watermark passes every real event."""
    row.coalesce(1).write.mode("overwrite").parquet(path + "_sentinel")
    os.replace(glob.glob(path + "_sentinel/part-*.parquet")[0],
               path + "/zzz_sentinel.parquet")
    shutil.rmtree(path + "_sentinel")


def gen_sequences(spark, path, events, users, files):
    """Planted-HMM docs, one contiguous event-time slice per file, plus
    a far-future sentinel doc that closes every window in a stream and
    is dropped (below ``min_doc_tokens``) in both modes."""
    df = generate_sequences(spark, events, late_fraction=0.0,
                            partitions=files)
    # repartitionByRange keeps each part-file a contiguous time slice
    # (orderBy().coalesce() interleaves ranges across files, which makes
    # incremental-trigger streaming runs structurally late-drop data)
    (df.repartitionByRange(files, "event_time")
       .sortWithinPartitions("event_time")
       .write.mode("overwrite").parquet(path))
    _write_sentinel(path, spark.range(1).select(
        F.lit("zzz_sentinel").alias("doc_id"),
        F.array().cast("array<int>").alias("tokens"),
        F.lit(0).alias("n_tok"), F.lit("sentinel").alias("source"),
        F.lit("2100-01-01").cast("timestamp").alias("event_time")))


def gen_events(spark, path, events, users, files, types):
    """(event_id, user_id, event_type, ts) over a 24 h span, plus a
    far-future sentinel in its own, last file that closes every chain
    and settles every anchor."""
    pick = (F.xxhash64("id", F.lit(1)) % len(types) + len(types)) \
        % len(types) + 1
    df = spark.range(events).select(
        F.col("id").alias("event_id"),
        (F.col("id") % users).alias("user_id"),
        F.element_at(F.array(*map(F.lit, types)), pick.cast("int"))
        .alias("event_type"),
        F.timestamp_micros((F.xxhash64("id", F.lit(2)) % SPAN_US + SPAN_US)
                           % SPAN_US).alias("ts"))
    (df.repartitionByRange(files, "ts").sortWithinPartitions("ts")
       .write.mode("overwrite").parquet(path))
    _write_sentinel(path, spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.timestamp_micros(F.lit(10 * SPAN_US)).alias("ts")))


def gen_changelog(spark, path, events, users, files, local):
    """CDC changelog: op and payload hash the row id, ts increases with
    it, so chronological files are arrival order. ``local``: the key is
    monotone in ts, so each trigger touches a disjoint key band (the
    pruning best case); otherwise every trigger touches every band (the
    store-rewrite worst case)."""
    key = ((F.col("id") * users / events).cast("long") if local
           else F.col("id") % users)

    def pick(seed, values):
        n = len(values)
        return F.element_at(F.array(*map(F.lit, values)),
                            ((F.xxhash64("id", F.lit(seed)) % n + n) % n + 1)
                            .cast("int"))

    df = spark.range(events).select(
        F.col("id").alias("event_id"),
        key.cast("string").alias("user_id"),
        F.timestamp_micros((F.col("id") * (SPAN_US // events)).cast("long"))
        .alias("ts"),
        pick(7, ["I", "U", "U", "U", "D"]).alias("op"),
        pick(8, ["a", "b", "c"]).alias("event_type"),
        (F.xxhash64("id", F.lit(9)) % 1000 / 10.0).alias("value"))
    (df.repartitionByRange(files, "ts").sortWithinPartitions("ts")
       .write.mode("overwrite").parquet(path))


def gen_text(spark, path, events, users, files):
    """Docs of 4-letter pseudo-words; every fifth carries a shared
    16-word boilerplate tail, so the duplicated-gram join has real,
    skewed work."""
    word = "concat(" + ",".join(
        f"char(97 + pmod(xxhash64(id, i, {s}), 26))" for s in (1, 2, 3, 4)
    ) + ")"
    boiler = ("all rights reserved unauthorized reproduction of this "
              "material without express written permission is strictly "
              "prohibited contact support")

    def words(n):
        return F.expr(f"array_join(transform(sequence(1, {n}), i -> "
                      f"{word}), ' ')")

    (spark.range(events).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0,
               F.concat(words(64), F.lit(" " + boiler)))
        .otherwise(words(80)).alias("text"))
     .repartition(32).write.mode("overwrite").parquet(path))


def gen_vectors(spark, path, events, users, files):
    """128-d float vectors with components hashed from (id, i)."""
    vec = (f"transform(sequence(1, {ANN_DIM}), i -> "
           "cast(pmod(xxhash64(id, i), 2001) / 1000.0 - 1.0 as float))")
    (spark.range(events).select(F.col("id").alias("vec_id"),
                                F.expr(vec).alias("embedding"))
     .repartition(96).write.mode("overwrite").parquet(path))


def gen_corpus(spark, path, events, users, files):
    """Trainer-corpus rows (doc_id, tokens array<int>, n_tok, source):
    20-80 tokens a doc, token ids hashed from (doc, position)."""
    (spark.range(events)
     .withColumn("n_tok", (F.pmod(F.xxhash64("id"), 61) + 20).cast("int"))
     .select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
             F.expr("transform(sequence(1, n_tok), i -> "
                    "cast(pmod(xxhash64(id, i), 50000) as int))")
             .alias("tokens"),
             F.col("n_tok"),
             F.concat(F.lit("s"), F.pmod(F.xxhash64("id", F.lit(7)),
                                         F.lit(12))).alias("source"))
     .repartition(96).write.mode("overwrite").parquet(path))


# ---------------------------------------------------------------------------
# jobs: job(ctx) -> result fields. Set-up outside ctx.timed is untimed.
# ---------------------------------------------------------------------------

@dataclass
class Ctx:
    """One worker run: its session, input, mode, and the sink and
    checkpoint paths of a streaming job."""
    spark: object
    in_dir: str
    mode: str
    out: str
    ckpt: str
    walls: list = field(default_factory=list)

    def timed(self, fn):
        """Run ``fn`` twice for a batch job, once for a stream; record
        each wall and return the last result."""
        results = []
        for _ in range(2 if self.mode == "batch" else 1):
            t0 = time.perf_counter()
            results.append(fn())
            self.walls.append(time.perf_counter() - t0)
        if results[0] != results[-1]:
            raise RuntimeError(f"reruns in one JVM disagree: {results}")
        return results[-1]

    def sink(self, df):
        start_event_sink(df, self.out, self.ckpt, available_now=True) \
            .awaitTermination(TIMEOUT_S)


def detect_job(ctx):
    # reference-strength compute (25 EM iterations) over fat 24 h
    # windows, so the measurement is kernel-dominated, not
    # fixed-overhead-dominated
    params = small_params(num_themes=3, window_length="24 hours",
                          em_iterations=25, min_doc_tokens=5,
                          min_word_corpus_count=2, bw_max_iterations=10,
                          watermark_delay="10 minutes")
    seqs = ctx.spark.read.parquet(ctx.in_dir)
    n_docs = seqs.count()
    n_tokens = seqs.agg(F.sum("n_tok")).collect()[0][0]
    # the background model is a static side input of the stream; built
    # untimed in both modes so both walls measure the same work
    model = bg.background_model(
        seqs.filter(F.col("n_tok") >= params.min_doc_tokens),
        min_count=params.min_word_corpus_count).toPandas()
    if ctx.mode == "batch":
        n_events = ctx.timed(
            lambda: detect_event_stream(seqs, params, model=model).count())
    else:
        events = streaming_detect_events(
            read_sequence_stream(ctx.spark, ctx.in_dir,
                                 max_files_per_trigger=None), model, params)
        ctx.timed(lambda: ctx.sink(events))
        n_events = ctx.spark.read.parquet(ctx.out).count()
    return {"n_docs": n_docs, "n_tokens": int(n_tokens),
            "n_events": n_events}


def funnel_job(ctx):
    n_events = ctx.spark.read.parquet(ctx.in_dir).count()
    if ctx.mode == "batch":
        ev = ctx.spark.read.parquet(ctx.in_dir)
        n_done = ctx.timed(lambda: funnel_times(
            ev, FUNNEL_STEPS, within_seconds=HORIZON_S)
            .filter(F.col(f"t{len(FUNNEL_STEPS) - 1}").isNotNull()).count())
    else:
        comp = streaming_funnel_completions(
            ctx.spark.readStream
            .schema("user_id long, event_type string, ts timestamp")
            .parquet(ctx.in_dir),
            FUNNEL_STEPS, within_seconds=HORIZON_S, watermark_delay=WATERMARK)
        ctx.timed(lambda: ctx.sink(comp))
        n_done = ctx.spark.read.parquet(ctx.out).count()
    return {"n_events": n_events, "n_completions": n_done}


def _cep_digest(pattern, m):
    # the far-future sentinel (user -1, a view) is shaped like an r1
    # anchor: batch alerts it but a stream never can (its watermark
    # stops AT it), so the rules digest excludes it on both sides
    if pattern == "rules":
        m = m.filter(F.col("user_id") >= 0)
    dig = {"runs": F.col("run_len") + F.unix_micros("start_ts") % 1000000007,
           "seq": F.col("first_event_id") + F.col("n_events")
           + F.unix_micros("end_ts") % 1000000007,
           }.get(pattern, F.col("first_event_id"))
    r = m.agg(F.count("*").alias("n"), F.sum(dig).alias("dig")).collect()[0]
    return {"n_matches": int(r["n"]), "digest": int(r["dig"] or 0)}


def cep_job(pattern, ctx):
    spark = ctx.spark
    n_events = spark.read.parquet(ctx.in_dir).count()
    rules = spark.createDataFrame(
        [(r, a, b, float(HORIZON_S)) for r, a, b in CEP_RULES],
        "rule_id string, first_type string, then_type string,"
        " within_seconds double")
    fns, args, kw = {
        "absence": ((match_absence, streaming_match_absence),
                    ("view", "purchase", "error"),
                    {"within_seconds": HORIZON_S}),
        "runs": ((match_runs, streaming_match_runs), ("error",),
                 {"min_run": 2, "max_gap_seconds": HORIZON_S}),
        "rules": ((match_timeout_rules, streaming_match_timeout_rules),
                  (rules,), {}),
        "seq": ((match_seq, streaming_match_seq), (CEP_SEQ,),
                {"within_seconds": HORIZON_S}),
    }[pattern]
    if ctx.mode == "batch":
        ev = spark.read.parquet(ctx.in_dir)
        res = ctx.timed(
            lambda: _cep_digest(pattern, fns[0](ev, *args, **kw)))
    else:
        stream = (spark.readStream
                  .schema("event_id long, user_id long, event_type string,"
                          " ts timestamp").parquet(ctx.in_dir))
        m = fns[1](stream, *args, watermark_delay=WATERMARK, **kw)
        ctx.timed(lambda: ctx.sink(m))
        res = _cep_digest(pattern, spark.read.parquet(ctx.out))
    return {"n_events": n_events, **res}


def cdc_job(ctx):
    spark = ctx.spark
    n_rows = spark.read.parquet(ctx.in_dir).count()

    def digest(snap):
        # live-key count + sum over keys of last_id * key-hash
        r = snap.agg(F.count("*").alias("n"), F.sum(
            F.col("last_id") * (F.xxhash64("user_id") % 1000003))
            .alias("dig")).collect()[0]
        return {"n_rows": n_rows, "live_keys": int(r["n"]),
                "digest": int(r["dig"] or 0)}

    if ctx.mode == "batch":
        cl = spark.read.parquet(ctx.in_dir)
        return ctx.timed(lambda: digest(
            latest_snapshot(cl, attrs=["event_type", "value"])))
    stream = (spark.readStream
              .schema("event_id long, user_id string, ts timestamp,"
                      " op string, event_type string, value double")
              .option("maxFilesPerTrigger", "1").parquet(ctx.in_dir))
    kw = dict(key_col="user_id", attrs=("event_type", "value"),
              available_now=True)
    if ctx.mode == "icelite":
        ctx.timed(lambda: start_apply_changes_icelite(
            stream, ctx.out, ctx.ckpt, **kw).awaitTermination(TIMEOUT_S))
        return digest(read_cdc_snapshot(spark, ctx.out))
    ctx.timed(lambda: start_apply_changes_sink(
        stream, ctx.out, ctx.ckpt, n_buckets=CDC_BUCKETS,
        mode="delta" if ctx.mode == "delta" else "merge", compact_every=4,
        **kw).awaitTermination(TIMEOUT_S))
    return digest(read_snapshot(spark, ctx.out))


def dedup_job(ctx):
    docs = ctx.spark.read.parquet(ctx.in_dir)

    def query():
        r = duplicate_spans(docs, n=8).agg(
            F.count("*").alias("rows"), F.sum("n_tokens").alias("tokens"),
            F.sum("dup_tokens").alias("dup_tokens")).collect()[0]
        return {k: int(r[k]) for k in ("rows", "tokens", "dup_tokens")}

    return ctx.timed(query)


def _md5(rows):
    return hashlib.md5(repr(sorted(map(tuple, rows))).encode()).hexdigest()


def ann_job(ctx):
    emb = ctx.spark.read.parquet(ctx.in_dir)
    n_vec = emb.count()
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)

    def query():
        rows = (cosine_topk(emb, queries, k=ANN_K)
                .select("query_id", "neighbor_id", "rank",
                        F.round("cos", 6).alias("cos")).collect())
        return len(rows), _md5(rows)

    rows, digest = ctx.timed(query)
    return {"n_vec": n_vec, "rows": rows, "digest": digest}


def shard_job(ctx):
    spark = ctx.spark
    # >= SHARDS partitions, so no shard's write task queues behind an
    # unrelated one at 4N
    spark.conf.set("spark.sql.shuffle.partitions", str(max(
        int(spark.conf.get("spark.sql.shuffle.partitions")), SHARDS)))
    seqs = spark.read.parquet(ctx.in_dir)
    n_docs = seqs.count()
    # the writer overwrites, so the second run replaces the first
    ctx.timed(lambda: write_training_shards(
        shard_assignments(seqs, SHARDS, seed=11, epoch=3), ctx.out, SHARDS,
        exchange="preimage"))
    man = read_manifest(spark, ctx.out).select(
        "shard_id", "n_docs", "n_tokens", "n_sources", "min_key",
        "max_key").collect()
    return {"n_docs": n_docs, "n_tokens": int(sum(r[2] for r in man)),
            "digest": _md5(man)}


# ---------------------------------------------------------------------------
# the family table
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Family:
    """A workload: its input generator and job, the modes the job
    accepts (the first two run by default), the result field its
    throughput divides (``unit`` names it), the fields every run of a
    mode must agree on, the default input sizes and a description."""
    gen: Callable
    job: Callable
    modes: tuple
    work: str
    unit: str
    digest: tuple
    events: int
    what: str
    users: int = 0
    files: int = 0


_CEP_WHAT = {
    "absence": "view -> purchase without an error between",
    "runs": "2+ consecutive errors per user (Kleene-plus runs)",
    "rules": "3-rule dynamic timeout table, (user, rule)-keyed state",
    "seq": "MATCH_RECOGNIZE view error+ purchase",
}
FAMILIES = {
    "detect": Family(
        gen_sequences, detect_job, ("stream", "batch"), "n_tokens",
        "tokens", ("n_events",), 100_000, files=16,
        what="planted-HMM docs, 24 h tumbling windows, 25 EM iterations;"
        " batch = detect_event_stream, stream = the windowed detector"
        " into a parquet sink"),
    "funnel": Family(
        partial(gen_events, types=["view", "click", "purchase", "noise"]),
        funnel_job, ("stream", "batch"), "n_events", "events",
        ("n_completions",), 5_000_000, users=500_000, files=16,
        what="events, view -> click -> purchase funnel, 6 h horizon"),
    **{"cep" + ("" if p == "absence" else ":" + p): Family(
        partial(gen_events, types=["view", "purchase", "error", "noise"]),
        partial(cep_job, p), ("stream", "batch"), "n_events", "events",
        ("n_matches", "digest"), 2_000_000, users=200_000, files=16,
        what=f"events, {w}, 6 h horizon")
       for p, w in _CEP_WHAT.items()},
    **{"cdc" + (":local" if local else ""): Family(
        partial(gen_changelog, local=local), cdc_job,
        ("stream", "batch", "delta", "icelite"), "n_rows", "rows",
        ("live_keys", "digest"), 8_000_000, users=400_000, files=8,
        what=f"changelog rows (I/U/D mix, {'local' if local else 'uniform'}"
        f" key layout), one trigger per file, {CDC_BUCKETS}-bucket store;"
        " batch = latest_snapshot, stream/delta/icelite = APPLY CHANGES"
        " sinks")
       for local in (False, True)},
    "dedup": Family(
        gen_text, dedup_job, ("batch",), "tokens", "tokens",
        ("rows", "tokens", "dup_tokens"), 300_000,
        what="docs, duplicate_spans(n=8), 20% with a boilerplate tail"),
    "ann": Family(
        gen_vectors, ann_job, ("batch",), "n_vec", "vectors",
        ("rows", "digest"), 4_000_000,
        what=f"{ANN_DIM}-d vectors, cosine_topk of {ANN_QUERIES} queries,"
        f" k={ANN_K}"),
    "shard": Family(
        gen_corpus, shard_job, ("batch",), "n_docs", "docs", ("digest",),
        2_000_000,
        what=f"corpus docs, {SHARDS} shards (and at least {SHARDS} shuffle"
        " partitions), preimage exchange, digest of the written manifest"),
}


# ---------------------------------------------------------------------------
# subprocesses: generator and pinned worker, both plain functions here
# ---------------------------------------------------------------------------

def _spawn(func, spec, env=None, cores=None):
    cmd = [sys.executable, "-c",
           f"import scaling_bench; scaling_bench.{func}()", json.dumps(spec)]
    if cores and shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    p = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=TIMEOUT_S,
        env=dict(os.environ, PYTHONPATH=os.pathsep.join([REPO, TOOLS]),
                 **(env or {})))
    if p.returncode:
        raise RuntimeError(f"{func} {spec} exited {p.returncode}:\n"
                           f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return p.stdout


def _generate():
    s = json.loads(sys.argv[1])
    spark = get_spark("gen-" + s["family"], cores=32)
    FAMILIES[s["family"]].gen(spark, s["path"], s["events"], s["users"],
                              s["files"])


def _worker():
    s = json.loads(sys.argv[1])
    fam = FAMILIES[s["family"]]
    conf = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    if s["io_codec"] != "default":
        # shuffle/spill/RocksDB-changelog block codec; the zstd A/B was
        # rejected as host noise (BENCH.md "IO codec under the shared
        # memory bus"), kept as a sweep axis for hosts that re-measure
        conf["spark.io.compression.codec"] = s["io_codec"]
    spark = get_spark(f"scale-{s['family']}-{s['mode']}-{s['cores']}",
                      cores=s["cores"], shuffle_partitions=s["partitions"],
                      extra_conf=conf)
    ctx = Ctx(spark, s["in_dir"], s["mode"], s["run_dir"] + "/out",
              s["run_dir"] + "/ckpt")
    res = fam.job(ctx)
    wall = ctx.walls[-1]
    res.update(mode=s["mode"], cores=s["cores"], wall_sec=round(wall, 2),
               cold_wall_sec=(round(ctx.walls[0], 2) if len(ctx.walls) > 1
                              else None),
               per_sec=round(res[fam.work] / wall, 2))
    print("RESULT " + json.dumps(res))


def run_worker(spec, work):
    out = _spawn("_worker", spec, dict(BLAS_ENV, SPARK_LOCAL_DIRS=work),
                 cores=spec["cores"])
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"worker {spec} printed no RESULT:\n{out[-2000:]}")


def cached_input(key, generate, root=None):
    """The input dir for ``key``, calling ``generate(path)`` unless a
    previous call completed it. The marker is written only after
    ``generate`` returns, so a generator that fails or is killed
    mid-write leaves a dir that the next call regenerates. Part files
    get chronological mtimes, so a file stream reads them in event-time
    order (mtime ties otherwise randomize batch order)."""
    base = os.path.join(root or tempfile.gettempdir(), "scale_input_" + key)
    data, marker = os.path.join(base, "data"), os.path.join(base, "COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        generate(data)
        t = time.time()
        for i, f in enumerate(sorted(glob.glob(data + "/*.parquet"))):
            os.utime(f, (t + i, t + i))
        open(marker, "w").close()
    return data


def input_dir(family, events, users, files=None):
    """The cached input of ``family``, keyed by its name, sizes and a
    hash of its generator's source and arguments."""
    gen = FAMILIES[family].gen
    files = FAMILIES[family].files if files is None else files
    src = inspect.getsource(getattr(gen, "func", gen)) + repr(
        sorted(getattr(gen, "keywords", {}).items()))
    key = (f"{family.split(':')[0]}_{events}_{users}_{files}_"
           f"{hashlib.sha1(src.encode()).hexdigest()[:12]}")
    spec = {"family": family, "events": events, "users": users,
            "files": files}
    return cached_input(
        key, lambda path: _spawn("_generate", dict(spec, path=path)))


# ---------------------------------------------------------------------------
# summary and report
# ---------------------------------------------------------------------------

def summarize(fam, raw):
    """Per mode of ``raw`` ({(mode, cores): [RESULT, ...]}): the min-wall
    run per core count, the lowest-to-highest scaling efficiency and the
    distinct digests. Returns (rows, void); void when any mode's runs
    disagree on the digest."""
    rows = []
    for mode in dict.fromkeys(m for m, _ in raw):
        runs = {c: rs for (m, c), rs in raw.items() if m == mode}
        best = {c: min(rs, key=lambda r: r["wall_sec"])
                for c, rs in runs.items()}
        lo, hi = min(best), max(best)
        rows.append({
            "mode": mode, "runs": runs, "best": best, "lo": lo, "hi": hi,
            "efficiency": (best[hi]["per_sec"] / best[lo]["per_sec"])
            / (hi / lo),
            "digests": sorted({tuple(r[k] for k in fam.digest)
                               for rs in runs.values() for r in rs})})
    return rows, any(len(r["digests"]) > 1 for r in rows)


def report(name, fam, rows, void, args, events, users, partitions):
    def dig(d):
        return "/".join(map(str, d))

    lines = [
        "", f"## Scaling: {name} (N={args.n} vs 4N={4 * args.n} cores, min"
        f" of {args.repeats} interleaved sweeps)"
        + (" — VOID: digests differ" if void else ""), "",
        f"Input: {events} {fam.what}"
        + (f"; {users} keys" if fam.users else "")
        + f". {partitions} fixed shuffle/state partitions, io codec"
        f" {args.io_codec}; fresh taskset-pinned JVM per run, single-"
        "threaded BLAS; a batch run reports its second execution in the"
        " JVM, the first as the cold wall.", "",
        f"| mode | cores | best wall (s) | cold walls (s) | {fam.unit}/s |"
        f" {' / '.join(fam.digest)} | all walls (s) |",
        "|---|---|---|---|---|---|---|"]
    for r in rows:
        for c, rs in r["runs"].items():
            b = r["best"][c]
            cold = ", ".join(str(x["cold_wall_sec"]) for x in rs
                             if x["cold_wall_sec"] is not None) or "-"
            lines.append(
                f"| {r['mode']} | {c} | {b['wall_sec']} | {cold} |"
                f" {b['per_sec']} | {', '.join(dig(d) for d in r['digests'])}"
                f" | {', '.join(str(x['wall_sec']) for x in rs)} |")
    lines.append("")
    for r in rows:
        lo, hi, eff = r["best"][r["lo"]], r["best"][r["hi"]], r["efficiency"]
        lines.append(
            f"- **{r['mode']}**: {lo['per_sec']:.0f} {fam.unit}/s @ "
            f"local[{r['lo']}] -> {hi['per_sec']:.0f} {fam.unit}/s @ "
            f"local[{r['hi']}]; scaling efficiency **{eff:.2f}** "
            f"({'meets' if eff >= 0.8 else 'below'} the >=0.8 criterion); "
            + (f"digest {dig(r['digests'][0])} at every core count and "
               "repeat" if len(r["digests"]) == 1 else
               "VOID: digests " + ", ".join(map(dig, r["digests"]))))
    return "\n".join(lines) + "\n"


def main(argv=None):
    ap = argparse.ArgumentParser(
        description="N vs 4N scaling sweep of one workload family")
    ap.add_argument("--family", default="detect", choices=list(FAMILIES))
    ap.add_argument("--n", type=int, default=4,
                    help="baseline core count N; runs N and 4N")
    ap.add_argument("--events", type=int,
                    help="input rows: docs, events, changelog rows or "
                    "vectors (default per family)")
    ap.add_argument("--users", type=int,
                    help="distinct users (funnel, cep) or keys (cdc)")
    ap.add_argument("--repeats", type=int, default=2,
                    help="interleaved sweeps; the table reports min wall")
    ap.add_argument("--modes",
                    help="comma-separated subset of the family's modes")
    ap.add_argument("--local-dir",
                    help="root of sinks, checkpoints and shuffle spill, "
                    "e.g. /dev/shm/spark-local")
    ap.add_argument("--io-codec", default="default",
                    help="spark.io.compression.codec override, e.g. zstd")
    args = ap.parse_args(argv)
    fam = FAMILIES[args.family]
    modes = args.modes.split(",") if args.modes else list(fam.modes[:2])
    if set(modes) - set(fam.modes):
        ap.error(f"--family {args.family} accepts modes {fam.modes}")
    events = args.events or fam.events
    users = (args.users or fam.users) if fam.users else 0
    partitions = 6 * 4 * args.n

    in_dir = input_dir(args.family, events, users)
    work = tempfile.mkdtemp(prefix="scale_bench_", dir=args.local_dir)
    raw = {}
    try:
        for rep in range(args.repeats):
            for mode in modes:
                for cores in (args.n, 4 * args.n):
                    run_dir = os.path.join(work, f"{mode}_{cores}_r{rep}")
                    r = run_worker({
                        "family": args.family, "mode": mode, "cores": cores,
                        "in_dir": in_dir, "run_dir": run_dir,
                        "partitions": partitions, "io_codec": args.io_codec,
                    }, work)
                    shutil.rmtree(run_dir, ignore_errors=True)
                    raw.setdefault((mode, cores), []).append(r)
                    print(json.dumps(r), file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows, void = summarize(fam, raw)
    print(report(args.family, fam, rows, void, args, events, users,
                 partitions))
    return 1 if void else 0


if __name__ == "__main__":
    raise SystemExit(main())
