"""Shared harness pieces: host-fit environment, Spark session lifecycle,
peak-RSS sampling, spans, percentiles and the event-log summary."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, ".data")
WORK_DIR = os.path.join(BENCH_DIR, ".work")


def host_env(driver_mem: str, blas_threads: int) -> dict:
    """Environment every run sets before Python numerics or the JVM
    load: a driver heap that fits the host, single-threaded BLAS (the
    kernels already run one task per core), and every scratch path
    (Spark local dirs, Python temp dir, JVM temp dir) inside the
    benchmark's own work dir."""
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    threads = str(blas_threads)
    return {
        "BESD_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": threads,
        "OPENBLAS_NUM_THREADS": threads,
        "MKL_NUM_THREADS": threads,
        "VECLIB_MAXIMUM_THREADS": threads,
        "NUMEXPR_NUM_THREADS": threads,
        # the launcher JVM that spark-submit starts first: no perf-data
        # file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"]
                              if os.environ.get("PYTHONPATH") else ""),
    }


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    import numpy as np
    return float(np.percentile(values, q))


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

def start_spark(app: str, cores: int):
    from bigdata_event_stream_detection_spark.session import get_spark

    tmp = os.path.join(WORK_DIR, "tmp")
    heap = os.environ["BESD_DRIVER_MEM"]
    conf = {
        # a fixed, pre-touched heap: its resident size is the same in
        # every run instead of following GC heap-sizing decisions
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} "
            "-XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        # jobs from separate threads (the live feeder) share the cores
        # fairly instead of queueing behind a running micro-batch
        "spark.scheduler.mode": "FAIR",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app, cores=cores, extra_conf=conf)


def warm_workers(spark) -> None:
    """One task per core through the Arrow/pandas path, so the Python
    daemon, its forked workers and the package's kernels are loaded
    before anything is timed."""
    import pandas as pd

    def touch(it):
        from bigdata_event_stream_detection_spark.operators import kernels
        for pdf in it:
            yield pd.DataFrame({"x": [kernels.stable_seed(len(pdf))]})

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 4, numPartitions=cores).mapInPandas(
        touch, "x long").collect()


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python process it started have exited."""
    from pyspark import SparkContext

    pid = jvm_pid()
    kids = _descendants(pid) if pid else []
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    for k in kids:
        while os.path.exists(f"/proc/{k}") and time.time() < deadline:
            if _is_zombie(k):
                break
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# peak RSS of the JVM + its Python daemon and workers
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set: each shared page is split among the
    processes mapping it, so forked workers sharing the daemon's
    copy-on-write pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of the driver JVM and all
    of its descendants (the Python daemon and its forked workers) every
    ``interval`` seconds from ``/proc``; keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = _pss_kb(self.root) + sum(
            _pss_kb(p) for p in _descendants(self.root))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans (traced run only)
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into each engine layer. Each span
    records name, start, end, parent and run id; when a SparkContext is
    given the span name also becomes the Spark job description, so the
    event log attributes stages to layers."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    self.spans[parent]["name"] if parent is not None
                    else None)

    def seconds(self, name: str) -> float:
        """Self time: span duration minus the part its children cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["id"])
            total += (s["end"] - s["start"]) - kids
        return total

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# event log -> spark.* metrics
# ---------------------------------------------------------------------------

def event_log_conf(evlog_dir: str) -> str:
    """BESD_EXTRA_CONF value that turns the Spark event log on."""
    os.makedirs(evlog_dir, exist_ok=True)
    return json.dumps({"spark.eventLog.enabled": "true",
                       "spark.eventLog.compress": "false",
                       "spark.eventLog.dir": "file://" + evlog_dir})


def _job_layers_and_task_walls(evlog_dir: str):
    """stage id -> job description, and stage id -> task walls (s)."""
    layer_of: dict[int, str] = {}
    walls: dict[int, list[float]] = {}
    for path in glob.glob(os.path.join(evlog_dir, "**", "*"),
                          recursive=True):
        if os.path.isdir(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or "untraced"
                    for sid in ev.get("Stage IDs", []):
                        layer_of[sid] = desc
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info = ev.get("Task Info") or {}
                    w = (info.get("Finish Time", 0)
                         - info.get("Launch Time", 0)) / 1000.0
                    walls.setdefault(ev["Stage ID"], []).append(w)
    return layer_of, walls


def spark_metrics(evlog_dir: str, t0: float, t1: float,
                  kernel_layer: str | None) -> dict:
    """``spark.*`` metrics over the stages that ran inside [t0, t1]
    (epoch seconds). Stage aggregates come from the repo's own
    event-log parser (tools/profile_stages.parse_event_log); the kernel
    stage is the heaviest stage of the jobs labelled ``kernel_layer``."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from profile_stages import parse_event_log

    rows = parse_event_log(evlog_dir, int(t0 * 1000))
    rows = [r for r in rows
            if 0 <= r["start_s"] <= (t1 - t0) + 1e-3]
    layer_of, task_walls = _job_layers_and_task_walls(evlog_dir)
    # union of stage intervals -> wall not covered by any stage
    iv = sorted((r["start_s"], r["start_s"] + r["wall_s"]) for r in rows)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    kernel = [r for r in rows if layer_of.get(r["stage"]) == kernel_layer]
    heavy = max(kernel or rows, key=lambda r: r["task_time_s"], default=None)
    skew = 0.0
    if heavy is not None and task_walls.get(heavy["stage"]):
        w = task_walls[heavy["stage"]]
        skew = max(w) / median(w) if median(w) > 0 else 0.0
    return {
        "spark.stages": len(rows),
        "spark.task_cpu_s": sum(r["task_time_s"] for r in rows),
        "spark.gc_s": sum(r["gc_s"] for r in rows),
        "spark.shuffle_write_mb": sum(r["sh_w_mb"] for r in rows),
        "spark.shuffle_read_mb": sum(r["sh_r_mb"] for r in rows),
        "spark.kernel_task_skew": skew,
        "spark.driver_gap_s": max(0.0, (t1 - t0) - covered),
    }
