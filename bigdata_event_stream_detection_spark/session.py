"""SparkSession factory with scale-appropriate defaults.

Local testing runs a single JVM (``local[N]``); production targets a
multi-executor cluster via ``spark-submit --py-files``. The config here
is the set that matters at both scales: AQE on (runtime coalesce +
skew-join splitting), Arrow transport for pandas UDFs (token arrays move
zero-copy), UTC session timezone (oracle comparability), and shuffle
partitions sized to parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "besd-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` uses ``SPARK_GRAFT_CPUS`` (default ``local[*]``).
    ``shuffle_partitions`` defaults to the core count, so each stateful
    stage runs one wave of tasks (each state partition pays a fixed
    state-store commit and Python pass per micro-batch) — at cluster
    scale set it to 2-3x total executor cores instead.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = ncores

    # make the package importable by the worker daemon regardless of how
    # the driver was launched (spark-submit --py-files covers clusters;
    # this covers bare `python script.py` without PYTHONPATH exported)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else ""))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # RocksDB state store: off-heap state (the buffered token streams
        # are corpus-sized — on-heap HDFS store GC-thrashes at high core
        # counts; measured 209 s -> 138 s at local[16] on the 150k-doc
        # fixture) + incremental changelog checkpointing
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
        .config("spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled", "true")
        # fork server for every Python worker: daemon.py imports
        # pandas/pyarrow once pre-fork (~5 s CPU of page faults per
        # fresh worker otherwise) and stat-guards the pyspark.zip
        # re-read that Spark's per-task importlib.invalidate_caches()
        # triggers (~0.4 s per task otherwise)
        .config("spark.python.daemon.module",
                "bigdata_event_stream_detection_spark.daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("BESD_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # operator-level conf knob: BESD_EXTRA_CONF='{"spark.io.compression
    # .codec": "zstd", ...}' overrides everything above without code
    # changes — the local analog of spark-submit --conf flags.  NB the
    # zstd codec A/B was REJECTED as host noise (BENCH.md "IO codec
    # under the shared memory bus"; keep lz4) — the knob exists for
    # deployments that re-measure on their own hardware.
    env_extra = os.environ.get("BESD_EXTRA_CONF")
    if env_extra:
        import json

        for k, v in json.loads(env_extra).items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
