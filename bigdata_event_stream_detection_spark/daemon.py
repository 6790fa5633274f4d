"""Fork-server daemon: preloads the heavy Python dependencies and keeps
Spark's per-task import-cache invalidation from re-reading pyspark.zip.

Every engine Python worker is forked from this module, wired in via
``spark.python.daemon.module`` (session.py); on a multi-executor cluster
the same config ships via ``spark-submit --conf
spark.python.daemon.module=... --py-files ...`` (tools/submit_job.py) and
the daemon runs once per executor. Workers are reused
(``spark.python.worker.reuse``, on by default): the daemon forks about one
worker per concurrent task, and each then serves task after task — at
``local[4]`` four worker pids served about 100 tasks of a streaming run.
Two fixed costs would still hit the tasks; both are paid here, once,
before any fork:

- **Imports.** A fresh worker pays the pandas/pyarrow/numpy import
  (~1.5 s wall, ~5 s CPU, mostly page-faulting the shared libraries in)
  before the first Arrow batch flows. Imported here, the modules are
  inherited copy-on-write. The package and its operator kernels are
  preloaded too, so UDF closure unpickling resolves modules without
  disk I/O.
- **Import-cache invalidation.** ``pyspark.worker_util.setup_spark_files``
  calls ``importlib.invalidate_caches()`` on every task. On Python 3.11
  that makes each cached ``zipimport.zipimporter`` — one per pyspark
  subpackage imported, 14 once the preloads below have run — re-read
  the whole ``pyspark.zip`` directory: a median 0.38 s per task in the
  live_stream benchmark's workers (BENCH.md "Python task fixed cost").
  The daemon replaces ``zipimporter.invalidate_caches`` with a guard that
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
  from what that importer saw at its last read, so a zip added or
  rewritten later (``addPyFile``) is still re-read, then invalidates once
  so forked workers inherit every importer's recorded stamp.
"""

import importlib
import os
import zipimport

# Preload order: the C-extension giants first (they page-fault the
# most shared-library bytes), then the package modules workers unpickle.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

try:  # worker-side Arrow serde paths that pyspark lazily imports
    import pyarrow.compute  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
except Exception:  # pragma: no cover - version-dependent, best-effort
    pass

try:  # our kernels: .so load (content-cached) happens once, pre-fork
    from bigdata_event_stream_detection_spark.operators import (  # noqa
        dedup, em, hmm, kernels, kernels_native, multimodal, similarity)
except Exception:  # pragma: no cover - package not on worker path
    pass

from pyspark.daemon import manager  # noqa: E402

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(importer):
    """``zipimporter.invalidate_caches``, skipped while the archive's
    ``(st_mtime_ns, st_size)`` equals the stamp of this importer's last
    read. An archive that cannot be stat'ed takes the stock path."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        _read_archive(importer)
        importer._read_stamp = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
importlib.invalidate_caches()

if __name__ == "__main__":
    manager()
