"""The fork-server daemon's import-cache guard.

Spark calls ``importlib.invalidate_caches()`` at the start of every
Python task; stock ``zipimport`` then re-reads every cached archive's
directory. The daemon (``bigdata_event_stream_detection_spark.daemon``)
guards that re-read on the archive's ``(st_mtime_ns, st_size)``. These
tests pin that an unchanged archive is not re-read, that a rewritten one
is (no stale cache), and that the session's workers run the guard.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd

DAEMON = "bigdata_event_stream_detection_spark.daemon"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter, so the test process's own zipimport
# state is left alone.
GUARD_SCRIPT = textwrap.dedent(f"""
    import importlib, sys, zipfile, zipimport

    zpath = sys.argv[1]
    sys.path.insert(0, zpath)
    import m1  # caches a zipimporter for the archive
    import {DAEMON}  # noqa: F401

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting_read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], reads

    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m1.py", "X = 1\\n")
        z.writestr("m2.py", "Y = 2\\n")
    importlib.invalidate_caches()
    import m2
    assert m2.Y == 2
    assert reads == [zpath], reads
    print("ok")
""")


def test_guard_skips_unchanged_archives_and_rereads_rewritten(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m1.py", "X = 1\n")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    p = subprocess.run([sys.executable, "-c", GUARD_SCRIPT, zpath],
                       capture_output=True, text=True, env=env, timeout=300)
    assert p.returncode == 0 and p.stdout.strip() == "ok", p.stderr


def test_session_workers_run_the_guard(spark):
    def owner(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        # Spark starts the daemon with ``python -m``, so in a worker its
        # module is ``__main__``; its spec still names the daemon module
        module = zipimport.zipimporter.invalidate_caches.__module__
        yield pd.DataFrame({"owner": [sys.modules[module].__spec__.name]})

    n = spark.sparkContext.defaultParallelism
    rows = (spark.range(n, numPartitions=n)
            .mapInPandas(owner, "owner string").collect())
    assert len(rows) == n
    assert {r.owner for r in rows} == {DAEMON}
