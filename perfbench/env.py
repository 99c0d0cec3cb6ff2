"""Hermetic per-process set-up.

Every benchmark process gets fresh directories, under the checkout's
``.perfbench/tmp``, for its corpus, its outputs, ``SPARK_LOCAL_DIRS``, the
JVM and Python temp dirs and ``SPARK_GRAFT_NATIVE_CACHE``.  So set-up always
does the same work (the C alignment kernel is compiled again each time) and
no run reads an earlier run's output.  The environment must be prepared
before pyspark or the package is imported: the native cache path is read at
import time and the JVM inherits the environment when it starts.
"""

from __future__ import annotations

import os
import shlex
import shutil
import tempfile

# The driver heap (all of the JVM in local mode) is capped below the
# program's 8g default.  At 8g the JVM grows its heap by its own ergonomics
# and curate_dedup's peak RSS ranged 2.7-4.3 GB across seeds (quartile
# spread 0.22); capped, the heap fills during warm-up and the spread falls
# to 0.04-0.07 on a quiet host.  So peak_rss_mb counts a full 1g heap plus
# what lies outside it (JVM off-heap, driver and worker Pythons); a cut in
# JVM heap use shows as GC time in docs_per_s, not in peak_rss_mb.
DRIVER_MEMORY = "1g"


def prepare(root: str) -> str:
    """Create this process's run directory and point the environment at it.
    ``root`` (the checkout) goes on ``PYTHONPATH`` so that Spark's Python
    workers import the package and the benchmark from any working dir."""
    base = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    dirs = {name: os.path.join(run_dir, name) for name in ("spark-local", "native", "tmp", "work")}
    for path in dirs.values():
        os.makedirs(path)
    java_opts = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % dirs["tmp"]
    submit_args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.local.dir=%s" % dirs["spark-local"],
        "--conf", "spark.sql.warehouse.dir=%s" % os.path.join(dirs["work"], "warehouse"),
        "--conf", "spark.driver.extraJavaOptions=%s" % java_opts,
        "pyspark-shell",
    ]
    python_path = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_NATIVE_CACHE=dirs["native"],
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=dirs["tmp"],
        PYTHONPATH=os.pathsep.join(python_path),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit_args),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def work_dir(run_dir: str, *parts: str) -> str:
    return os.path.join(run_dir, "work", *parts)


def cleanup(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    base = os.path.dirname(run_dir)
    try:
        os.rmdir(base)  # only when no other run is using it
        os.rmdir(os.path.dirname(base))
    except OSError:
        pass
