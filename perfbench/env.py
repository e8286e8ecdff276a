"""Portable runner: environment, Spark session, process-tree memory and
noise diagnostics.

Everything the benchmark writes goes under ``<repo>/.perfbench``: Spark's
local dirs, the JVM and Python temp dirs (which also hold the tagger's
compiled Viterbi kernel cache), the generated inputs, the outputs and the
spans/diagnostics files. ``prepare_env`` must run before pyspark launches
its JVM, because the JVM and its Python workers inherit the environment.

Session settings that differ from ``stackoverflowner_spark.session.get_spark``
(everything else is get_spark's own default):

* master ``local[<nproc>]`` and shuffle partitions ``<nproc>``, with nproc
  read from the process's CPU affinity, not get_spark's default of 32;
* ``SPARK_GRAFT_DRIVER_MEM=2g`` instead of 8g: the inputs are a few MB and
  the machine's memory is shared;
* ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and ``-Djava.io.tmpdir`` point inside
  ``.perfbench``; ``-XX:-UsePerfData`` stops the JVM writing
  ``/tmp/hsperfdata_*``;
* ``PYTHONPATH`` starts with the repository root, so Spark's Python workers
  import ``stackoverflowner_spark`` from any working directory;
* console progress bars and INFO logging are off.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "stackoverflowner_spark")


def cores() -> int:
    """Usable cores, as ``nproc`` counts them (affinity, not OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point every writer inside the checkout and make the package
    importable by Spark's Python workers. Call before the first session."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    n = str(cores())
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": n,
        "SPARK_GRAFT_MASTER": f"local[{n}]",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def start_session():
    """get_spark with the environment prepare_env set, logging at ERROR."""
    from stackoverflowner_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited.
    Spark's Python workers are children of the JVM and end with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class TreeRss:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and Spark's Python workers), sampled from ``/proc`` every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.peak_procs = 0  # processes in the tree at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        stats = _tree_stats()
        total = sum(kb for kb, _ in stats.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_procs = total, len(stats)


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_stats() -> dict:
    """pid -> (rss KB, CPU seconds incl. reaped children) for this process
    and its descendants, from /proc/<pid>/stat."""
    parent, stats = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while being read
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # u, s, cu, cs
        stats[pid] = (int(fields[21]) * _PAGE_KB, cpu)
    me = os.getpid()
    out = {}
    for pid in stats:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            out[pid] = stats[pid]
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    return sum(cpu for _, cpu in _tree_stats().values())


def triad_gbs(mb: int = 64, reps: int = 3) -> float:
    """Single-thread memory-bandwidth probe (STREAM-triad-like, best of
    ``reps``). Recorded beside every run so a throttled window shows."""
    import numpy as np

    n = mb * 1024 * 1024 // 8
    b, c = np.ones(n), np.ones(n)
    a = b + 0.5 * c
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.add(b, 0.5 * c, out=a)
        best = min(best, time.perf_counter() - t0)
    return 3 * n * 8 / best / 1e9


def loadavg() -> float:
    return os.getloadavg()[0]
