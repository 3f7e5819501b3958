"""Launch environment, Spark lifecycle and outside-in memory sampling.

Everything the launcher sets is sized from the host at run time:

  * ``SPARK_GRAFT_CPUS`` / ``local[N]`` from the CPUs this process may use;
  * ``SPARK_DRIVER_MEMORY`` as a quarter of physical memory, capped at 2g
    (``session.get_spark`` would otherwise ask for 24g), as a fixed-size
    heap;
  * ``SPARK_LOCAL_DIRS`` inside the run's working directory;
  * ``PYTHONPATH`` with the checkout root, so Python workers import
    ``palladian_spark`` whatever their working directory;
  * ``PYSPARK_SUBMIT_ARGS`` carries the heap floor and, for traced
    sessions, turns on Spark's event log, so ``session.py`` is used exactly
    as the jobs use it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from typing import Optional


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 4))


def configure_env(root: str, work: str) -> None:
    """Environment for every JVM this process launches (read at launch)."""
    cpus = host_cpus()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_MASTER": f"local[{cpus}]",
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


class SparkProcess:
    """One JVM + SparkSession.  ``stop`` ends the session, closes the
    gateway's stdin (the JVM exits on EOF) and waits for the JVM, so the
    next ``start`` launches a fresh JVM and no process outlives a run."""

    def __init__(self) -> None:
        self.spark = None
        self.proc = None

    def start(self, event_log_dir: Optional[str] = None):
        from pyspark import SparkContext
        from palladian_spark.session import get_spark
        # a fixed-size heap (-Xms = -Xmx): heap growth otherwise follows GC
        # timing and moved both memory and run time from run to run
        args = ["--driver-java-options",
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"]
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            args += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", "spark.eventLog.compress=false",
                     "--conf", f"spark.eventLog.dir=file://{event_log_dir}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self.proc = None


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants (the JVM
    and the Python workers it forks), read from /proc.  PSS splits pages
    shared between forked workers among them, so the sum counts each page
    once; a sum of RSS would count the daemon's pages once per worker."""
    kids = _children()
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass
        stack.extend(kids.get(p, []))
    return total


class MemorySampler:
    """Samples the process tree's PSS every ``interval`` seconds from a
    thread; ``peak_mb`` is the highest sum seen while it ran."""

    def __init__(self, pid: int, interval: float = 0.5) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20


def now() -> float:
    return time.perf_counter()
