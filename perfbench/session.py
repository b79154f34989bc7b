"""Host-sized Spark session and process-tree memory sampling.

The session takes its size from the machine it runs on: ``local[N]``
with N the usable cores, a driver heap that is a fixed share of
``MemTotal`` from ``/proc/meminfo`` (never the legacy 12 GB per core),
one driver process, and every scratch directory (Spark local dirs, JVM
and Python temp files) inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from typing import Dict, Optional


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb(key: str) -> Optional[int]:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) // 1024
    except OSError:
        return None
    return None


def heap_mb() -> int:
    """Maximum driver heap: a sixth of MemTotal, between 1 and 3 GB, so
    the heap fits beside the Python workers and other tenants of the
    machine. MemTotal (not MemAvailable) keeps the limit independent of
    what else happens to run."""
    total = _meminfo_mb("MemTotal") or 8192
    return max(1024, min(3072, total // 6))


def build_spark(work_dir: str, code_root: str):
    """Session for one benchmark process; ``code_root`` (the checkout
    holding the program) goes on the Python workers' path."""
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (code_root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    heap = heap_mb()
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The heap starts small (no -Xms) and grows with what the program
    # keeps live, so ``peak_rss_mb`` follows the program's JVM memory.
    # G1's default sizing also grows the heap when GC pauses take a
    # large share of wall time, and adapts the young generation to pause
    # times, which made the peak differ by up to half between runs on a
    # 4-core, 16 GB VM; a fixed young generation, a fixed marking threshold
    # and a GC time goal that time alone rarely triggers leave growth to
    # the amount of live data.
    driver_opts = (f"{java_opts} -Xmn512m -XX:GCTimeRatio=1"
                   " -XX:-G1UseAdaptiveIHOP")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", driver_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "sql"))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.shuffle.partitions", str(4 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads jobs/stages back from the status store
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "20000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(live_only: bool = False) -> Dict[int, list]:
    """Child pids per parent pid, from /proc; ``live_only`` leaves out
    zombies."""
    kids: Dict[int, list] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if live_only and state == "Z":
            continue
        kids.setdefault(int(ppid), []).append(int(name))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    Python, the JVM it launched and the JVM's Python workers), as the sum
    of their proportional set sizes: pages a forked worker shares with
    its parent count once, not once per process."""
    kids = _children()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched and the JVM's Python
    workers, and wait until they have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    me = os.getpid()
    while True:
        kids = _children(live_only=True).get(me, [])
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
