"""Process-level plumbing: the Spark session set-up cycle, the JVM's
shutdown, resident-memory sampling from ``/proc`` and the run record.

The session is always the program's own ``session.get_spark`` with its
defaults (driver heap, AQE, shuffle width); the benchmark adds only the
master and, for a traced run, the event-log settings.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time
from typing import Any

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{cores()}]"


def start_session(app: str, event_log_dir: str | None = None) -> Any:
    from sql_data_warehouse_spark.session import get_spark

    extra = {}
    if event_log_dir:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app, master=master(), **extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark: Any) -> None:
    """Fork the Python worker fleet (numpy/pandas imported) once, the
    same warm-up ``bench.py`` times as ``_py_worker_warmup``."""
    def ident(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(ident, "id long").write.format("noop").mode(
        "overwrite").save()


def jvm_process() -> Any:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown_jvm(spark: Any | None, timeout: float = 30.0) -> None:
    """Stop the session, then the gateway JVM (and with it every Python
    worker it forked), and wait until the JVM process has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 - teardown goes on to stop the JVM
            print(f"perfbench: spark.stop() failed: {e!r}", file=sys.stderr)
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception as e:  # noqa: BLE001
            print(f"perfbench: gateway shutdown failed: {e!r}", file=sys.stderr)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=timeout)
        except (subprocess.TimeoutExpired, OSError):
            proc.kill()
            proc.wait()


def _children() -> dict[int, list[int]]:
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


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the JVM's resident set and that of all its descendant
    processes (the Python daemon and workers) every ``interval`` s and
    keeps the peaks: JVM alone, Python alone, and their sum."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_jvm = 0
        self.peak_python = 0
        self.peak_total = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        proc = jvm_process()
        if proc is None:
            return
        jvm = _rss_bytes(proc.pid)
        kids = _children()
        python, todo = 0, list(kids.get(proc.pid, []))
        while todo:
            pid = todo.pop()
            python += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, python)
        self.peak_total = max(self.peak_total, jvm + python)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


def settled_rss(spark: Any, step: float = 0.25, timeout: float = 5.0) -> RssSampler:
    """Resident memory of the JVM and its Python workers once a full GC
    has run and the heap has finished shrinking (G1 hands the freed
    regions back to the OS concurrently, over the next second or so):
    what the session keeps holding (cached relations, checkpoints, memo
    tables) between queries, without the run-to-run noise of where the
    heap peaked."""
    spark.sparkContext._jvm.System.gc()
    deadline = time.monotonic() + timeout
    time.sleep(0.5)
    previous = None
    while True:
        time.sleep(step)
        probe = RssSampler()
        probe.sample()
        if previous is not None and (probe.peak_total >= 0.99 * previous
                                     or time.monotonic() > deadline):
            return probe
        previous = probe.peak_total


def cpu_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_RECORDED_CONFS = (
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.files.maxPartitionBytes", "spark.default.parallelism",
)


def run_record(spark: Any, data_dirs: dict[str, str], steal_s: float) -> dict:
    """Everything needed to explain a run from its result alone."""
    import pyspark

    conf = {}
    for k in _RECORDED_CONFS:
        try:
            conf[k] = spark.conf.get(k)
        except Exception:
            conf[k] = None
    files = {}
    for label, d in data_dirs.items():
        for root, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    files[f"{label}/{os.path.relpath(p, d)}"] = os.path.getsize(p)
    return {
        "host": platform.node(),
        "cores": cores(),
        "ram_mb": round(mem_total_mb(), 1),
        "master": master(),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "confs": conf,
        "dataset_bytes": files,
        "git_commit": git_commit(),
        "cpu_steal_s": round(steal_s, 3),
        "load_avg": os.getloadavg(),
    }


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree, else None (the
    benchmark also runs from plain exported copies)."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.exists(os.path.join(here, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", here, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None
