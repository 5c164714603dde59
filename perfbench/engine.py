"""Spark session life cycle, host fitting and process-tree memory.

All scratch space (Spark local dirs, the warehouse, Java and Python temp
files) is pointed inside the benchmark's work directory, so a run reads
and writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import threading
import time


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# The session's default is a 32g heap for a 32-core host; 2 GB fits any
# host with 4 GB or more. The heap is reserved at its full size (-Xms) but
# not touched, so a page becomes resident only once the program uses it
# and the persisted frames and execution memory show in RSS. Left to grow
# from its default start, G1's resizing made 40k-turn ingest runs take
# 3.9-6.9 s instead of 3.0-4.2 s and moved peak RSS between 1.7 and 2.4 GB
# on identical runs (4 vCPUs).
DRIVER_HEAP = "2g"


def confine_scratch(work: str) -> None:
    """Route every temp-file writer this process starts into work/tmp."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher and driver JVMs: temp files inside work, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def session_conf(work: str, event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            }
        )
    return conf


def start_session(work: str, event_log_dir: str | None = None):
    from otel_kafka_pg_spark.session import get_spark

    spark = get_spark("perfbench", cpus=host_cpus(), extra_conf=session_conf(work, event_log_dir))
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of root and all its descendants, each shared page
    counted once (the sum of PSS). Plain RSS double counts: a child the JVM
    forks before exec briefly reports the whole JVM's RSS as its own."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS on a thread while active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
