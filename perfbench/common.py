"""Shared helpers: percentiles, /proc memory, the run record, the session."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sequence."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def loadavg() -> float:
    return os.getloadavg()[0]


class RssPeak:
    """Peak resident memory of this process tree (driver JVM + Python
    workers), read from ``/proc``.

    A sample sums ``VmRSS`` over the tree at one instant; the peak is the
    largest sum seen while the workload runs.  Python workers forked from
    one daemon share pages, which the sum counts once per worker.
    (``Pss`` would split them, but reading it walks the JVM's page tables
    under its memory-map lock and slows the run being measured.)"""

    #: seconds between samples; a sample walks /proc
    MIN_INTERVAL_S = 0.5

    def __init__(self):
        self.pids: set[int] = set()
        self.peak_kb = 0
        self.last = 0.0

    def _tree(self) -> list[int]:
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
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self, force: bool = False) -> None:
        if not force and time.time() - self.last < self.MIN_INTERVAL_S:
            return
        self.last = time.time()
        total = 0
        for pid in self._tree():
            self.pids.add(pid)
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def total_mb(self) -> float:
        return self.peak_kb / 1024.0


def build_session(master: str):
    """The engine's own session at its defaults (no ``SPARK_GRAFT_*``
    variable is set; see run.py)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark

    spark = build_spark(master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, rss: RssPeak) -> None:
    """Stop Spark, its gateway JVM and the Python workers under it, and
    wait until each process has ended."""
    from pyspark import SparkContext

    rss.sample(force=True)
    spawned = rss.pids - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in spawned):
        for p in spawned:
            try:  # reap our own children; others are reaped by init
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def run_record(spark, extra: dict) -> dict:
    """Settings that shape the numbers, so an engine default that changes
    shows up as a program change rather than a benchmark change."""
    conf = spark.conf
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "state_store_provider": conf.get(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        ),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        **extra,
    }
