#!/usr/bin/env python3
"""Where a reference micro-batch's time goes.

    python3 tools/batch_anatomy.py [--seconds 20] [--seed 3] [--partitions N]
                                   [--conf key=value ...] [--drain ORDERS]
                                   [--sample-driver]

Runs the benchmark's open-loop reference topology
(``perfbench.stream.rate_topology``: orders 100/s, rates 1/s, default
trigger) in its own ``build_spark(master=local[nproc])`` session with an
uncompressed Spark event log, closes the stream once ``--seconds`` of
micro-batches have committed after batch 2, and reads the event log back.

Prints one JSON line per steady micro-batch (batch 2 up to the one that
consumed the last order):

- ``trigger_ms`` and the ``durationMs`` phases Spark reports;
- ``job_ms``: wall time inside the batch's Spark jobs;
- ``driver_gap_ms``: the trigger's time outside any job (planning, offset
  and commit logs, the Python source and sink runners on the driver);
- ``stages``: per stage (``source`` or ``join_sink``), its task count,
  wall time and summed task time;
- ``state_commit_ms``: the join's ``commitTimeMs``, summed over its tasks.

The last line is a summary: p50 of each of those, event-to-emit latency
p50/p99 of the same batches' orders (as ``perfbench`` measures it), the
orders checked against DuckDB and the wrong ones, and, with ``--drain``,
orders/s through a pre-published backlog on the warm session.
``--partitions`` sets the shuffle partition count; ``--conf`` adds
session conf (e.g. the checkpoint file manager class).

``broadcasts_per_batch`` in the summary counts the driver's broadcasts
per micro-batch from the end of batch 1 to the stream's stop, from the
broadcast ids of two one-byte probes (``broadcast_id``): one taken at
the first poll that sees batch 1's progress, one after the stream
stopped.  Each plan copy of the stream-stream join broadcasts the
session's Hadoop conf, so this sizes how many copies a batch makes (a
batch that starts before the first probe lands is counted in part).

``--sample-driver`` also ``jstack``s the tool's own driver JVM every
``SAMPLE_PERIOD_S`` while the stream runs and adds ``driver_samples`` to
the summary: how many samples of the stream execution thread fell in the
steady batches, and the share of them in each of ``STACK_SHARES`` (first
match wins) or ``other``.  Each ``jstack`` pauses the JVM briefly, so
the latencies of a sampled run read a little high.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _event_lines(evlog: str):
    """The lines of the one application's uncompressed event log under
    ``evlog``, in order (Spark 4 writes a rolling log: a directory of
    ``events_<n>_<app>`` files)."""
    (app,) = glob.glob(os.path.join(evlog, "*"))
    files = [app]
    if os.path.isdir(app):
        files = sorted(glob.glob(os.path.join(app, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path) as f:
            yield from f


def read_event_log(evlog: str) -> tuple[dict, dict]:
    """(jobs, stages) from the uncompressed event log under ``evlog``.  A
    job carries its micro-batch id (the ``streaming.sql.batchId`` job
    property), wall span and stage ids; a stage its name, task count, wall
    span and summed task time (launch to finish)."""
    jobs, stages = {}, {}
    for line in _event_lines(evlog):
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            batch = (e.get("Properties") or {}).get("streaming.sql.batchId")
            jobs[e["Job ID"]] = {
                "batch": None if batch is None else int(batch),
                "start": e["Submission Time"],
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            s = stages.setdefault(e["Stage ID"], {"task_ms": 0, "tasks": 0})
            s["task_ms"] += info["Finish Time"] - info["Launch Time"]
            s["tasks"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stages.setdefault(info["Stage ID"], {"task_ms": 0, "tasks": 0})
            # the reference plan: one-task source stages (read, parse,
            # shuffle write) feed the join stage (state stores, sink write)
            s["name"] = "join_sink" if info.get("Parent IDs") else "source"
            s["wall_ms"] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
    return jobs, stages


#: seconds between two ``jstack`` samples of the driver (one takes ~0.2 s)
SAMPLE_PERIOD_S = 0.25
#: stream-thread sample classes and the frames that mark them, checked in
#: this order: the Hadoop-conf broadcast a ``StreamingSymmetricHashJoinExec``
#: makes in its constructor (on every plan copy, so also while planning),
#: the Python sink's writer-factory and commit runners, Spark jobs, and
#: the rest of planning
STACK_SHARES = (
    ("join_conf_broadcast", ("StreamingSymmetricHashJoinExec.<init>",)),
    ("sink_writer_factory_runner", ("UserDefinedPythonDataSourceWriteRunner",)),
    ("sink_commit_runner", ("PythonStreamingSinkCommitRunner",)),
    ("jobs", ("DAGScheduler.runJob",)),
    ("planning", ("IncrementalExecution", "QueryPlanner.plan", "RuleExecutor.execute",
                  "EnsureRequirements")),
)


def stream_thread_stack(dump: str) -> str | None:
    """The frames of the stream execution thread in a ``jstack`` dump."""
    for block in dump.split("\n\n"):
        if block.startswith('"stream execution thread for'):
            return block
    return None


def classify(stack: str) -> str:
    for name, marks in STACK_SHARES:
        if any(m in stack for m in marks):
            return name
    return "other"


class DriverSampler:
    """Samples the stream execution thread of JVM ``pid`` with ``jstack``
    on a background thread until ``stop()``; ``samples`` holds
    ``(wall time, stack)`` pairs."""

    def __init__(self, pid: int):
        self.pid, self.samples = pid, []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            t = time.time()
            dump = subprocess.run(
                ["jstack", str(self.pid)], capture_output=True, text=True, timeout=60
            ).stdout
            stack = stream_thread_stack(dump)
            if stack is not None:
                self.samples.append((t, stack))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=90)

    def shares(self, start: float, end: float) -> dict:
        """Sample count and per-class shares over ``[start, end]``."""
        kinds = [classify(s) for t, s in self.samples if start <= t <= end]
        names = [n for n, _ in STACK_SHARES] + ["other"]
        return {
            "samples": len(kinds),
            "shares": {n: round(kinds.count(n) / max(len(kinds), 1), 3) for n in names},
        }


def broadcast_id(jsc) -> int:
    """The id of a new one-byte broadcast: every broadcast the driver
    makes (a plan node's Hadoop conf, a task binary) takes the next id, so
    the difference of two such ids, less one, counts the broadcasts made
    between them."""
    b = jsc.broadcast(bytearray(1))
    b.destroy()
    return b.id()


def anatomy(progress: list[dict], jobs: dict, stages: dict, first: int, last: int) -> list[dict]:
    """One record per micro-batch ``first`` .. ``last``."""
    out = []
    for p in progress:
        b = p["batchId"]
        if not first <= b <= last:
            continue
        mine = [j for j in jobs.values() if j["batch"] == b and "end" in j]
        job_ms = sum(j["end"] - j["start"] for j in mine)
        dur = p["durationMs"]
        ops = p["stateOperators"] or [{}]
        out.append({
            "batch": b,
            "input_rows": p["numInputRows"],
            "trigger_ms": dur.get("triggerExecution", 0),
            "phases_ms": {k: v for k, v in dur.items() if k != "triggerExecution"},
            "job_ms": job_ms,
            "driver_gap_ms": dur.get("triggerExecution", 0) - job_ms,
            "stages": [
                {"name": stages[s].get("name", "?"), "tasks": stages[s]["tasks"],
                 "wall_ms": stages[s].get("wall_ms", 0), "task_ms": stages[s]["task_ms"]}
                for j in mine for s in j["stages"] if s in stages
            ],
            "state_commit_ms": ops[0].get("commitTimeMs", 0),
        })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    ap.add_argument("--drain", type=int, default=0, metavar="ORDERS")
    ap.add_argument("--sample-driver", action="store_true")
    args = ap.parse_args(argv)

    # Python workers import the engine package and perfbench.paced by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from perfbench import paced, stream
    from perfbench.common import median, pct

    work = tempfile.mkdtemp(prefix="batch_anatomy-")
    evlog = os.path.join(work, "eventlog")
    os.makedirs(evlog)
    conf = dict(kv.split("=", 1) for kv in args.conf)
    conf.update({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evlog,
        "spark.eventLog.compress": "false",
    })
    spark = build_spark(
        app_name="batch_anatomy",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=args.partitions,
        extra_conf=conf,
    )
    sampler = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        paced.register(spark)
        if args.sample_driver:
            sampler = DriverSampler(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        settings = {
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "checkpoint_manager": spark.conf.get(
                "spark.sql.streaming.checkpointFileManagerClass", None
            ),
        }
        topo, t0 = stream.rate_topology(spark, work, "rate", args.seed)
        jsc, probes = spark.sparkContext._jsc, []

        def on_poll():
            if not probes and any(p["batchId"] >= 1 for p in topo.progress):
                probes.append((broadcast_id(jsc), max(p["batchId"] for p in topo.progress)))
            commits = topo.commits()
            if topo.orders["records_per_shard"] == stream.OPEN_END and 1 in commits and (
                max(commits) >= 2 and commits[max(commits)] - commits[1] >= args.seconds
            ):
                # publish nothing due after now (on the 10 ms order grid)
                topo.close_at(-(-int((time.time() - t0) * 1000) // 10) * 10 + 10)

        topo.finish(on_poll)
        probes.append((broadcast_id(jsc), max(p["batchId"] for p in topo.progress)))
        (id0, b0), (id1, b1) = probes
        commits, ends = topo.commits(), topo.order_ends()
        first, last = 2, topo.last_order_batch()
        lo, hi = ends[first - 1], ends[last]
        latencies = [
            commits[b] - (t0 + stream.order_offset_s(row["orderTime"]))
            for b, row in topo.rows()
            if lo <= row["id"] < hi
        ]
        attempted, failed = stream.check(topo)
        drain_rate = 0.0
        if args.drain:
            d = stream.drain_topology(spark, work, "drain", args.seed, args.drain)
            d.finish()
            dc = d.commits()
            drain_rate = args.drain / (dc[d.last_order_batch()] - dc[min(dc)])
            n, bad = stream.check(d)
            attempted, failed = attempted + n, failed + bad
        progress = topo.progress
    finally:
        if sampler is not None:
            sampler.stop()
        spark.stop()
    jobs, stages = read_event_log(evlog)
    batches = anatomy(progress, jobs, stages, first, last)
    shutil.rmtree(work, ignore_errors=True)
    for rec in batches:
        print(json.dumps(rec))
    p50 = lambda key: median([b[key] for b in batches])  # noqa: E731
    stage_task_ms: dict[str, list] = {}
    for b in batches:
        per_kind: dict[str, int] = {}
        for s in b["stages"]:
            per_kind[s["name"]] = per_kind.get(s["name"], 0) + s["task_ms"]
        for k, v in per_kind.items():
            stage_task_ms.setdefault(k, []).append(v)
    driver = {"driver_samples": sampler.shares(commits[first - 1], commits[last])} if sampler else {}
    print(json.dumps({
        "summary": True,
        **settings,
        "batches": [first, last],
        "orders_per_batch_p50": p50("input_rows"),
        "trigger_ms_p50": p50("trigger_ms"),
        "job_ms_p50": p50("job_ms"),
        "driver_gap_ms_p50": p50("driver_gap_ms"),
        "state_commit_ms_p50": p50("state_commit_ms"),
        "broadcasts_per_batch": round((id1 - id0 - 1) / max(b1 - b0, 1), 1),
        "stage_task_ms_p50": {k: median(v) for k, v in stage_task_ms.items()},
        "emit_latency_p50_s": round(median(latencies), 3),
        "emit_latency_p99_s": round(pct(latencies, 99), 3),
        "drain_rec_per_s": round(drain_rate, 1),
        **driver,
        "attempted": attempted,
        "failed": failed,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
