"""The workloads.  Each returns the end-to-end metrics, the per-layer
metrics (traced runs), the correctness counts and the run record.

End-to-end metrics share one definition across workloads: a workload
produces results, each due at some wall time and complete at another.

- ``setup_s``: process start until the engine is warm -- session built,
  source and UDF registered, the cold first micro-batch committed
  (streaming) or the correctness pass and one noop pass over every
  query done (batch).
- ``emit_latency_p50_s`` / ``_p99_s``: completion minus due time per
  result.  reference_rate: per output row of a measured order; due when
  the order became readable, complete when the sink committed the row's
  micro-batch.  registry_batch: per timed pass over every query, the
  sum of each query's time from ``spec.fn`` to the end of its
  full-result action; p99 is the slowest pass.
"""

from __future__ import annotations

import glob
import json
import os
import time

from perfbench import batch, paced, stream
from perfbench.common import (
    RssPeak,
    build_session,
    loadavg,
    median,
    nproc,
    pct,
    run_record,
    stop_session,
)

LAYER_UNITS = {
    "engine.session_s": "s",
    "engine.warmup_s": "s",
    "memory.peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.rows_per_batch.p50": "rows",
    "streaming.trigger_ms.p50": "ms",
    "streaming.query_planning_ms.p50": "ms",
    "streaming.latest_offset_ms.p50": "ms",
    "streaming.add_batch_ms.p50": "ms",
    "streaming.wal_commit_ms.p50": "ms",
    "streaming.commit_offsets_ms.p50": "ms",
    "interval_join.state_rows.max": "rows",
    "interval_join.state_memory_bytes.max": "bytes",
    "interval_join.state_store_instances": "count",
    "interval_join.state_commit_ms.p50": "ms",
    "interval_join.state_update_ms.p50": "ms",
    "interval_join.state_removal_ms.p50": "ms",
    "interval_join.rows_dropped_by_watermark": "rows",
    "kinesis_sim.read_calls": "count",
    "kinesis_sim.read_ms.total": "ms",
    "kinesis_sim.records_read": "count",
    "kinesis_sim.backlog_records.max": "count",
    "kinesis_sim.read_lag_s.max": "s",
    "kinesis_sim_sink.write_ms.total": "ms",
    "kinesis_sim_sink.rows_written": "rows",
    "kinesis_sim_sink.commit_ms.p50": "ms",
    "kinesis_sim_sink.empty_payloads": "count",
    "timestamp_to_string.python_rows": "rows",
    "timestamp_to_string.python_bytes": "bytes",
    "queries.result_s.total": "s",
    "queries.spill_bytes.total": "bytes",
    "queries.peak_memory_bytes.max": "bytes",
    "drain.rec_per_s": "rec/s",
    "baseline.local1_drain_rec_per_s": "rec/s",
    "drift.first_over_last": "ratio",
    "trace.overhead_frac": "ratio",
    **{
        f"queries.{q}.{m}": u
        for q in batch.QUERIES
        for m, u in (
            ("build_s", "s"),
            ("exec_s", "s"),
            ("jobs", "count"),
            ("shuffle_bytes", "bytes"),
            ("python_rows", "rows"),
        )
    },
}

#: orders drained after the open loop in the traced run, on the warm
#: session and on local[1]
DRAIN_ORDERS = 20_000
LOCAL1_DRAIN_ORDERS = 5_000
#: a run must end within this many seconds of process start; a traced
#: run skips a drain (reporting 0) that would not fit, as on a slow host
RUN_LIMIT_S = 160.0
#: wall time of each drain on a 4-core host: mostly the fixed cost of its
#: three micro-batches (cold first batch, the backlog, the final flush)
DRAIN_BUDGET_S = {"drain": 35.0, "drain_local1": 40.0}
#: timed registry passes per run, at least; their median and maximum are
#: the end-to-end metrics
MIN_PASSES = 2


def _layers(values: dict) -> dict:
    """Every per-layer metric, 0 where the workload does not run the layer."""
    return {k: (float(values.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}


def _drift(durations: list[float]) -> float:
    """First measured unit's duration over the last one's (1.0 = flat)."""
    return durations[0] / durations[-1] if len(durations) > 1 and durations[-1] else 1.0


# -- streaming ---------------------------------------------------------------


class StreamTracer:
    """Per-layer numbers of one streaming query, read from outside: Spark's
    progress reports, the executed plan of each micro-batch, and the span
    files the paced source and sink write once ``span_dir`` exists (see
    paced.py).  Nothing is traced before :meth:`start`."""

    def __init__(self, topo: stream.Topology, span_dir: str):
        self.topo, self.span_dir = topo, span_dir
        self.plans: dict[int, object] = {}
        self.on = False

    def start(self) -> None:
        os.makedirs(self.span_dir)
        self.on = True

    def poll(self) -> None:
        if not self.on:
            return
        execution = self.topo.query._jsq.streamingQuery().lastExecution()
        if execution is not None:
            self.plans.setdefault(execution.currentBatchId(), execution.executedPlan())

    def _spans(self, kind: str, lo: float, hi: float) -> list[dict]:
        out = []
        for path in glob.glob(os.path.join(self.span_dir, f"{kind}-*.jsonl")):
            with open(path) as f:
                out.extend(s for s in map(json.loads, f) if lo < s["t"] <= hi)
        return out

    def layers(self, first: int, last: int) -> dict:
        """Per-layer metrics of micro-batches ``first`` .. ``last``."""
        prog = [p for p in self.topo.progress if first <= p["batchId"] <= last]
        dur = lambda key: median([p["durationMs"].get(key, 0) for p in prog])  # noqa: E731
        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        # spans that started after the batch before ``first`` committed
        commits = self.topo.commits()
        window = (commits[first - 1], commits[last])
        reads, writes = self._spans("read", *window), self._spans("write", *window)
        sink_commits = self._spans("commit", *window)
        udf = {"python_rows": 0.0, "python_bytes": 0.0}
        for batch_id, plan in self.plans.items():
            if first <= batch_id <= last:
                m = batch.plan_metrics(plan)
                udf["python_rows"] += m["python_rows"]
                udf["python_bytes"] += m["python_bytes"]
        return {
            "streaming.batches": len(self.topo.progress),
            "streaming.rows_per_batch.p50": median([p["numInputRows"] for p in prog]),
            "streaming.trigger_ms.p50": dur("triggerExecution"),
            "streaming.query_planning_ms.p50": dur("queryPlanning"),
            "streaming.latest_offset_ms.p50": dur("latestOffset"),
            "streaming.add_batch_ms.p50": dur("addBatch"),
            "streaming.wal_commit_ms.p50": dur("walCommit"),
            "streaming.commit_offsets_ms.p50": dur("commitOffsets"),
            "interval_join.state_rows.max": max(s["numRowsTotal"] for s in state),
            "interval_join.state_memory_bytes.max": max(s["memoryUsedBytes"] for s in state),
            "interval_join.state_store_instances": state[-1].get("numStateStoreInstances", 0),
            "interval_join.state_commit_ms.p50": median([s["commitTimeMs"] for s in state]),
            "interval_join.state_update_ms.p50": median([s["allUpdatesTimeMs"] for s in state]),
            "interval_join.state_removal_ms.p50": median([s["allRemovalsTimeMs"] for s in state]),
            "interval_join.rows_dropped_by_watermark": sum(s["numRowsDroppedByWatermark"] for s in state),
            "kinesis_sim.read_calls": len(reads),
            "kinesis_sim.read_ms.total": sum(r["ms"] for r in reads),
            "kinesis_sim.records_read": sum(r["records"] for r in reads),
            "kinesis_sim.backlog_records.max": max((r["backlog"] for r in reads), default=0),
            "kinesis_sim.read_lag_s.max": max((r["lag_s"] for r in reads), default=0),
            "kinesis_sim_sink.write_ms.total": sum(w["ms"] for w in writes),
            "kinesis_sim_sink.rows_written": sum(w["rows"] for w in writes),
            "kinesis_sim_sink.commit_ms.p50": median([c["ms"] for c in sink_commits]),
            "kinesis_sim_sink.empty_payloads": sum(w["empty"] for w in writes),
            "timestamp_to_string.python_rows": udf["python_rows"],
            "timestamp_to_string.python_bytes": udf["python_bytes"],
        }


def reference_rate(args, work, t_process):
    """Open loop at the paper's rates.

    Results are measured in windows of whole micro-batches: a window's
    measured orders are those its batches consume.  Its first orders fall
    due after the commit two batches before its first; it closes once the
    latest commit is ``--seconds`` past that one (the batch then running
    is its last).  Whole batches, because an order's latency depends on
    where its due time falls within the batch that consumes it.  The
    first window opens at
    batch 2: micro-batch 0 pays the cold start (set-up) and batch 1
    catches up on the orders that fell due meanwhile.  Batch 2's orders
    fell due while batch 1 ran, so their latencies still carry batch 1's
    length, which runs about a tenth over a steady batch's; opening at
    batch 3 would cost every run one more micro-batch.

    An untraced run measures one window and then ends the stream.  A
    traced run keeps the stream open: once the first window's last batch
    has committed, tracing starts (span files, plan polls), the batch then
    starting is skipped, and a second window opens after it.  Per-layer
    metrics are read over the second window; its median latency against
    the first's is the trace overhead.  The traced run then drains a
    backlog on the warm session and on local[1] (per-row cost and the
    single-thread reference)."""
    load0 = loadavg()
    rss = RssPeak()
    spark = build_session(f"local[{nproc()}]")
    session_s = time.time() - t_process
    try:
        paced.register(spark)
        span_dir = os.path.join(work, "spans") if args.trace else None
        topo, t0 = stream.rate_topology(spark, work, "rate", args.seed, span_dir)
        tracer = StreamTracer(topo, span_dir) if args.trace else None
        n_windows = 2 if args.trace else 1
        #: first measured micro-batch of each window, and (first, last)
        #: of each closed one
        opens, windows = [2], []

        def on_poll():
            rss.sample()
            if tracer:
                tracer.poll()
            commits = topo.commits()
            last = max(commits, default=0)
            if len(windows) == n_windows:
                return
            if len(windows) == len(opens):
                # between windows: wait for the last measured batch, then trace
                if last >= windows[-1][1]:
                    tracer.start()
                    opens.append(last + 2)
                return
            first = opens[-1]
            if last >= first - 1 and commits[last] - commits[first - 2] >= args.seconds:
                windows.append((first, last + 1))
                if len(windows) == n_windows:
                    # publish nothing due after now (on the 10 ms order grid)
                    topo.close_at(-(-int((time.time() - t0) * 1000) // 10) * 10 + 10)

        topo.finish(on_poll)
        commits = topo.commits()
        ends = topo.order_ends()
        rows = topo.rows()
        trigger_ms = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in topo.progress}

        def latencies(first, last):
            lo, hi = ends[first - 1], ends[last]  # order seqs [lo, hi)
            return [
                commits[batch_id] - (t0 + stream.order_offset_s(row["orderTime"]))
                for batch_id, row in rows
                if lo <= row["id"] < hi
            ]

        samples = latencies(*windows[0])
        attempted, failed = stream.check(topo)
        e2e = {
            "setup_s": commits[0] - t_process,
            "emit_latency_p50_s": median(samples),
            "emit_latency_p99_s": pct(samples, 99),
        }
        layers = {
            "engine.session_s": session_s,
            "engine.warmup_s": commits[0] - topo.t_start,
        }
        if tracer:
            layers.update(tracer.layers(*windows[1]))
            layers["trace.overhead_frac"] = median(latencies(*windows[1])) / e2e["emit_latency_p50_s"] - 1.0
            layers["drift.first_over_last"] = _drift(
                [trigger_ms[b] for b in range(windows[0][0], windows[-1][1] + 1)]
            )
        strip = lambda o: {  # noqa: E731
            k: v for k, v in o.items() if k not in ("t0", "span_dir", "control", "batch_records")
        }
        record = run_record(spark, {
            "trigger": "default (next micro-batch as soon as the previous one ends)",
            "orders": strip(topo.orders),
            "rates": strip(topo.rates),
            "measured_batches": windows,
            "batch_ms": trigger_ms,
            "measured_orders": ends[windows[0][1]] - ends[windows[0][0] - 1],
            "loadavg_start": load0,
            "loadavg_end": loadavg(),
        })

        def fits(name):
            return time.time() - t_process + DRAIN_BUDGET_S[name] < RUN_LIMIT_S

        if args.trace and fits("drain"):
            layers["drain.rec_per_s"], n, bad = _drain(spark, work, "drain", args.seed, DRAIN_ORDERS)
            attempted, failed = attempted + n, failed + bad
        if args.trace and fits("drain_local1"):
            spark.stop()
            spark = build_session("local[1]")
            paced.register(spark)
            layers["baseline.local1_drain_rec_per_s"], n, bad = _drain(
                spark, work, "drain_local1", args.seed, LOCAL1_DRAIN_ORDERS
            )
            attempted, failed = attempted + n, failed + bad
    finally:
        stop_session(spark, rss)
    layers["memory.peak_rss_mb"] = rss.total_mb()
    return _result(e2e, layers, attempted, failed, record, {"latency_samples": len(samples)})


def _drain(spark, work, name, seed, n_orders) -> tuple[float, int, int]:
    """Orders per second draining a pre-published backlog, from the commit
    of the small first batch to the commit of the batch that consumed the
    last order (the idle flush after it is excluded); then the orders
    checked and the wrong ones."""
    topo = stream.drain_topology(spark, work, name, seed, n_orders)
    topo.finish()
    commits = topo.commits()
    rate = n_orders / (commits[topo.last_order_batch()] - commits[min(commits)])
    return (rate, *stream.check(topo))


# -- batch -------------------------------------------------------------------


def registry_batch(args, work, t_process):
    """The registered batch queries, each timed to its full result.  The
    correctness pass (collect + DuckDB oracle) and one untimed noop pass
    are the warm-up; then timed passes over every query run until
    ``--seconds`` have passed, at least ``MIN_PASSES`` of them.  A pass's
    total is one result: every query counts in both end-to-end metrics.
    The traced run adds one pass that walks each query's executed plan
    after timing it; its total against the untraced passes' median is the
    trace overhead."""
    load0 = loadavg()
    rss = RssPeak()
    spark = build_session(f"local[{nproc()}]")
    session_s = time.time() - t_process
    try:
        t_check = time.perf_counter()
        verdict, check_s = batch.check(spark, batch.SF_DIR)
        # the oracle's DuckDB time is not set-up of the engine
        duckdb_s = time.perf_counter() - t_check - check_s
        # the first noop pass still runs ~20% slow: warm-up too
        batch.timed_pass(spark, batch.SF_DIR)
        warm_s = time.perf_counter() - t_check - duckdb_s
        setup_s = time.time() - t_process - duckdb_s
        rss.sample()
        per_query = {q: [] for q in batch.QUERIES}
        pass_s = []
        t_timed = time.perf_counter()
        while len(pass_s) < MIN_PASSES or (time.perf_counter() - t_timed < args.seconds and len(pass_s) < 10):
            times = batch.timed_pass(spark, batch.SF_DIR)
            for q, t in times.items():
                per_query[q].append(t)
            pass_s.append(sum(b + e for b, e in times.values()))
            rss.sample()
        traced: dict[str, dict] = {}
        traced_pass_s = None
        if args.trace:

            def hook(name, df, jobs):
                traced[name] = {"jobs": jobs, **batch.plan_metrics(batch.executed_plan(df))}

            times = batch.timed_pass(spark, batch.SF_DIR, spark.sparkContext, hook)
            traced_pass_s = sum(b + e for b, e in times.values())
            rss.sample()
        record = run_record(spark, {
            "query_order": batch.QUERIES,
            "action": "noop write",
            "data": {"testdata_sf": batch.SF, "testdata_seed": 42},
            "pass_s": pass_s,
            "loadavg_start": load0,
            "loadavg_end": loadavg(),
        })
    finally:
        stop_session(spark, rss)
    e2e = {
        "setup_s": setup_s,
        "emit_latency_p50_s": median(pass_s),
        "emit_latency_p99_s": max(pass_s),
    }
    layers = {
        "engine.session_s": session_s,
        "engine.warmup_s": warm_s,
        "memory.peak_rss_mb": rss.total_mb(),
        "queries.result_s.total": sum(median([b + e for b, e in ts]) for ts in per_query.values()),
        "drift.first_over_last": _drift(pass_s),
    }
    if traced_pass_s is not None:
        layers["trace.overhead_frac"] = traced_pass_s / median(pass_s) - 1.0
    for q, ts in per_query.items():
        layers[f"queries.{q}.build_s"] = median([b for b, _ in ts])
        layers[f"queries.{q}.exec_s"] = median([e for _, e in ts])
    for q, m in traced.items():
        layers[f"queries.{q}.jobs"] = m["jobs"]
        layers[f"queries.{q}.shuffle_bytes"] = m["shuffle_bytes"]
        layers[f"queries.{q}.python_rows"] = m["python_rows"]
    if traced:
        layers["queries.spill_bytes.total"] = sum(m["spill_bytes"] for m in traced.values())
        layers["queries.peak_memory_bytes.max"] = max(m["peak_memory_bytes"] for m in traced.values())
    failed = sum(not ok for ok in verdict.values())
    extra = {"batch_result_s": layers["queries.result_s.total"], "timed_passes": len(pass_s)}
    return _result(e2e, layers, len(verdict), failed, record, extra)


def _result(e2e, layers, attempted, failed, record, extra):
    return {
        "e2e": e2e,
        "layers": _layers(layers),
        "attempted": attempted,
        "failed": failed,
        "record": record,
        "extra": extra,
    }


WORKLOADS = {
    "reference_rate": reference_rate,
    "registry_batch": registry_batch,
}
