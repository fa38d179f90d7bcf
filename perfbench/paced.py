"""Benchmark-only ``kinesis_sim`` variants: an open-loop reader and a
commit-stamped sink.

Both subclass the engine's public connector and change only what the
benchmark needs, so the records, offsets and sink files are the engine's
own.  They are registered under their own format names so the engine's
``kinesis_sim`` stays untouched.

- ``perfbench_kinesis`` (reader): record ``seq`` of ``shard`` becomes
  readable at wall time ``t0 + (seq * interval_ms + shard) / 1000`` -- the
  same offset the connector stamps into the record's event time, so a
  row's due time is recoverable from its ``orderTime``.  ``t0=0`` makes
  the whole stream due at once (a pre-published backlog).
- ``perfbench_kinesis_sink`` (writer): appends ``{"batch", "t"}`` to
  ``<path>/_commits.jsonl`` after each batch commit.

With ``span_dir`` set (traced runs only) both write one JSON line per
call into ``<span_dir>/<kind>-<pid>.jsonl`` while that directory exists,
so the benchmark starts tracing a running query by creating it.  Each
span carries its start time ``t``.  Readers and writers run in Spark's
Python worker processes, so spans go to files, one per process.
"""

from __future__ import annotations

import json
import math
import os
import time

from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
    KinesisSimDataSource,
    KinesisSimStreamReader,
    KinesisSimStreamWriter,
)


def _tracing(span_dir: str | None) -> bool:
    return bool(span_dir) and os.path.isdir(span_dir)


def _span(span_dir: str | None, kind: str, record: dict) -> None:
    if not _tracing(span_dir):
        return
    with open(os.path.join(span_dir, f"{kind}-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


class PacedStreamReader(KinesisSimStreamReader):
    """Caps each shard's read at the records due by wall clock."""

    def __init__(self, options: dict):
        super().__init__(options)
        self.t0 = float(options.get("t0", 0))
        #: per-shard cap of the first micro-batch (a small warm-up batch
        #: ahead of a backlog); later batches use ``batch_records``
        self.first_batch_records = int(options.get("first_batch_records", self.opts.batch_records))
        #: JSON file ``{"end_ms": n}``, written by the benchmark while the
        #: query runs: records at event-time offset >= n ms never appear
        self.control = options.get("control")
        self.span_dir = options.get("span_dir")

    def _end_ms(self) -> int | None:
        if not self.control:
            return None
        try:
            with open(self.control) as f:
                return int(json.load(f)["end_ms"])
        except FileNotFoundError:
            return None

    def _due(self, shard: int, now: float, end_ms: int | None) -> int:
        """Records of ``shard`` published by wall time ``now``."""
        o = self.opts
        n = o.records_per_shard
        if self.t0:
            n = min(n, math.floor(((now - self.t0) * 1000.0 - shard) / o.interval_ms) + 1)
        if end_ms is not None:
            n = min(n, -(-(end_ms - shard) // o.interval_ms))
        return max(0, n)

    def read(self, start: dict):
        o = self.opts
        t_start = time.time()
        end_ms = self._end_ms()
        end, due_total, lag = {}, 0, 0.0
        for sid, cursor in start.items():
            shard, cursor = int(sid.rsplit("-", 1)[1]), int(cursor)
            due = self._due(shard, t_start, end_ms)
            cap = self.first_batch_records if cursor == o.start_seq(shard) else o.batch_records
            end[sid] = max(cursor, min(cursor + cap, due))
            due_total += max(0, due - cursor)
            if due > cursor and self.t0:
                # how long the oldest unread record has been waiting
                lag = max(lag, t_start - (self.t0 + (cursor * o.interval_ms + shard) / 1000.0))
        records = self._generate(start, end)
        _span(
            self.span_dir,
            "read",
            {
                "template": o.template,
                "t": t_start,
                "ms": (time.time() - t_start) * 1000.0,
                "records": sum(end[s] - int(start[s]) for s in end),
                "backlog": due_total,
                "lag_s": lag,
            },
        )
        return records, end


class PacedStreamWriter(KinesisSimStreamWriter):
    """Records the wall time at which each micro-batch became visible."""

    def __init__(self, options: dict):
        super().__init__(options)
        self.span_dir = options.get("span_dir")

    def write(self, iterator):
        if not _tracing(self.span_dir):
            return super().write(iterator)
        # rows are pulled through the whole upstream stage; time spent
        # waiting for them is not the sink's
        upstream = [0.0]

        def pulled(it):
            while True:
                t = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    upstream[0] += time.perf_counter() - t
                    return
                upstream[0] += time.perf_counter() - t
                yield row

        t_wall, t_start = time.time(), time.perf_counter()
        msg = super().write(pulled(iter(iterator)))
        _span(
            self.span_dir,
            "write",
            {
                "t": t_wall,
                "ms": (time.perf_counter() - t_start - upstream[0]) * 1000.0,
                "rows": sum(n for _s, _p, n, _e in msg.files),
                "empty": sum(e for _s, _p, _n, e in msg.files),
            },
        )
        return msg

    def commit(self, messages, batchId: int) -> None:
        t_start = time.time()
        super().commit(messages, batchId)
        t_end = time.time()
        with open(os.path.join(self.path, "_commits.jsonl"), "a") as f:
            f.write(json.dumps({"batch": batchId, "t": t_end}) + "\n")
        _span(self.span_dir, "commit", {"t": t_start, "ms": (t_end - t_start) * 1000.0})


class PacedSource(KinesisSimDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_kinesis"

    def simpleStreamReader(self, schema) -> PacedStreamReader:
        return PacedStreamReader(self.options)


class StampedSink(KinesisSimDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_kinesis_sink"

    def streamWriter(self, schema, overwrite: bool) -> PacedStreamWriter:
        return PacedStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(PacedSource)
    spark.dataSource.register(StampedSink)
