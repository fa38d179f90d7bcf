"""Streaming observability (SURVEY.md §7 phase 5): per-batch throughput,
phase durations, state size and store cost, watermark and late-row drops via
StreamingQueryListener — the engine-side replacement for the metrics the
reference delegated to the Kinesis Data Analytics console.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetrics:
    batch_id: int
    input_rows: int
    rows_per_second: float
    state_rows: int
    watermark: str | None
    #: the state layer, each summed over ``stateOperators``: stores opened
    #: and committed this batch (one per shuffle partition per store kind
    #: of each operator), time spent committing them, input rows discarded
    #: as later than the watermark, memory the stores hold, and time spent
    #: writing rows into state and evicting rows from it
    state_store_instances: int
    state_commit_ms: int
    rows_dropped_by_watermark: int
    state_memory_bytes: int
    state_update_ms: int
    state_removal_ms: int
    #: the micro-batch's phases, from ``durationMs``: the whole trigger,
    #: the sources' offset reads (``latestOffset``), planning, the sink
    #: write (``addBatch``, which runs the batch's jobs), the offset log
    #: write (``walCommit``) and the commit log write with the sources'
    #: commits (``commitOffsets``); 0 when not reported
    trigger_ms: int
    latest_offset_ms: int
    query_planning_ms: int
    add_batch_ms: int
    wal_commit_ms: int
    commit_offsets_ms: int


@dataclass
class MetricsCollector:
    """Accumulates per-batch metrics for all queries on a session."""

    batches: list[BatchMetrics] = field(default_factory=list)

    def total_input_rows(self) -> int:
        return sum(b.input_rows for b in self.batches)

    def mean_rows_per_second(self) -> float:
        rates = [b.rows_per_second for b in self.batches if b.rows_per_second > 0]
        return sum(rates) / len(rates) if rates else 0.0

    def max_state_rows(self) -> int:
        return max((b.state_rows for b in self.batches), default=0)


class EngineQueryListener(StreamingQueryListener):
    """Attach with ``spark.streams.addListener``; read ``collector``."""

    def __init__(self) -> None:
        self.collector = MetricsCollector()
        self._index: dict[tuple, int] = {}  # (runId, batchId) → batches idx

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        watermark = p.eventTime.get("watermark") if p.eventTime else None
        phase = (p.durationMs or {}).get
        m = BatchMetrics(
            batch_id=p.batchId,
            input_rows=p.numInputRows,
            rows_per_second=p.processedRowsPerSecond or 0.0,
            state_rows=sum(op.numRowsTotal for op in ops),
            watermark=watermark,
            state_store_instances=sum(op.numStateStoreInstances for op in ops),
            state_commit_ms=sum(op.commitTimeMs for op in ops),
            rows_dropped_by_watermark=sum(op.numRowsDroppedByWatermark for op in ops),
            state_memory_bytes=sum(op.memoryUsedBytes for op in ops),
            state_update_ms=sum(op.allUpdatesTimeMs for op in ops),
            state_removal_ms=sum(op.allRemovalsTimeMs for op in ops),
            trigger_ms=phase("triggerExecution", 0),
            latest_offset_ms=phase("latestOffset", 0),
            query_planning_ms=phase("queryPlanning", 0),
            add_batch_ms=phase("addBatch", 0),
            wal_commit_ms=phase("walCommit", 0),
            commit_offsets_ms=phase("commitOffsets", 0),
        )
        # an idle query RE-REPORTS its last batch every
        # noDataProgressEventInterval; appending each re-report would count
        # phantom batches in every per-batch series, so the same (runId,
        # batchId) updates its row in place (keeping the freshest
        # watermark) instead of appending
        key = (str(p.runId), p.batchId)
        if key in self._index:
            self.collector.batches[self._index[key]] = m
        else:
            self._index[key] = len(self.collector.batches)
            self.collector.batches.append(m)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def attach(spark: SparkSession) -> EngineQueryListener:
    listener = EngineQueryListener()
    spark.streams.addListener(listener)
    return listener
