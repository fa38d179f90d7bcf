"""Salted aggregation correctness + streaming metrics listener + late-data
watermark semantics (SURVEY.md §7 hard parts)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.skew import salted_agg
from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table
from amazon_kinesis_data_analytics_flinktableapi_spark.streaming import metrics
from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import (
    dump_json_chunks,
    run_to_memory,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import file_replay
from tests.conftest import SF_SMOKE


def test_salted_agg_equals_plain_agg(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type): (r.total, r.n)
        for r in ev.groupBy("event_type")
        .agg(F.round(F.sum("value"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r.event_type): (r.total, r.n)
        for r in salted_agg(
            ev,
            ["event_type"],
            partial_aggs=[F.sum("value").alias("s"), F.count(F.lit(1)).alias("c")],
            merge_aggs=[F.round(F.sum("s"), 2).alias("total"), F.sum("c").alias("n")],
        ).collect()
    }
    assert salted == plain


def test_metrics_listener_observes_batches(spark, tmp_path):
    ev = read_table(spark, SF_SMOKE, "events").select("event_id", "ts", "event_type", "value")
    dump_json_chunks(ev, str(tmp_path / "m"), n_chunks=3, order_col="ts")
    listener = metrics.attach(spark)
    try:
        stream = file_replay(spark, str(tmp_path / "m"),
                             "event_id long, ts timestamp, event_type string, value double",
                             max_files_per_trigger=1)
        agg = stream.withWatermark("ts", "0 seconds").groupBy(
            F.window("ts", "1 hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
        run_to_memory(agg, spark)
        time.sleep(2)  # listener events are async
        c = listener.collector
        assert c.total_input_rows() == ev.count()
        assert len(c.batches) >= 3
        assert c.max_state_rows() > 0
        assert any(b.watermark is not None for b in c.batches)
    finally:
        spark.streams.removeListener(listener)


def test_interval_join_state_bounded_by_watermark(spark, tmp_path):
    """Q4's bounded-state contract: the stream-stream join must EVICT rate
    state as the watermark passes the interval bound — state rows stay far
    below total input across a multi-batch replay."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import replay_stream

    ev = read_table(spark, SF_SMOKE, "events")
    orders = ev.select(
        F.col("event_id").cast("int").alias("id"), F.col("ts").alias("orderTime"),
        F.lit(1).alias("amount"), F.col("event_type").alias("currency"),
    )
    rates = ev.select(
        F.col("ts").alias("exchangeRateTime"), F.col("event_type").alias("currency"),
        F.lit(2).alias("rate"),
    )
    listener = metrics.attach(spark)
    try:
        os_ = replay_stream(spark, orders, ORDER_SCHEMA, str(tmp_path / "so"),
                            n_chunks=5, order_col="orderTime", max_files_per_trigger=1)
        rs = replay_stream(spark, rates, EXCHANGE_RATE_SCHEMA, str(tmp_path / "sr"),
                           n_chunks=5, order_col="exchangeRateTime", max_files_per_trigger=1)
        joined = build_reference_query(spark, os_, rs, interval="30 minutes")
        run_to_memory(joined, spark, timeout_sec=240)
        time.sleep(2)
        c = listener.collector
        n_total = ev.count() * 2  # both sides
        peak = c.max_state_rows()
        assert peak > 0
        # a 30-minute bound over a 30-day stream in 5 chunks: retained state
        # must be a small fraction of everything ever ingested
        assert peak < n_total * 0.6, f"join state not evicted: peak {peak} of {n_total}"
    finally:
        spark.streams.removeListener(listener)


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """§7 watermark semantics: a row older than the advanced watermark is
    dropped from a streaming aggregation (documented divergence from
    Flink's per-subtask max−1ms extractor is about *when*, not *whether*)."""
    out = run_to_memory(_late_row_aggregation(spark, tmp_path), spark)
    counts = {(r["window"]["start"].hour): r["n"] for r in (row.asDict(True) for row in out.collect())}
    assert counts.get(10) == 1, f"late row must be dropped, got {counts}"


def test_listener_counts_watermark_drops_and_state_stores(spark, tmp_path):
    """The listener reports the state layer: the one planted late row shows
    up in the drop counter, and every batch opens one store per shuffle
    partition (the session's 4) for the aggregation's single store kind."""
    listener = metrics.attach(spark)
    try:
        run_to_memory(_late_row_aggregation(spark, tmp_path), spark)
        deadline = time.time() + 30  # listener events are async
        while len(listener.collector.batches) < 3 and time.time() < deadline:
            time.sleep(0.2)
        batches = listener.collector.batches
        assert sum(b.rows_dropped_by_watermark for b in batches) == 1
        assert {b.state_store_instances for b in batches} == {4}
    finally:
        spark.streams.removeListener(listener)


def test_listener_reports_batch_phases(spark, tmp_path):
    """Each batch carries its ``durationMs`` phases: trigger, the offset
    reads, planning, ``addBatch``, the offset log write and the commit
    log write, the last five nested in the first; and its state memory
    and update and removal times, each summed over the state operators."""
    listener = metrics.attach(spark)
    try:
        q = _late_row_aggregation(spark, tmp_path).writeStream.format("noop").option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ).trigger(availableNow=True).start()
        assert q.awaitTermination(120)
        progress = {p["batchId"]: p for p in q.recentProgress}
        deadline = time.time() + 30  # listener events are async
        while len(listener.collector.batches) < len(progress) and time.time() < deadline:
            time.sleep(0.2)
        batches = listener.collector.batches
        assert len(batches) == len(progress) >= 3
        for b in batches:
            d, ops = progress[b.batch_id]["durationMs"], progress[b.batch_id]["stateOperators"]
            phases = (b.latest_offset_ms, b.query_planning_ms, b.add_batch_ms,
                      b.wal_commit_ms, b.commit_offsets_ms)
            assert (b.trigger_ms, *phases) == (
                d["triggerExecution"], d["latestOffset"], d["queryPlanning"], d["addBatch"],
                d["walCommit"], d["commitOffsets"]
            )
            assert b.add_batch_ms > 0
            assert b.trigger_ms >= sum(phases)
            assert len(ops) == 1  # the hourly count's one state store operator
            assert (b.state_memory_bytes, b.state_update_ms, b.state_removal_ms) == (
                ops[0]["memoryUsedBytes"], ops[0]["allUpdatesTimeMs"], ops[0]["allRemovalsTimeMs"]
            )
            assert b.state_memory_bytes > 0
    finally:
        spark.streams.removeListener(listener)


def _late_row_aggregation(spark, tmp_path):
    """A watermarked hourly count over three one-file micro-batches whose
    last row (10:30) arrives after the watermark has passed 12:00."""
    import os

    d = tmp_path / "late"
    d.mkdir()
    chunks = [
        # batch 0: advances watermark to 12:00 after completion
        '{"id": 1, "ts": "2024-01-01T10:00:00.000000Z", "k": "a"}\n'
        '{"id": 2, "ts": "2024-01-01T12:00:00.000000Z", "k": "a"}',
        # batch 1: closes the 10:00 window (emitted with n=1), wm → 13:00
        '{"id": 9, "ts": "2024-01-01T13:00:00.000000Z", "k": "a"}',
        # batch 2: 10:30 row is below the committed watermark → dropped.
        # (Had it arrived in the very batch where its window closes, it
        # would still merge — watermarks commit between batches, the same
        # "when not whether" nuance as the Flink ascending extractor.)
        '{"id": 3, "ts": "2024-01-01T10:30:00.000000Z", "k": "a"}',
    ]
    for i, content in enumerate(chunks):
        p = d / f"chunk-{i}.json"
        p.write_text(content)
        os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stream = file_replay(spark, str(d), "id long, ts timestamp, k string", max_files_per_trigger=1)
    return stream.withWatermark("ts", "0 seconds").groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )


def test_salted_join_equals_plain_join(spark):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.skew import salted_join

    ev = read_table(spark, SF_SMOKE, "events")  # event_type is the 5-value skewed key
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 10)],  # deliberately missing types
        "event_type string, w int",
    )
    plain_inner = sorted(
        (r.event_id, r.w) for r in ev.join(dim, "event_type").select("event_id", "w").collect()
    )
    salted_inner = sorted(
        (r.event_id, r.w)
        for r in salted_join(ev, dim, "event_type", n_salts=8).select("event_id", "w").collect()
    )
    assert salted_inner == plain_inner

    plain_left = sorted(
        (r.event_id, r.w)
        for r in ev.join(dim, "event_type", "left").select("event_id", "w").collect()
    )
    salted_left = sorted(
        (r.event_id, r.w)
        for r in salted_join(ev, dim, "event_type", n_salts=8, how="left")
        .select("event_id", "w")
        .collect()
    )
    assert salted_left == plain_left


def test_salted_join_rejects_outer_preserving_small_side(spark):
    """Review fix: right/full outer through the salted join would emit
    n_salts copies of every unmatched small row — rejected loudly."""
    import pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.skew import salted_join

    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner/left"):
            salted_join(big, small, "k", how=how)
