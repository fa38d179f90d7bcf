"""File-replay test harness: batch table → JSON files → stream → memory
sink, for stream==batch equivalence checks (SURVEY.md §5: the engine's
test strategy, replacing the reference's manual Kinesis Data Generator
loop).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import file_replay


def _staged_json_lines(df: DataFrame, n_chunks: int, order_col: str | None) -> DataFrame:
    """One string column ``value`` (canonical wire JSON), partitioned so
    that output partition index == replay chunk index."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import normalize_timestamps
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import JSON_TS_FORMAT

    # TIMESTAMP_NTZ columns ignore to_json's timestampFormat (no offset,
    # millis only), which the replay reader would parse to NULL — cast to
    # TIMESTAMP before serializing so the wire format is always canonical.
    # Full microsecond precision — the default toJSON format truncates to
    # millis, which would corrupt event times on replay.
    df = normalize_timestamps(df)
    jcol = F.to_json(F.struct(*df.columns), {"timestampFormat": JSON_TS_FORMAT})
    if n_chunks > 1 and order_col is not None:
        # range partitioning on event time ⇒ partition 0 holds the earliest
        # rows, so sorted part files replay in time order (chunk sizes are
        # range-balanced rather than exactly equal — the replay contract
        # only needs cross-chunk time order)
        return (
            df.select(F.col(order_col).alias("__ord"), jcol.alias("value"))
            .repartitionByRange(n_chunks, "__ord")
            .select("value")
        )
    if n_chunks > 1:
        return df.select(jcol.alias("value")).repartition(n_chunks)
    return df.select(jcol.alias("value")).coalesce(1)


def _publish_chunks(staging_df: DataFrame, out_dir: str, first_index: int = 0) -> int:
    """Distributed write of ``staging_df`` (single ``value`` column) into
    ``out_dir`` as ``chunk-{i:05d}.json`` files with monotonically
    increasing mtimes (the file source's listing order).  Executors write
    the data; the driver only renames part files — the fixture writer never
    materializes the table driver-side (the previous ``collect()`` loop was
    linear in table size and sat on the streaming bench path).

    Returns the next free chunk index."""
    import glob
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    staging = os.path.join(out_dir, f".staging-{uuid.uuid4().hex}")
    try:
        staging_df.write.mode("overwrite").text(staging)
        # part-%05d file index == output partition index == chunk order;
        # empty partitions produce empty part files — skip them (the
        # collect()-era writer also wrote no file for an empty chunk)
        parts = sorted(
            p for p in glob.glob(os.path.join(staging, "part-*")) if os.path.getsize(p) > 0
        )
        i = first_index
        for p in parts:
            dest = os.path.join(out_dir, f"chunk-{i:05d}.json")
            os.replace(p, dest)
            t = 1_700_000_000 + i
            os.utime(dest, (t, t))
            i += 1
        return i
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def dump_json_chunks(df: DataFrame, out_dir: str, n_chunks: int = 1, order_col: str | None = None) -> str:
    """Write a batch DataFrame as ``n_chunks`` JSON files named in replay
    order (chunk index = event-time order when ``order_col`` given), so a
    maxFilesPerTrigger=1 stream sees data arrive roughly in time order."""
    _publish_chunks(_staged_json_lines(df, n_chunks, order_col), out_dir)
    return out_dir


def dump_json_parts(dfs: list[DataFrame], out_dir: str) -> str:
    """Write each DataFrame in ``dfs`` as ONE JSON chunk file, named and
    mtime-ordered so a maxFilesPerTrigger=1 stream replays them as one
    micro-batch per part, in list order.  This is the out-of-order/late-data
    fixture writer: callers control exactly which rows arrive in which
    batch (``dump_json_chunks`` only splits a single table in time order)."""
    i = 0
    for df in dfs:
        j = _publish_chunks(_staged_json_lines(df, 1, None), out_dir, first_index=i)
        if j == i:
            # an EMPTY DataFrame still owns its batch position: without a
            # placeholder file every later part would shift one batch
            # earlier, silently changing the watermark timing the caller
            # scripted (a 0-byte file replays as a 0-row micro-batch)
            dest = os.path.join(out_dir, f"chunk-{i:05d}.json")
            open(dest, "w").close()
            t = 1_700_000_000 + i
            os.utime(dest, (t, t))
            j = i + 1
        i = j
    return out_dir


def run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    name: str | None = None,
    timeout_sec: int = 120,
    output_mode: str = "append",
) -> DataFrame:
    """Run a streaming query to completion (availableNow) and return the
    collected result as a batch DataFrame.  ``output_mode="update"`` for
    stateful operators that can't run in append mode."""
    name = name or f"replay_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) RETURNS False on timeout rather than
    # raising — swallowing that would hand back a silently-truncated
    # memory table while the query keeps appending behind the caller
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} still running after {timeout_sec}s "
            "(availableNow did not finish; partial results discarded)"
        )
    return spark.table(name)


def run_to_memory_drain(
    stream_df: DataFrame,
    spark: SparkSession,
    name: str | None = None,
    timeout_sec: int = 120,
    output_mode: str = "append",
    trigger_interval: str = "100 milliseconds",
    idle_batches: int = 3,
) -> DataFrame:
    """Drain a FINITE stream whose source is a ``SimpleDataSourceStreamReader``
    (e.g. ``format("kinesis_sim")``) and return the collected result.

    Why not ``run_to_memory``: under ``availableNow`` Spark consumes exactly
    ONE prefetched increment from a simple stream reader and never runs the
    no-data batch, so the watermark stays at epoch and an append-mode
    windowed aggregation emits nothing (pinned in tests/test_kinesis_sim.py).
    A ``processingTime`` trigger keeps executing micro-batches: the first
    empty batch after the tip carries the advanced watermark and flushes
    every closed window; the query is stopped once ``idle_batches``
    consecutive empty progress reports confirm there is nothing left to
    emit.  (Mechanics on Spark 4.x: after the one real no-data batch the
    engine idles and only RE-REPORTS that batch's progress every
    ``noDataProgressEventInterval`` — the default 10 s made each drain
    pay ~25 s of pure idle-confirmation wait, so the interval is dropped
    to 1 s for the drain's session; a lull long enough to emit
    ``idle_batches`` zero reports on a TRULY unfinished source cannot
    happen here because drained-finite is the only lull these bounded
    replay sources exhibit.)"""
    import time

    # session-wide conf: save + restore so OTHER streaming queries in this
    # session don't permanently inherit 10x more no-data progress events
    # (the interval can't be set per-query on this Spark version)
    _conf_key = "spark.sql.streaming.noDataProgressEventInterval"
    try:
        _prev_interval = spark.conf.get(_conf_key)
    except Exception:
        _prev_interval = None
    # 250ms (r17, was 1s): the drain's wall-clock floor is idle_batches
    # consecutive zero-progress REPORTS, and after the one real no-data
    # batch the engine only re-reports at this cadence — 1s put a ~3s
    # pure-wait tail on every bounded kinesis drain (A/B in
    # OPTIMIZATION_r17.md).  The busy cost of re-reporting 4x/s for the
    # sub-second drain window is nil; the detector's robustness is
    # unchanged (still idle_batches consecutive zero reports).
    spark.conf.set(_conf_key, "250ms")
    name = name or f"drain_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(processingTime=trigger_interval)
        .start()
    )
    try:
        deadline = time.time() + timeout_sec
        while time.time() < deadline:
            # fail fast: a query that died in batch 0 never accumulates
            # idle reports — without this check every failure costs the
            # full timeout before the exception surfaces
            exc = q.exception()
            if exc is not None:
                raise exc
            progress = q.recentProgress
            tail = [p["numInputRows"] for p in progress[-idle_batches:]]
            if len(progress) >= idle_batches + 1 and tail == [0] * idle_batches:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(60)
        if _prev_interval is not None:
            spark.conf.set(_conf_key, _prev_interval)
        else:
            try:
                spark.conf.unset(_conf_key)
            except Exception:
                pass
    return spark.table(name)


def replay_stream(
    spark: SparkSession,
    batch_df: DataFrame,
    schema,
    tmp_dir: str,
    n_chunks: int = 1,
    order_col: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """batch table → JSON chunks → streaming DataFrame."""
    dump_json_chunks(batch_df, tmp_dir, n_chunks, order_col)
    return file_replay(spark, tmp_dir, schema, max_files_per_trigger)
