"""Kinesis-shaped Python Data Source connector (SURVEY.md §2 S1).

Covers the connector's Kinesis-semantics contract: one partition per
shard, deterministic content, TRIM_HORIZON/LATEST initial positions,
bounded per-batch increments, and bit-identical replay of committed
sequence ranges (the exactly-once recovery requirement).
"""

from __future__ import annotations

import re
import time

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
    KinesisSimStreamReader,
    register,
)


def test_batch_read_deterministic_one_partition_per_shard(spark):
    register(spark)
    opts = {"shards": 3, "records_per_shard": 50, "template": "orders"}
    df = spark.read.format("kinesis_sim").options(**opts).load()
    assert df.count() == 150
    assert df.select("shard_id").distinct().count() == 3
    assert df.rdd.getNumPartitions() == 3  # parallelism == shard count
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in spark.read.format("kinesis_sim").options(**opts).load().collect())
    assert a == b
    # per-shard sequence numbers are dense from 0
    seqs = [r.sequence_number for r in df.filter(F.col("shard_id").endswith("0")).collect()]
    assert sorted(seqs) == list(range(50))


def test_stream_reader_offsets_and_replay():
    """Offset model unit contract, no query machinery needed."""
    r = KinesisSimStreamReader(
        {"shards": 2, "records_per_shard": 30, "batch_records": 7, "template": "rates"}
    )
    start = r.initialOffset()
    assert start == {"shardId-000000000000": 0, "shardId-000000000001": 0}
    rows1, end1 = r.read(start)
    assert end1 == {"shardId-000000000000": 7, "shardId-000000000001": 7}
    assert len(list(rows1)) == 14
    # advancing clamps at the shard tip
    cur = end1
    for _ in range(10):
        _rows, cur = r.read(cur)
    assert cur == {"shardId-000000000000": 30, "shardId-000000000001": 30}
    rows_tip, end_tip = r.read(cur)
    assert list(rows_tip) == [] and end_tip == cur
    # committed ranges replay bit-for-bit (recovery contract)
    again = list(r.readBetweenOffsets(start, end1))
    assert again == list(r.read(start)[0])
    # LATEST skips the prepublished backlog
    r2 = KinesisSimStreamReader(
        {"shards": 1, "records_per_shard": 30, "prepublished": 20, "initial_position": "LATEST"}
    )
    assert r2.initialOffset() == {"shardId-000000000000": 20}
    rows, end = r2.read(r2.initialOffset())
    assert len(list(rows)) == 10 and end == {"shardId-000000000000": 30}


def test_stream_drains_to_tip_and_parses(spark, tmp_path):
    """Continuous micro-batches drain the shard tip; payloads parse through
    the shared S2 path (parse_json_stream) with zero NULL event times."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import ORDER_SCHEMA
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream

    register(spark)
    raw = (
        spark.readStream.format("kinesis_sim")
        .options(shards=2, records_per_shard=40, batch_records=16, template="orders")
        .load()
    )
    parsed = parse_json_stream(raw, ORDER_SCHEMA, value_col="data")
    q = (
        parsed.writeStream.format("memory")
        .queryName("kinesis_sim_drain")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("kinesis_sim_drain").count() >= 80:
                break
            time.sleep(0.5)
        got = spark.table("kinesis_sim_drain")
        assert got.count() == 80
        assert got.filter(F.col("orderTime").isNull()).count() == 0
        assert got.select("id").distinct().count() == 80
        assert set(got.columns) == {"id", "orderTime", "amount", "currency"}
    finally:
        q.stop()


def test_batch_sink_fixed_key_single_shard(spark, tmp_path):
    """K2 parity: fixed partition key routes every record to ONE shard
    (total order via single shard); commit publishes a manifest and the
    uncommitted staging area drains."""
    import glob
    import json
    import os

    register(spark)
    out = str(tmp_path / "puts")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    (
        df.write.format("kinesis_sim")
        .option("path", out)
        .option("partition_key", "0")
        .option("shards", "4")
        .mode("append")
        .save()
    )
    manifest = json.load(open(os.path.join(out, "batch=00000000", "_manifest.json")))
    assert sum(m["n"] for m in manifest) == 100
    assert {m["shard"] for m in manifest} == {0}  # fixed key => one shard
    rows = []
    for m in manifest:
        rows += [json.loads(line) for line in open(m["file"]) if line]
    assert {r["id"] for r in rows} == set(range(100))
    assert glob.glob(os.path.join(out, ".uncommitted", "*")) == []


def test_stream_sink_commits_batches_transactionally(spark, tmp_path):
    """Streaming writer: staged task files become visible only via the
    driver-side commit (per-batch manifest); key-hash routing spreads
    shards when no fixed key is set."""
    import glob
    import json
    import os

    register(spark)
    out = str(tmp_path / "stream_puts")
    src = (
        spark.readStream.format("kinesis_sim")
        .options(shards=2, records_per_shard=20, batch_records=20, template="orders")
        .load()
    )
    q = (
        src.writeStream.format("kinesis_sim")
        .option("path", out)
        .option("partition_key_col", "partition_key")
        .option("shards", "3")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = sorted(glob.glob(os.path.join(out, "batch=*")))
    assert batches, "at least one committed batch"
    total, shards = 0, set()
    for b in batches:
        manifest = json.load(open(os.path.join(b, "_manifest.json")))
        total += sum(m["n"] for m in manifest)
        shards |= {m["shard"] for m in manifest}
    assert total == 40  # one availableNow increment: batch_records x shards
    assert len(shards) > 1  # 128 distinct keys hash across 3 shards
    assert glob.glob(os.path.join(out, ".uncommitted", "*")) == []


def test_sink_exactly_once_under_task_retry(tmp_path):
    """VERDICT r7 #5: kill every write task's FIRST attempt after it has
    fully staged its files (inject_task_failure=after_stage) and assert
    the committed output — batch AND streaming writers — is identical to
    a no-failure run.  The orphaned attempt-0 files are the hazard: they
    sit in .uncommitted when the retry runs, and a sink that globbed
    instead of trusting the commit-message→manifest chain would
    double-count them.

    Runs in a SUBPROCESS on local[4, 2] (tests/fault_retry_runner.py):
    task retry needs maxFailures=2, and relaxing the whole suite's session
    to that would let every other test silently absorb one task failure."""
    import json
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "tests.fault_retry_runner", str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, f"runner failed:\n{proc.stdout}\n{proc.stderr}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    b = result["batch"]
    assert b["rows_equal"] and b["expected_rows"] and b["n_rows"] == 200, b
    assert b["orphans_exist"], "attempt-0 staged files should exist (injection fired)"
    assert not b["orphans_in_manifest"], b
    s = result["stream"]
    assert s["ids_equal"] and s["ids_unique"] and s["n_ids"] > 0, s
    assert s["orphans_exist"], s


def test_inject_task_failure_option_validated(spark, tmp_path):
    register(spark)
    with pytest.raises(Exception, match="inject_task_failure"):
        (
            spark.range(5)
            .write.format("kinesis_sim")
            .option("path", str(tmp_path / "x"))
            .option("inject_task_failure", "bogus")
            .mode("append")
            .save()
        )


def test_reference_topology_end_to_end(spark, tmp_path):
    """The reference's COMPLETE dataflow (StreamingJob.java:21-135) on
    in-repo connectors, no files or external services: kinesis_sim
    orders/rates streams → JSON parse → watermarks → the verbatim
    reference SQL (left-outer interval join + UDF) → JSON serialize →
    kinesis_sim sink with fixed partition key "0".  Matched rows read
    back from the sink's committed manifests must equal the batch run of
    the identical query over the identical (deterministic) records."""
    import glob
    import json
    import os

    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sinks import serialize_json
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )

    register(spark)
    o_opts = {"shards": 2, "records_per_shard": 150, "batch_records": 150,
              "template": "orders", "interval_ms": 40, "seed": 7}
    r_opts = {"shards": 1, "records_per_shard": 30, "batch_records": 30,
              "template": "rates", "interval_ms": 400, "seed": 8}

    def src(opts, streaming):
        reader = spark.readStream if streaming else spark.read
        return reader.format("kinesis_sim").options(**opts).load()

    # batch reference answer over the SAME deterministic records
    ob = parse_json_stream(src(o_opts, False), ORDER_SCHEMA, value_col="data")
    rb = parse_json_stream(src(r_opts, False), EXCHANGE_RATE_SCHEMA, value_col="data")
    batch = build_reference_query(spark, ob, rb, interval="5 seconds")
    expected_matched = {tuple(r) for r in batch.collect() if r["convertedAmount"] is not None}
    assert expected_matched, "fixture must produce matches"

    # streaming topology → kinesis_sim sink, fixed key "0"
    os_ = parse_json_stream(src(o_opts, True), ORDER_SCHEMA, value_col="data")
    rs = parse_json_stream(src(r_opts, True), EXCHANGE_RATE_SCHEMA, value_col="data")
    streamed = build_reference_query(spark, os_, rs, interval="5 seconds")
    out = str(tmp_path / "result_puts")
    q = (
        serialize_json(streamed)
        .writeStream.format("kinesis_sim")
        .option("path", out)
        .option("partition_key", "0")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = set()
    for mpath in glob.glob(os.path.join(out, "batch=*", "_manifest.json")):
        for m in json.load(open(mpath)):
            assert m["shard"] == 0  # fixed key "0" => single ordered shard
            for line in open(m["file"]):
                if not line.strip():
                    continue
                rec = json.loads(json.loads(line)["value"])
                got.add((rec["id"], rec["orderTime"], rec["originalAmount"],
                         rec.get("convertedAmount")))
    got_matched = {g for g in got if g[3] is not None}
    assert got_matched == expected_matched


def test_option_range_validation():
    """shards=0 / batch_records=0 / records_per_shard<0 are option errors,
    not confusing runtime behavior (empty reads, idle streams,
    ZeroDivisionError in the sink router)."""
    import pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        KinesisSimBatchWriter,
        _Opts,
    )

    with pytest.raises(ValueError, match="shards"):
        _Opts({"shards": "0"})
    with pytest.raises(ValueError, match="batch_records"):
        _Opts({"batch_records": "0"})
    with pytest.raises(ValueError, match="records_per_shard"):
        _Opts({"records_per_shard": "-1"})
    with pytest.raises(ValueError, match="shards"):
        KinesisSimBatchWriter({"path": "/tmp/x", "shards": "0"})


def test_batch_sink_overwrite_truncates(spark, tmp_path):
    """mode('overwrite') truncates previously committed batches instead of
    silently appending (DataSourceWriter overwrite contract)."""
    import glob
    import json
    import os

    register(spark)
    out = str(tmp_path / "puts")

    def write(n, mode):
        (
            spark.range(n).select(F.col("id"))
            .write.format("kinesis_sim")
            .option("path", out)
            .option("partition_key", "0")
            .mode(mode)
            .save()
        )

    write(10, "append")
    write(20, "append")
    assert len(glob.glob(os.path.join(out, "batch=*"))) == 2
    write(5, "overwrite")
    batches = glob.glob(os.path.join(out, "batch=*"))
    assert len(batches) == 1
    manifest = json.load(open(os.path.join(batches[0], "_manifest.json")))
    assert sum(m["n"] for m in manifest) == 5


def test_replayed_batch_dir_agrees_with_manifest(spark, tmp_path):
    """A replayed streaming batch must leave the batch dir and its manifest
    in agreement: a raw glob over batch=*/shardId-*/*.jsonl sees exactly
    the manifest-listed files (no orphans from the first attempt)."""
    import glob
    import json
    import os

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        KinesisSimStreamWriter,
    )

    out = str(tmp_path / "puts")
    w = KinesisSimStreamWriter({"path": out, "partition_key": "0"})

    class Row:
        def __init__(self, i):
            self.i = i
        def __getitem__(self, k):
            return self.i
        def asDict(self):
            return {"id": self.i}

    # first attempt commits batch 3
    m1 = w.write(iter([Row(1), Row(2)]))
    w.commit([m1], 3)
    first_files = set(glob.glob(os.path.join(out, "batch=*", "shardId-*", "*.jsonl")))
    # replay of batch 3 (post-commit crash recovery): new attempt's files
    # are dropped, the committed manifest and dir contents stay identical
    m2 = w.write(iter([Row(1), Row(2)]))
    w.commit([m2], 3)
    files_after = set(glob.glob(os.path.join(out, "batch=*", "shardId-*", "*.jsonl")))
    assert files_after == first_files
    manifest = json.load(open(os.path.join(out, "batch=00000003", "_manifest.json")))
    assert {m["file"] for m in manifest} == first_files
    assert glob.glob(os.path.join(out, ".uncommitted", "*")) == []


def test_serialize_error_policy_counts_empties(tmp_path):
    """K1 policy: a row that fails to serialize becomes a '{}' line (every
    manifest-counted line is valid JSONL) and the manifest reports the
    empty-payload count separately."""
    import json
    import os

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        KinesisSimStreamWriter,
    )

    class Good:
        def __getitem__(self, k):
            return 1
        def asDict(self):
            return {"id": 1}

    class Bad:
        def __getitem__(self, k):
            return 1
        def asDict(self):
            raise RuntimeError("unserializable")

    out = str(tmp_path / "puts")
    w = KinesisSimStreamWriter({"path": out, "partition_key": "0"})
    w.commit([w.write(iter([Good(), Bad(), Good()]))], 0)
    manifest = json.load(open(os.path.join(out, "batch=00000000", "_manifest.json")))
    assert sum(m["n"] for m in manifest) == 3
    assert sum(m["n_empty"] for m in manifest) == 1
    lines = [json.loads(line) for m in manifest for line in open(m["file"]) if line.strip()]
    assert len(lines) == 3  # every counted line parses ('{}' not '')
    assert sum(1 for rec in lines if rec == {}) == 1


def test_reference_micro_batches_run_no_python_udf(spark, tmp_path):
    """The reference SQL's TimestampToString is a SQL-bodied function that
    Spark inlines: a micro-batch of the reference query over two
    ``kinesis_sim`` streams evaluates no Python UDF."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )

    register(spark)

    def src(opts, schema):
        raw = spark.readStream.format("kinesis_sim").options(**opts).load()
        return parse_json_stream(raw, schema, value_col="data")

    orders = src({"shards": 1, "records_per_shard": 40, "batch_records": 20,
                  "template": "orders", "interval_ms": 40}, ORDER_SCHEMA)
    rates = src({"shards": 1, "records_per_shard": 4, "batch_records": 2,
                 "template": "rates", "interval_ms": 400}, EXCHANGE_RATE_SCHEMA)
    q = (
        build_reference_query(spark, orders, rates)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    deadline = time.time() + 180
    try:
        while (q.lastProgress or {}).get("batchId", -1) < 1:
            assert q.exception() is None, q.exception()
            assert time.time() < deadline, "want two micro-batches"
            time.sleep(0.2)
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    assert "date_format" in plan, plan  # the inlined function body
    assert "EvalPython" not in plan, plan  # also matches ArrowEvalPython


def test_stream_restart_from_checkpoint_no_gaps_no_dupes(spark, tmp_path):
    """Exactly-once recovery contract, source AND sink together: stop a
    draining kinesis_sim→kinesis_sim query mid-stream, restart from the
    same checkpoint, and the manifest-committed output must contain every
    record exactly once (readBetweenOffsets replays any in-flight range
    deterministically; a replayed batch overwrites its own manifest, so
    manifest-listed files are the exactly-once view)."""
    import glob
    import json
    import os

    register(spark)
    opts = {"shards": 2, "records_per_shard": 60, "batch_records": 10, "template": "orders"}
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "puts")

    def committed():
        got = []
        for mpath in glob.glob(os.path.join(out, "batch=*", "_manifest.json")):
            for m in json.load(open(mpath)):
                for line in open(m["file"]):
                    if line.strip():
                        rec = json.loads(line)
                        got.append((rec["shard_id"], rec["sequence_number"]))
        return got

    def run_until(min_rows, interval):
        src = spark.readStream.format("kinesis_sim").options(**opts).load()
        q = (
            src.writeStream.format("kinesis_sim")
            .option("path", out)
            .option("partition_key_col", "shard_id")
            .option("shards", "2")
            .option("checkpointLocation", ckpt)
            # paced batches so the stop lands mid-stream, not after a drain
            .trigger(processingTime=interval)
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            if len(committed()) >= min_rows:
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)

    # stop as soon as ANYTHING commits; the 5 s trigger leaves ~25 s of
    # margin before a full drain (6 batches), so the stop reliably lands
    # mid-stream even on a loaded machine (a 2 s trigger flaked in-suite)
    run_until(1, "5 seconds")
    n_first = len(committed())
    assert 0 < n_first < 120, f"first run committed {n_first}, want a mid-stream stop"
    run_until(120, "100 milliseconds")  # restart from the checkpoint, drain
    rows = committed()
    assert len(rows) == len(set(rows)), "duplicated sequences across restart"
    assert set(rows) == {(f"shardId-{s:012d}", i) for s in range(2) for i in range(60)}, (
        f"gaps after restart: {len(set(rows))}/120"
    )


def test_reference_restart_keeps_checkpointed_state_partitions(spark, tmp_path):
    """A stateful query pins its shuffle partition count in the checkpoint
    when it first starts: the reference join started at 32 partitions,
    stopped mid-stream and restarted from the same checkpoint on a session
    now sized to 4 still opens 128 state stores (32 partitions x 4 join
    stores), and the sink holds, exactly once, every row of the batch twin
    for the orders below the final watermark."""
    import glob
    import json
    import os
    from collections import Counter

    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sinks import serialize_json
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )

    register(spark)
    # 3 data micro-batches per stream, event times 0 .. 3.56 s (orders)
    # and 0 .. 3.2 s (rates)
    o_opts = {"shards": 2, "records_per_shard": 90, "batch_records": 30,
              "template": "orders", "interval_ms": 40, "seed": 11}
    r_opts = {"shards": 1, "records_per_shard": 9, "batch_records": 3,
              "template": "rates", "interval_ms": 400, "seed": 12}
    total = 2 * 90 + 9
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "puts")

    def src(opts, streaming, schema):
        reader = spark.readStream if streaming else spark.read
        raw = reader.format("kinesis_sim").options(**opts).load()
        return parse_json_stream(raw, schema, value_col="data")

    ob, rb = src(o_opts, False, ORDER_SCHEMA), src(r_opts, False, EXCHANGE_RATE_SCHEMA)
    iso = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    final_wm = min(
        ob.select(F.date_format(F.max("orderTime"), iso)).first()[0],
        rb.select(F.date_format(F.max("exchangeRateTime"), iso)).first()[0],
    )

    def start(trigger):
        streamed = build_reference_query(
            spark, src(o_opts, True, ORDER_SCHEMA), src(r_opts, True, EXCHANGE_RATE_SCHEMA)
        )
        return (
            serialize_json(streamed)
            .writeStream.format("kinesis_sim")
            .option("path", out)
            .option("partition_key", "0")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=trigger)
            .start()
        )

    def wait_for(q, done, timeout=240):
        # stop only between triggers: a stop that interrupts a running
        # batch can surface from the Python source as a query failure
        deadline = time.time() + timeout
        while not done(q) or q.status["isTriggerActive"]:
            if q.exception() is not None:
                raise q.exception()
            assert time.time() < deadline, "query did not reach its stop point"
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        q = start("60 seconds")  # paced, so the stop lands after batch 0
        wait_for(q, lambda q: len(q.recentProgress) >= 1)
        first = q.recentProgress
        assert first[0]["stateOperators"][0]["numStateStoreInstances"] == 128
        assert sum(p["numInputRows"] for p in first) < total, "want a mid-stream stop"

        spark.conf.set("spark.sql.shuffle.partitions", "4")
        q = start("100 milliseconds")
        wait_for(q, lambda q: (q.lastProgress or {}).get("eventTime", {}).get(
            "watermark", "") >= final_wm)
        last = q.lastProgress
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    ops = last["stateOperators"][0]
    assert (ops["numShufflePartitions"], ops["numStateStoreInstances"]) == (32, 128)
    wm = last["eventTime"]["watermark"]
    below = {
        r["id"] for r in ob.where(F.col("orderTime") < F.to_timestamp(F.lit(wm))).collect()
    }
    batch = build_reference_query(spark, ob, rb)
    expected = Counter(tuple(r) for r in batch.collect() if r["id"] in below)
    assert any(e[3] is None for e in expected) and any(e[3] is not None for e in expected), (
        "fixture must hold matched and NULL-extended orders below the watermark"
    )
    got = Counter()
    for mpath in glob.glob(os.path.join(out, "batch=*", "_manifest.json")):
        for m in json.load(open(mpath)):
            for line in open(m["file"]):
                if line.strip():
                    rec = json.loads(json.loads(line)["value"])
                    if rec["id"] in below:
                        got[(rec["id"], rec["orderTime"], rec["originalAmount"],
                             rec.get("convertedAmount"))] += 1
    assert got == expected


def test_at_timestamp_initial_position(spark):
    """AT_TIMESTAMP (FlinkKinesisConsumer's third STREAM_INITIAL_POSITION;
    the reference uses LATEST): the stream starts at the first record whose
    arrival_ts >= start_timestamp, inclusive, per shard (each shard's
    records are offset by `shard` ms)."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    register(spark)
    base = {
        "shards": 2, "records_per_shard": 100, "interval_ms": 40,
        "template": "orders", "initial_position": "AT_TIMESTAMP",
    }
    # record seq s on shard k arrives at epoch + 40s + k ms.  Start at
    # exactly seq 25 / shard 0's arrival: shard 0 starts AT 25 (inclusive),
    # shard 1's seq-25 record arrived 1 ms later, so 25 is included there
    # too; but one microsecond after shard 1's record excludes it.
    t25 = datetime(2024, 1, 1, 0, 0, 1, 0, tzinfo=timezone.utc)  # 1000 ms = seq 25
    df = (
        spark.read.format("kinesis_sim")
        .options(**{k: str(v) for k, v in base.items()}, start_timestamp=t25.isoformat())
        .load()
    )
    per_shard = {
        r.shard_id: r.mn
        for r in df.groupBy("shard_id").agg(F.min("sequence_number").alias("mn")).collect()
    }
    assert per_shard == {"shardId-000000000000": 25, "shardId-000000000001": 25}
    assert df.count() == 75 * 2

    # boundary: 0.5 ms past shard 1's seq-25 arrival -> shard 1 starts at 26
    df2 = (
        spark.read.format("kinesis_sim")
        .options(**{k: str(v) for k, v in base.items()})
        .option("start_timestamp", "2024-01-01T00:00:01.0015")
        .load()
    )
    per_shard2 = {
        r.shard_id: r.mn
        for r in df2.groupBy("shard_id").agg(F.min("sequence_number").alias("mn")).collect()
    }
    assert per_shard2 == {"shardId-000000000000": 26, "shardId-000000000001": 26}

    # streaming offsets agree with the batch partitions, epoch-seconds form
    r = KinesisSimStreamReader({**base, "start_timestamp": str(t25.timestamp())})
    assert r.initialOffset() == {"shardId-000000000000": 25, "shardId-000000000001": 25}
    # pre-epoch timestamp clamps to TRIM_HORIZON; missing timestamp rejected
    r0 = KinesisSimStreamReader({**base, "start_timestamp": "2020-01-01T00:00:00"})
    assert r0.initialOffset() == {"shardId-000000000000": 0, "shardId-000000000001": 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="start_timestamp"):
        KinesisSimStreamReader({"initial_position": "AT_TIMESTAMP"})


def test_reshard_batch_read_crosses_split(spark):
    """r9: a resharded stream plans one partition per TOPOLOGY shard —
    closed parents and lineage children — and every acquisition mode
    (generator, sdk, full opaque-adapter stack) yields the identical
    record multiset across the split boundary."""
    register(spark)
    opts = {"shards": 2, "records_per_shard": 100, "reshard_at": 30, "seed": 17}
    df = spark.read.format("kinesis_sim").options(**opts).load()
    # 2 parents x 30 + 4 children x 70
    assert df.count() == 2 * 30 + 4 * 70
    assert df.rdd.getNumPartitions() == 6
    per_shard = {
        r.shard_id[-4:]: r.n
        for r in df.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_shard == {
        "0000": 30, "0001": 30, "0002": 70, "0003": 70, "0004": 70, "0005": 70
    }
    direct = sorted(tuple(r) for r in df.collect())
    for client in ("fake_sdk", "fake_opaque"):
        via = spark.read.format("kinesis_sim").options(
            **opts, client=client
        ).load()
        assert sorted(tuple(r) for r in via.collect()) == direct, client


def test_reshard_stream_offsets_saturate_at_close():
    """Streaming offset model across a split: parents advance to their
    closing sequence and saturate; children advance to their own tips;
    committed ranges replay bit-for-bit through both acquisition modes."""
    base = {"shards": 1, "records_per_shard": 20, "reshard_at": 8, "batch_records": 5}
    r = KinesisSimStreamReader(base)
    start = r.initialOffset()
    assert start == {
        "shardId-000000000000": 0, "shardId-000000000001": 0, "shardId-000000000002": 0
    }
    cur = start
    for _ in range(5):
        _rows, cur = r.read(cur)
    assert cur == {
        "shardId-000000000000": 8,   # parent saturated at its close
        "shardId-000000000001": 12, "shardId-000000000002": 12,
    }
    sdk = KinesisSimStreamReader({**base, "client": "fake_opaque"})
    assert list(r.readBetweenOffsets(start, cur)) == list(sdk.readBetweenOffsets(start, cur))


def test_reshard_option_validation():
    import pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import _Opts

    for bad in (0, -1, 50, 99):
        with pytest.raises(ValueError, match="reshard_at"):
            _Opts({"records_per_shard": 50 if bad != 99 else 40, "reshard_at": bad})
    with pytest.raises(ValueError, match="TRIM_HORIZON"):
        _Opts({"records_per_shard": 50, "reshard_at": 10, "initial_position": "LATEST"})
    assert _Opts({"records_per_shard": 50, "reshard_at": 10}).reshard_at == 10


def test_reshard_discovery_from_presplit_checkpoint():
    """A checkpointed offset dict taken BEFORE a split (parents only) must
    keep working after the stream reshards: read() admits the child
    shards at their own horizon and the offset dict grows — the service
    consumer's mid-stream shard-discovery story.  No parent record is
    re-served and no child record is missed."""
    # the pre-split world: 2 shards, no reshard
    pre = KinesisSimStreamReader({"shards": 2, "records_per_shard": 10, "batch_records": 4})
    cur = pre.initialOffset()
    rows, cur = pre.read(cur)
    assert len(list(rows)) == 8 and cur == {
        "shardId-000000000000": 4, "shardId-000000000001": 4
    }
    # the stream resharded at 10: restart from the same checkpoint with
    # the post-split options — parents finish their closed ranges, and
    # the four children enter the offset dict at horizon 0
    post = KinesisSimStreamReader(
        {"shards": 2, "records_per_shard": 25, "reshard_at": 10, "batch_records": 7}
    )
    seen = []
    for _ in range(4):
        rows, cur = post.read(cur)
        seen.extend(rows)
    assert set(cur) == {f"shardId-{s:012d}" for s in range(6)}
    assert cur["shardId-000000000000"] == cur["shardId-000000000001"] == 10  # saturated at close
    # children tips: 25 - 10 = 15 each, reached within the 4 batches of 7
    assert all(cur[f"shardId-{s:012d}"] == 15 for s in range(2, 6))
    # content audit: parents resumed exactly at the checkpoint (seq 4..9),
    # children served their full [0, 15) spaces — nothing dropped or doubled
    got = sorted((t[0], t[1]) for t in seen)
    want = sorted(
        [(f"shardId-{s:012d}", q) for s in range(2) for q in range(4, 10)]
        + [(f"shardId-{s:012d}", q) for s in range(2, 6) for q in range(15)]
    )
    assert got == want


def test_reshard_streaming_end_to_end_with_checkpoint_restart(spark, tmp_path):
    """The discovery contract at the REAL Structured Streaming level, not
    just the reader unit surface: a streaming query checkpointed on a
    PRE-SPLIT stream is restarted against the post-split topology — the
    offset dict grows through Spark's WAL (new child-shard keys), parents
    finish their closed ranges exactly once, and the union of both phases
    equals the batch read of the resharded stream.  (File sink: the
    memory sink does not support checkpoint recovery.)"""
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    base = dict(shards=1, seed=23, template="orders")

    def run(opts, at_least):
        q = (
            spark.readStream.format("kinesis_sim")
            .options(**base, **opts)
            .load()
            .selectExpr("shard_id", "sequence_number")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and _read_out().count() < at_least:
                time.sleep(0.5)
        finally:
            q.stop()
        return _read_out()

    def _read_out():
        return spark.read.schema("shard_id string, sequence_number long").json(out)

    # phase 1: pre-split stream, drain all 12 published records
    got1 = run(dict(records_per_shard=12, batch_records=5), 12)
    assert got1.count() == 12
    # phase 2: the stream resharded at 20 (the parent closes with 8 more
    # records to serve, two children carry 15 each); restart from the
    # SAME checkpoint with the post-split options
    got2 = run(dict(records_per_shard=35, reshard_at=20, batch_records=9), 12 + 8 + 2 * 15)
    rows = [(r.shard_id, r.sequence_number) for r in got2.collect()]
    # the union of both phases equals the batch read of the resharded
    # stream: parent [0, 20) exactly once + children [0, 15) each
    batch = spark.read.format("kinesis_sim").options(
        **base, records_per_shard=35, reshard_at=20
    ).load()
    assert sorted(rows) == sorted(
        (r.shard_id, r.sequence_number) for r in batch.collect()
    )


def test_reshard_plan_batch_and_stream_cross_merge_and_generations(spark):
    """r10: the general reshard PLAN (a merge plus a two-generation chain)
    at the connector surface — the batch read plans one partition per
    lineage shard and every acquisition mode yields the identical record
    multiset; the streaming offset model saturates closed shards of BOTH
    generations at their closing sequences and replays committed ranges
    bit-for-bit through the full adapter stack."""
    import json as _json

    register(spark)
    plan = [
        {"op": "split", "parent": 0, "at": 6},
        {"op": "split", "parent": 2, "at": 6},
        {"op": "merge", "parents": [1, 3], "at": 6},
    ]
    opts = {
        "shards": 2, "records_per_shard": 18,
        "reshard_plan": _json.dumps(plan), "seed": 29,
    }
    df = spark.read.format("kinesis_sim").options(**opts).load()
    # topology: shards 0-3 closed x6; grandchildren 4, 5 open x6; merge
    # child 6 (ParentShardId=1, AdjacentParentShardId=3) open x12
    assert df.count() == 6 * 6 + 12
    assert df.rdd.getNumPartitions() == 7
    per_shard = {
        r.shard_id[-4:]: r.n
        for r in df.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_shard == {
        "0000": 6, "0001": 6, "0002": 6, "0003": 6, "0004": 6, "0005": 6, "0006": 12
    }
    direct = sorted(tuple(r) for r in df.collect())
    for client in ("fake_sdk", "fake_opaque"):
        via = spark.read.format("kinesis_sim").options(
            **opts, client=client
        ).load()
        assert sorted(tuple(r) for r in via.collect()) == direct, client
    # streaming: offsets advance per lineage shard and saturate at closes
    base = {**opts, "batch_records": 4}
    r = KinesisSimStreamReader(base)
    start = r.initialOffset()
    assert set(start) == {f"shardId-{s:012d}" for s in range(7)}
    cur = dict(start)
    for _ in range(4):
        _rows, cur = r.read(cur)
    assert all(cur[f"shardId-{s:012d}"] == 6 for s in range(6))
    assert cur["shardId-000000000006"] == 12
    sdk = KinesisSimStreamReader({**base, "client": "fake_opaque"})
    assert list(r.readBetweenOffsets(start, cur)) == list(sdk.readBetweenOffsets(start, cur))


def test_reshard_plan_option_validation():
    import pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import _Opts

    ok = '[{"op": "split", "parent": 0, "at": 5}]'
    assert _Opts({"records_per_shard": 20, "reshard_plan": ok}).reshard_plan == [
        {"op": "split", "parent": 0, "at": 5}
    ]
    with pytest.raises(ValueError, match="mutually exclusive"):
        _Opts({"records_per_shard": 20, "reshard_plan": ok, "reshard_at": 5})
    with pytest.raises(ValueError, match="JSON list"):
        _Opts({"records_per_shard": 20, "reshard_plan": '{"op": "split"}'})
    with pytest.raises(ValueError, match="TRIM_HORIZON"):
        _Opts({"records_per_shard": 20, "reshard_plan": ok, "initial_position": "LATEST"})
    # plan validation is EAGER — a bad event fails at option-parse time on
    # the driver, not inside an executor task
    with pytest.raises(ValueError, match="does not exist"):
        _Opts({"records_per_shard": 20, "reshard_plan": '[{"op": "split", "parent": 7, "at": 5}]'})


def test_lineage_order_strict_holds_children_until_parents_drain():
    """r10 ``lineage_order=strict``: the streaming reader reproduces the
    service consumer's parent-before-child contract — children's offsets
    hold at their cursor while any parent is still open, release only
    after ALL parents drain (both, for a merge child), and the hold is
    transitive across generations.  The final multiset is identical to
    relaxed mode (completeness is mode-independent)."""
    import json as _json

    plan = [
        {"op": "split", "parent": 0, "at": 6},      # children 2, 3 (x12)
        {"op": "split", "parent": 2, "at": 6},      # grandchildren 4, 5 (x6)
        {"op": "merge", "parents": [1, 3], "at": 6},  # merge child 6 (x12)
    ]
    base = {
        "shards": 2, "records_per_shard": 18,
        "reshard_plan": _json.dumps(plan), "batch_records": 3, "seed": 31,
    }
    r = KinesisSimStreamReader({**base, "lineage_order": "strict"})
    cur = r.initialOffset()
    start = dict(cur)
    history = []
    for _ in range(12):
        _rows, cur = r.read(cur)
        history.append(dict(cur))
    sid = lambda s: f"shardId-{s:012d}"  # noqa: E731
    # batch 1: only the original open shard (1) and... shard 0 closed at 6,
    # but closed-parent draining is still "parent work": 0 and 1 advance,
    # every descendant (2-6) holds at 0
    assert history[0][sid(0)] == 3 and history[0][sid(1)] == 3
    assert all(history[0][sid(s)] == 0 for s in range(2, 7))
    # batch 2: parents 0 and 1 drain to their closes (6).  Children 2, 3
    # still held (their parents finish IN this batch, release is next)
    assert history[1][sid(0)] == history[1][sid(1)] == 6
    assert all(history[1][sid(s)] == 0 for s in range(2, 7))
    # batch 3: child 3 (parent 0 drained) advances; merge child 6 needs
    # BOTH parents 1 and 3 — parent 3 is open again, so 6 stays held;
    # grandchildren 4, 5 wait on parent 2
    assert history[2][sid(2)] == history[2][sid(3)] == 3
    assert history[2][sid(6)] == 0
    assert history[2][sid(4)] == history[2][sid(5)] == 0
    # children 2, 3 close at 6 (batch 4); descendants release from batch 5
    assert history[3][sid(2)] == history[3][sid(3)] == 6
    assert history[4][sid(4)] == history[4][sid(5)] == history[4][sid(6)] == 3
    # everything drains to its tip: shards 0-5 x6, merge child 6 x12
    final = history[-1]
    assert all(final[sid(s)] == 6 for s in range(6)) and final[sid(6)] == 12
    # completeness is mode-independent: strict's committed union equals
    # relaxed's, which equals the generator ground truth
    relaxed = KinesisSimStreamReader(base)
    assert sorted(r.readBetweenOffsets(start, final)) == sorted(
        relaxed.readBetweenOffsets(start, final)
    )


def test_lineage_order_validation_and_batch_ignores_it(spark):
    import pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import _Opts

    with pytest.raises(ValueError, match="lineage_order"):
        _Opts({"lineage_order": "topological"})
    # batch reads ignore the option by design (parallel partitions): the
    # read still plans every lineage shard and yields the full multiset
    register(spark)
    df = spark.read.format("kinesis_sim").options(
        shards=1, records_per_shard=10, reshard_at=4,
        lineage_order="strict", seed=3,
    ).load()
    assert df.count() == 4 + 2 * 6


def test_reshard_chain_streaming_checkpoint_restart_two_generations(spark, tmp_path):
    """r10: the discovery contract across TWO reshard generations at the
    real Structured Streaming level.  One checkpoint lives through three
    worlds of the SAME stream's history: (1) pre-reshard, (2) after a
    split (children enter the WAL's offset dict at horizon), (3) after
    the split children MERGE (the merge child — ParentShardId +
    AdjacentParentShardId lineage — enters the same way, and the now-
    closed children saturate exactly at their closing sequence, which is
    precisely where phase 2 drained them).  Every phase resumes where the
    WAL left off; the union of all three phases equals the batch read of
    the final two-generation topology — nothing dropped or doubled across
    either boundary."""
    import json as _json

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    base = dict(shards=1, seed=43, template="orders")
    gen1 = [{"op": "split", "parent": 0, "at": 20}]
    gen2 = gen1 + [{"op": "merge", "parents": [1, 2], "at": 10}]

    def _read_out():
        return spark.read.schema("shard_id string, sequence_number long").json(out)

    def run(opts, at_least):
        q = (
            spark.readStream.format("kinesis_sim")
            .options(**base, **opts)
            .load()
            .selectExpr("shard_id", "sequence_number")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and _read_out().count() < at_least:
                time.sleep(0.5)
        finally:
            q.stop()
        return _read_out()

    # phase 1: pre-reshard, drain the 12 published records
    assert run(dict(records_per_shard=12, batch_records=5), 12).count() == 12
    # phase 2: generation 1 landed — parent closes at 20, split children
    # open with 10 published so far (records_per_shard=30 models the
    # stream's state BEFORE the merge: 30 - 20 = 10 per child).  Drain
    # the parent's remaining 8 and both children's 10
    assert run(
        dict(records_per_shard=30, reshard_plan=_json.dumps(gen1), batch_records=9),
        12 + 8 + 2 * 10,
    ).count() == 40
    # phase 3: generation 2 landed — the children closed at exactly 10
    # (where phase 2 drained them) and merged into child 3, which carries
    # 5 fresh records (records_per_shard=35: children budget 15, closed
    # at 10, merge child = 15 - 10).  Restart discovers child 3 mid-WAL
    got = run(
        dict(records_per_shard=35, reshard_plan=_json.dumps(gen2), batch_records=9),
        40 + 5,
    )
    rows = sorted((r.shard_id, r.sequence_number) for r in got.collect())
    batch = spark.read.format("kinesis_sim").options(
        **base, records_per_shard=35, reshard_plan=_json.dumps(gen2)
    ).load()
    assert rows == sorted((r.shard_id, r.sequence_number) for r in batch.collect())
    # and the merge child really is the two-generation lineage shard
    assert {s for s, _ in rows} == {f"shardId-{i:012d}" for i in range(4)}


def test_connector_ledger_path_persists_and_warm_starts(spark, tmp_path):
    """r10: the production ledger wiring at the CONNECTOR surface —
    ``ledger_path`` flows through the option bag to the fake_opaque
    factory, executors save the observed ordinal↔sequence entries after
    each completed range (read-merge-write, so concurrent per-task saves
    union their shards), and the persisted file warm-starts a cold
    strict-anchored client without a horizon recount."""
    import json as _json

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        OpaqueSeqKinesisClient,
        TranslatingKinesisClient,
        sdk_read_range,
    )

    register(spark)
    p = str(tmp_path / "orders.ledger.json")
    opts = dict(
        shards=2, records_per_shard=5000, seed=5,
        client="fake_opaque", ledger_path=p,
    )
    # batch read: one executor task per shard, each saving its entries
    df = spark.read.format("kinesis_sim").options(**opts).load()
    assert df.count() == 10_000
    led = _json.load(open(p))
    # read-merge-write keeps every saved shard's entries; at least one
    # task's save must land even under the documented same-instant race,
    # and a second read converges the union (entries are immutable facts)
    if set(led) != {"shardId-000000000000", "shardId-000000000001"}:
        assert spark.read.format("kinesis_sim").options(**opts).load().count() == 10_000
        led = _json.load(open(p))
    assert set(led) == {"shardId-000000000000", "shardId-000000000001"}
    # the persisted artifact anchors a COLD strict client driver-side:
    # a deep read seeds from the restored entries instead of recounting
    # (strict_anchor would raise on any horizon recount)
    cold_inner = OpaqueSeqKinesisClient(shards=2, seed=5, tip=5000)
    cold = TranslatingKinesisClient(cold_inner, ledger_path=p, strict_anchor=True)
    got = sdk_read_range(cold, "s", 1, 4990, 5000)
    assert len(got) == 10 and cold_inner.n_calls <= 6
    # streaming path: one client per micro-batch serves all shards and
    # saves at the batch boundary
    p2 = str(tmp_path / "stream.ledger.json")
    r = KinesisSimStreamReader({**opts, "records_per_shard": 40, "ledger_path": p2, "batch_records": 15})
    cur = r.initialOffset()
    _rows, cur = r.read(cur)
    led2 = _json.load(open(p2))
    assert set(led2) == {"shardId-000000000000", "shardId-000000000001"}


def test_strict_lineage_streaming_checkpoint_restart_mid_hold(spark, tmp_path):
    """r10 ``lineage_order=strict`` at the real Structured Streaming
    level, ACROSS a restart: the hold state lives entirely in the WAL's
    offset dict (children pinned at their cursor), so stopping the query
    while children are still held and resuming from the checkpoint must
    (a) keep honoring parent-before-child — no child record in any batch
    at or before a parent's last batch, phase boundary included — and
    (b) drain to the exact topology multiset with per-batch exactly-once
    regeneration (a batch replayed after the restart carries identical
    rows).  foreachBatch records (batch_id → rows) so the ordering
    contract is asserted on OUTPUT batches, not reader internals."""
    import json as _json

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    plan = [{"op": "split", "parent": 0, "at": 6}]  # children 1, 2 carry 12 each
    opts = dict(
        shards=1, records_per_shard=18, reshard_plan=_json.dumps(plan),
        batch_records=2, seed=17, lineage_order="strict", template="orders",
    )

    def run(store: dict, done):
        def sink(df, bid):
            store[bid] = sorted((r.shard_id, r.sequence_number) for r in df.collect())

        q = (
            spark.readStream.format("kinesis_sim")
            .options(**opts)
            .load()
            .selectExpr("shard_id", "sequence_number")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline and not done():
                time.sleep(0.2)
        finally:
            q.stop()

    total = 6 + 2 * 12

    def unique_rows(*stores):
        # dedup by batch id, NOT by concatenation: the batch in flight at
        # a stop is legitimately re-delivered after the restart with the
        # same id and identical rows
        merged = {}
        for s in stores:
            merged.update(s)
        return [t for rows in merged.values() for t in rows]

    # phase 1: stop somewhere inside the parent drain (6 records at 2 per
    # batch).  Timing tolerance: extra batches may complete between the
    # poll observing >=4 rows and q.stop() landing, so don't assert
    # "parent rows only" over ALL of p1 — assert the stop left the stream
    # genuinely mid-flight, and that p1's FIRST batch is parent-only
    # (guaranteed by the hold regardless of timing).
    p1: dict[int, list] = {}
    run(p1, lambda: sum(len(v) for v in p1.values()) >= 4)
    assert p1, "phase 1 observed no batches"
    assert {s for s, _ in p1[min(p1)]} == {"shardId-000000000000"}
    assert len(unique_rows(p1)) < total, "phase 1 drained everything; no restart left"
    # phase 2: resume the SAME checkpoint and drain everything
    p2: dict[int, list] = {}
    run(p2, lambda: len(unique_rows(p1, p2)) >= total)
    # exactly-once regeneration: a batch id seen in both phases (the one
    # in flight at the stop) must carry identical rows after the restart
    for bid in set(p1) & set(p2):
        assert p1[bid] == p2[bid], f"batch {bid} replayed differently"
    batches = {**p1, **p2}
    # completeness: the union over unique batch ids is the exact topology
    sid = lambda s: f"shardId-{s:012d}"  # noqa: E731
    want = sorted(
        [(sid(0), q) for q in range(6)]
        + [(sid(c), q) for c in (1, 2) for q in range(12)]
    )
    assert sorted(unique_rows(batches)) == want
    # ordering: each child's FIRST batch is strictly after the parent's
    # LAST batch — across the restart boundary (batch ids are WAL-global)
    first = {}
    last = {}
    for bid in sorted(batches):
        for s, _ in batches[bid]:
            first.setdefault(s, bid)
            last[s] = bid
    for child in (1, 2):
        assert first[sid(child)] > last[sid(0)], (
            f"child {child} first batch {first[sid(child)]} !> "
            f"parent last batch {last[sid(0)]}"
        )


def test_record_byte_identity_with_reference_formulation():
    """The hand-tuned ``_record`` hot loop (r12: %-format payload, day-
    cached ISO, _h_fast hashes) must stay BYTE-identical to the original
    strftime + json.dumps formulation — the wire format is pinned by
    sink manifests, oracle parity, and checkpoint replay."""
    import hashlib
    import json as _json
    from datetime import timedelta

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        CURRENCIES,
        _EPOCH,
        _h,
        _record,
    )

    def reference(template, seed, shard, seq, interval_ms):
        ts = _EPOCH + timedelta(milliseconds=seq * interval_ms + shard)
        iso = ts.strftime("%Y-%m-%dT%H:%M:%S.%f")
        currency = CURRENCIES[_h(seed, shard, seq, "c") % len(CURRENCIES)]
        if template == "rates":
            payload = {
                "exchangeRateTime": iso,
                "currency": currency,
                "rate": _h(seed, shard, seq, "r") % 97 + 2,
            }
        else:
            payload = {
                "id": shard * 1_000_000_000 + seq,
                "orderTime": iso,
                "amount": _h(seed, shard, seq, "a") % 10_000 + 1,
                "currency": currency,
            }
        return (
            f"shardId-{shard:012d}",
            seq,
            str(_h(seed, shard, seq, "pk") % 128),
            _json.dumps(payload, separators=(",", ":")),
            ts,
        )

    # sweep seeds/shards/intervals incl. multi-day rollover (1h interval
    # crosses midnight at seq 24) and large seq magnitudes
    for template in ("orders", "rates"):
        for seed in (42, 7):
            for shard in (0, 15):
                for interval_ms in (10, 3_600_000):
                    for seq in [*range(50), 9_999, 123_456]:
                        assert _record(template, seed, shard, seq, interval_ms) == reference(
                            template, seed, shard, seq, interval_ms
                        ), (template, seed, shard, seq, interval_ms)


def test_generator_and_fake_sdk_client_row_parity(spark):
    """A batch read through client=fake_sdk yields exactly the rows of
    the default generator read — only the acquisition path differs."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import register

    register(spark)

    def scan(**extra):
        return (
            spark.read.format("kinesis_sim")
            .option("template", "orders")
            .option("shards", 4)
            .option("records_per_shard", 500)
            .options(**extra)
            .load()
            .orderBy("shard_id", "sequence_number")
            .collect()
        )

    base = scan()
    assert len(base) == 2000
    assert scan(client="fake_sdk") == base


@pytest.mark.parametrize(
    "option, value, message",
    [
        ("client_mode", "sdk", "client=<factory>"),
        ("arrow", "true", "Arrow transport was removed"),
    ],
)
def test_retired_read_options_rejected(option, value, message):
    """The retired option names fail at option parse, naming what
    replaced them: unknown keys are otherwise ignored, so an old
    client_mode=sdk read would silently come from the generator."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        KinesisSimBatchReader,
        KinesisSimStreamReader,
    )

    for reader in (KinesisSimBatchReader, KinesisSimStreamReader):
        with pytest.raises(ValueError, match=re.escape(message)):
            reader({option: value})
