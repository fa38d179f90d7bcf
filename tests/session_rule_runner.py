"""Subprocess body for the session-rule tests (tests/test_engine.py).

The engine's session rules (``size_shuffle_partitions``,
``use_filesystem_checkpoints``, ``clear_hadoop_conf_sources``) read the
SparkContext's master, task slots and Hadoop conf, which exist only once
a SparkContext starts, so each rule is observable only in a process
whose FIRST session is built here.  Invoked via
``python -m tests.session_rule_runner <workdir> [engine|driver|checkpoint|conf_sources]``:
``engine`` builds the session with ``build_spark``, ``driver`` and
``checkpoint`` hand a bare ``SparkSession`` to ``__spark_entry__`` the way
an external driver does, and ``conf_sources`` does both in turn.  Prints
one JSON line with the evidence the host test asserts on, or exits
nonzero with a traceback.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

SF_SMOKE = "/root/testdata/sf0.001"
#: Spark's default checkpoint file manager, named explicitly
DEFAULT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _reference_run(spark, workdir: str):
    """The reference query over two small ``kinesis_sim`` streams into a
    ``noop`` sink, run to the end of its input (``availableNow``)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import register
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import (
        parse_json_stream,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )

    register(spark)

    def src(opts):
        return spark.readStream.format("kinesis_sim").options(**opts).load()

    orders = parse_json_stream(
        src({"shards": 2, "records_per_shard": 20, "template": "orders", "interval_ms": 40}),
        ORDER_SCHEMA, value_col="data",
    )
    rates = parse_json_stream(
        src({"shards": 1, "records_per_shard": 4, "template": "rates", "interval_ms": 400}),
        EXCHANGE_RATE_SCHEMA, value_col="data",
    )
    q = (
        build_reference_query(spark, orders, rates)
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(240):
        q.stop()
        raise TimeoutError("reference query did not finish")
    return q


def engine(workdir: str) -> dict:
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark

    spark = build_spark(app_name="partition-rule", master="local[3]")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "default": spark.conf.get("spark.sql.shuffle.partitions"),
        "manager": spark.conf.get(MANAGER_KEY, None),
    }
    q = _reference_run(spark, workdir)
    last = q.lastProgress["stateOperators"][0]
    out["reference"] = {
        "num_shuffle_partitions": last["numShufflePartitions"],
        "num_state_store_instances": last["numStateStoreInstances"],
    }

    # an explicit value still wins, also on an already-running session
    out["explicit"] = build_spark(shuffle_partitions=5).conf.get(
        "spark.sql.shuffle.partitions"
    )
    # so does a value passed through extra_conf
    out["extra_conf"] = build_spark(
        extra_conf={"spark.sql.shuffle.partitions": "7"}
    ).conf.get("spark.sql.shuffle.partitions")
    # and a checkpoint file manager passed through extra_conf
    out["extra_conf_manager"] = build_spark(
        extra_conf={MANAGER_KEY: DEFAULT_MANAGER}
    ).conf.get(MANAGER_KEY)
    spark.stop()
    return out


def driver(workdir: str) -> dict:
    from pyspark.sql import SparkSession

    import __spark_entry__
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.metrics import attach

    spark = (
        SparkSession.builder.appName("partition-rule-driver")
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"bare": spark.conf.get("spark.sql.shuffle.partitions")}
    listener = attach(spark)
    rows = __spark_entry__.queries()["streaming_interval_join"](spark, SF_SMOKE).count()
    out["configured"] = spark.conf.get("spark.sql.shuffle.partitions")
    # listener events arrive on the listener bus after the query returns
    deadline = time.monotonic() + 30
    while not listener.collector.batches and time.monotonic() < deadline:
        time.sleep(0.2)
    out["rows"] = rows
    out["state_store_instances"] = sorted(
        {b.state_store_instances for b in listener.collector.batches}
    )

    # a partition count the driver set itself is kept
    spark.conf.set("spark.sql.shuffle.partitions", "6")
    __spark_entry__.queries()["tumbling_window_events"](spark, SF_SMOKE)
    out["driver_set"] = spark.conf.get("spark.sql.shuffle.partitions")
    spark.stop()
    return out


def checkpoint(workdir: str) -> dict:
    """The reference query checkpointed under Spark's default manager on a
    bare session, stopped mid-stream, then restarted from that checkpoint
    after ``__spark_entry__._configure`` applied the engine's rules: once
    as is (every row below the final watermark exactly once), once from a
    copy whose latest state delta has one flipped byte (must fail)."""
    from collections import Counter

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sinks import serialize_json
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import register
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import (
        parse_json_stream,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
        build_reference_query,
    )

    spark = (
        SparkSession.builder.appName("checkpoint-rule")
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    # 3 data micro-batches per stream, as in the kinesis_sim restart test
    o_opts = {"shards": 2, "records_per_shard": 90, "batch_records": 30,
              "template": "orders", "interval_ms": 40, "seed": 11}
    r_opts = {"shards": 1, "records_per_shard": 9, "batch_records": 3,
              "template": "rates", "interval_ms": 400, "seed": 12}
    total = 2 * 90 + 9

    def src(opts, streaming, schema):
        reader = spark.readStream if streaming else spark.read
        raw = reader.format("kinesis_sim").options(**opts).load()
        return parse_json_stream(raw, schema, value_col="data")

    def start(ckpt, out, trigger):
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

    def manager(q) -> str:
        return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()

    def wait_for(q, done, timeout=240):
        # stop only between triggers: a stop that interrupts a running
        # batch can surface from the Python source as a query failure
        deadline = time.time() + timeout
        while not done(q) or q.status["isTriggerActive"]:
            if q.exception() is not None:
                raise q.exception()
            if time.time() > deadline:
                raise TimeoutError("query did not reach its stop point")
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)

    ckpt, out = os.path.join(workdir, "ckpt"), os.path.join(workdir, "puts")
    result: dict = {"bare_manager": spark.conf.get(MANAGER_KEY, None)}
    q = start(ckpt, out, "60 seconds")  # paced, so the stop lands after batch 0
    result["first_run_manager"] = manager(q)
    wait_for(q, lambda q: len(q.recentProgress) >= 1)
    result["first_run_rows"] = sum(p["numInputRows"] for p in q.recentProgress)
    result["total_rows"] = total

    # a copy of the mid-stream checkpoint with one byte of the newest
    # non-empty state delta flipped
    bad = os.path.join(workdir, "ckpt_bad")
    shutil.copytree(ckpt, bad)
    deltas = [p for p in glob.glob(os.path.join(bad, "state", "**", "*.delta"), recursive=True)
              if os.path.getsize(p) > 16]
    version = lambda p: int(os.path.basename(p).split(".")[0])  # noqa: E731
    victim = max(deltas, key=version)
    with open(victim, "r+b") as f:
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    result["corrupted"] = os.path.relpath(victim, bad)

    __spark_entry__._configure(spark)
    result["configured_manager"] = spark.conf.get(MANAGER_KEY, None)

    q = start(bad, os.path.join(workdir, "puts_bad"), "100 milliseconds")
    try:
        q.awaitTermination(240)
    except Exception:  # the failure is read below, from the query itself
        pass
    failure = q._jsq.exception()
    result["corrupt_restart_error"] = (
        spark._jvm.org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(
            failure.get()
        ).toString()
        if failure.isDefined()
        else None
    )
    q.stop()

    ob, rb = src(o_opts, False, ORDER_SCHEMA), src(r_opts, False, EXCHANGE_RATE_SCHEMA)
    iso = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    final_wm = min(
        ob.select(F.date_format(F.max("orderTime"), iso)).first()[0],
        rb.select(F.date_format(F.max("exchangeRateTime"), iso)).first()[0],
    )
    q = start(ckpt, out, "100 milliseconds")
    result["restart_manager"] = manager(q)
    wait_for(q, lambda q: (q.lastProgress or {}).get("eventTime", {}).get(
        "watermark", "") >= final_wm)
    wm = q.lastProgress["eventTime"]["watermark"]
    below = {r["id"] for r in ob.where(F.col("orderTime") < F.to_timestamp(F.lit(wm))).collect()}
    expected = Counter(
        tuple(r) for r in build_reference_query(spark, ob, rb).collect() if r["id"] in below
    )
    got = Counter()
    for mpath in glob.glob(os.path.join(out, "batch=*", "_manifest.json")):
        with open(mpath) as mf:
            entries = json.load(mf)
        for m in entries:
            with open(m["file"]) as data:
                for line in data:
                    if line.strip():
                        rec = json.loads(json.loads(line)["value"])
                        if rec["id"] in below:
                            got[(rec["id"], rec["orderTime"], rec["originalAmount"],
                                 rec.get("convertedAmount"))] += 1
    result["expected_rows"] = sum(expected.values())
    result["matched_and_null_rows"] = [
        any(e[3] is not None for e in expected), any(e[3] is None for e in expected)
    ]
    result["exactly_once"] = got == expected
    spark.stop()
    return result


def _hadoop_conf_state(spark) -> dict:
    """The driver Hadoop conf's keys and values (a digest of the sorted
    map), final parameters (the same), provenance (map size and keys with
    a source) and the serialized size of a ``newHadoopConf`` copy."""
    import hashlib

    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import hadoop_property_sources

    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    sources = hadoop_property_sources(jvm, conf)
    copy = jvm.java.io.ByteArrayOutputStream()
    spark._jsparkSession.sessionState().newHadoopConf().write(jvm.java.io.DataOutputStream(copy))
    keys = [e.getKey() for e in conf.iterator()]

    def digest(java_collection) -> str:
        return hashlib.md5(java_collection.toString().encode()).hexdigest()

    return {
        "size": conf.size(),
        "values": digest(jvm.java.util.TreeMap(conf.getValByRegex(".*"))),
        "finals": digest(jvm.java.util.TreeSet(conf.getFinalParameters())),
        "field": sources is not None,
        "sources": None if sources is None else sources.size(),
        "keys_with_sources": sum(conf.getPropertySources(k) is not None for k in keys),
        "copy_bytes": copy.size(),
    }


def conf_sources(workdir: str) -> dict:
    """The conf-source rule on both session paths.  A bare ``SparkSession``
    handed to ``__spark_entry__._configure``: the driver Hadoop conf
    before and after.  Then, after a stop, a ``build_spark`` session with
    the same Hadoop settings: its conf once built, and again after a
    reference micro-batch and a parquet write and read."""
    from pyspark.sql import SparkSession

    import __spark_entry__
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark

    warehouse = os.path.join(workdir, "warehouse")
    spark = (
        SparkSession.builder.appName("conf-source-rule-driver")
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"bare": _hadoop_conf_state(spark)}
    __spark_entry__._configure(spark)
    out["configured"] = _hadoop_conf_state(spark)
    spark.stop()

    spark = build_spark(
        app_name="conf-source-rule", master="local[2]",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out["engine"] = _hadoop_conf_state(spark)
    out["batches"] = len(_reference_run(spark, workdir).recentProgress)
    pq = os.path.join(workdir, "pq")
    spark.range(100).write.parquet(pq)
    out["parquet_rows"] = spark.read.parquet(pq).count()
    out["after_run"] = _hadoop_conf_state(spark)
    spark.stop()
    return out


if __name__ == "__main__":
    mode = sys.argv[2] if len(sys.argv) > 2 else "engine"
    modes = {"engine": engine, "driver": driver, "checkpoint": checkpoint,
             "conf_sources": conf_sources}
    print(json.dumps(modes[mode](sys.argv[1])))
