"""Subprocess body for the partition-rule tests (tests/test_engine.py).

``size_shuffle_partitions`` sizes ``spark.sql.shuffle.partitions`` from
the session's task slots, which exist only once a SparkContext starts, so
the rule is observable only in a process whose FIRST session is built
here.  Invoked via ``python -m tests.partition_rule_runner <workdir>
[engine|driver]``: ``engine`` builds the session with ``build_spark``,
``driver`` hands a bare ``SparkSession`` to ``__spark_entry__`` the way an
external driver does.  Prints one JSON line with the evidence the host
test asserts on, or exits nonzero with a traceback.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_SMOKE = "/root/testdata/sf0.001"


def engine(workdir: str) -> dict:
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
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

    spark = build_spark(app_name="partition-rule", master="local[3]")
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    out: dict = {"default": spark.conf.get("spark.sql.shuffle.partitions")}

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


if __name__ == "__main__":
    mode = sys.argv[2] if len(sys.argv) > 2 else "engine"
    print(json.dumps({"engine": engine, "driver": driver}[mode](sys.argv[1])))
