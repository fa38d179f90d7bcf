"""The reference's exact topology, end to end, as a migration demo.

Reproduces the aws-samples Flink app (StreamingJob.java:21-135) on this
engine's Kinesis-shaped connector, then walks the three production
concerns the sample never covers — the boto3 adapter seam, ledger
persistence across a restart, and a parent→child reshard:

1. **The reference pipeline**: Orders (high-rate) and ExchangeRates
   (low-rate) read from two ``kinesis_sim`` streams, parsed (S2/S3),
   interval-joined per the reference's SQL (Q4: currency equi + 5 s
   half-open window, LEFT OUTER), projected through TimestampToString
   (S7) and int arithmetic (Q2).
2. **The SDK seam**: the same read routed through the boto3-shaped
   ``KinesisClient`` protocol (``client=fake_opaque``):
   opaque non-dense sequence numbers on the wire, translated back to the
   connector's dense ordinals by ``TranslatingKinesisClient`` — the
   wrapper a production ``boto3.client("kinesis")`` factory uses
   (docs/MIGRATION.md "Real AWS").
3. **Ledger persistence**: save the adapter's ordinal↔sequence ledger,
   restore it into a cold client, and show the anchored read does NOT
   recount from the horizon (inner-call count printed).
4. **Reshard**: re-read the stream with ``reshard_at`` — parents close,
   lineage children carry the rest — through the same adapter stack.
5. **Two-generation reshard**: a split followed by a merge of the split
   children (``reshard_plan``) — the merge child carries boto3's
   two-parent lineage (``ParentShardId`` + ``AdjacentParentShardId``),
   still read through the same adapter stack.

Run:  python examples/kinesis_migration_demo.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.interval_join import interval_join
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        OpaqueSeqKinesisClient,
        TranslatingKinesisClient,
        sdk_read_range,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import register

    spark = build_spark(app_name="kinesis_migration_demo", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    register_timestamp_to_string(spark)

    def read_stream(template: str, interval_ms: int, **extra):
        return (
            spark.read.format("kinesis_sim")
            .options(
                template=template,
                shards="1",
                records_per_shard="500",
                interval_ms=str(interval_ms),
                seed="42",
                **extra,
            )
            .load()
        )

    # -- 1. the reference pipeline (batch form of StreamingJob.java:91-101)
    orders = read_stream("orders", 50).select(
        F.from_json("data", ORDER_SCHEMA).alias("r")
    ).select("r.*")
    rates = read_stream("rates", 5000).select(
        F.from_json("data", EXCHANGE_RATE_SCHEMA).alias("r")
    ).select("r.*")
    joined = interval_join(
        orders,
        rates,
        on="currency",
        left_time="orderTime",
        right_time="exchangeRateTime",
        interval="5 seconds",
    ).selectExpr(
        "l.id AS id",
        "TimestampToString(l.orderTime) AS orderTime",
        "l.amount AS originalAmount",
        "l.amount * r.rate AS convertedAmount",
    )
    n, matched = joined.count(), joined.filter("convertedAmount IS NOT NULL").count()
    print(f"[1] reference join: {n} rows ({matched} rate-matched, {n - matched} NULL fan-in)")
    joined.orderBy("id").show(5, truncate=False)

    # -- 2. the same read through the full opaque-sequence adapter stack
    direct = read_stream("orders", 50)
    via_sdk = read_stream("orders", 50, client="fake_opaque")
    mismatch = direct.exceptAll(via_sdk).unionAll(via_sdk.exceptAll(direct)).count()
    print(f"[2] sdk adapter stack: {via_sdk.count()} records, wire-multiset mismatch = {mismatch}")

    # -- 3. ledger persistence across a "restart" (driver-side client demo)
    ledger_path = os.path.join(tempfile.mkdtemp(prefix="kmd_"), "orders.ledger.json")
    warm = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=1, seed=42, tip=10_000), ledger_path=ledger_path
    )
    sdk_read_range(warm, "orders", 0, 9_000, 9_100)  # deep read, ledger learns
    warm.save_ledger()
    cold_inner = OpaqueSeqKinesisClient(shards=1, seed=42, tip=10_000)
    cold = TranslatingKinesisClient(cold_inner, ledger_path=ledger_path, strict_anchor=True)
    rows = sdk_read_range(cold, "orders", 0, 9_100, 9_110)
    print(
        f"[3] restored ledger: read ordinals 9100-9110 ({len(rows)} records) with only "
        f"{cold_inner.n_calls} inner calls — no horizon recount (strict_anchor on)"
    )

    # -- 4. a parent→child reshard through the same stack
    resharded = read_stream(
        "orders", 50, reshard_at="200", client="fake_opaque"
    )
    per_shard = resharded.groupBy("shard_id").count().orderBy("shard_id")
    print("[4] resharded stream (parent closes at 200; children carry 300 each):")
    per_shard.show(truncate=False)

    # -- 5. a TWO-GENERATION reshard: the parent splits, then its children
    #       merge back (scale-up then scale-down — the lifecycle a real
    #       stream goes through).  The merge child carries boto3's
    #       two-parent lineage (ParentShardId + AdjacentParentShardId);
    #       everything still reads through the opaque-sequence adapter.
    import json as _json

    plan = [
        {"op": "split", "parent": 0, "at": 200},
        {"op": "merge", "parents": [1, 2], "at": 150},
    ]
    chained = read_stream(
        "orders", 50,
        reshard_plan=_json.dumps(plan), client="fake_opaque",
    )
    print("[5] two-generation reshard (split at 200, children merge at 150):")
    chained.groupBy("shard_id").count().orderBy("shard_id").show(truncate=False)
    lineage = OpaqueSeqKinesisClient(
        shards=1, tip=500, reshard_plan=plan
    ).list_shards(StreamName="orders")["Shards"]
    for s in lineage:
        parents = ", ".join(
            f"{k}={v}" for k, v in s.items() if k != "ShardId"
        ) or "original"
        print(f"    {s['ShardId']}: {parents}")

    spark.stop()


if __name__ == "__main__":
    main()
