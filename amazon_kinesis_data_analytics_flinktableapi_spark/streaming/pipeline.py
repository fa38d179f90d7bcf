"""The reference's full pipeline as Structured Streaming (SURVEY.md §2).

Reference dataflow (StreamingJob.java:21-135): two Kinesis JSON streams →
POJO binding → ascending-timestamp watermarks → dynamic tables Orders /
ExchangeRates → continuous SQL (LEFT OUTER interval join + TimestampToString
UDF + int arithmetic) → append stream → JSON sink.

``build_reference_query`` is the engine-side equivalent: takes two typed
*streaming* DataFrames, assigns watermarks, registers temp views, and runs
the same SQL through the session catalog with the registered
``TimestampToString`` (a SQL-bodied function that Spark inlines, so a
micro-batch makes no Python round trip for it).  Spark
extracts the event-time bound from the join condition and expires join
state automatically — the same bounded-state translation Flink's planner
performed (SURVEY.md §4).

Watermark-semantics note (§7 hard parts): Flink's ascending extractor emits
watermark = max(ts) − 1 ms continuously per subtask; Spark advances
min-across-partitions watermarks per micro-batch.  Same accepted rows on
in-order data; left-outer NULL rows emit later (after the next batch
advances the watermark).  Tests compare stream vs batch on exactly this
contract (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import register_timestamp_to_string

#: The reference SQL (StreamingJob.java:91-101), verbatim semantics —
#: an engine user migrating from the reference runs this unchanged.
REFERENCE_SQL = """
SELECT o.id,
       TimestampToString(o.eventtime) AS orderTime,
       o.amount AS originalAmount,
       CAST(o.amount * r.rate AS INT) AS convertedAmount
FROM Orders o LEFT JOIN ExchangeRates r
  ON o.currency = r.currency
 AND o.eventtime >= r.eventtime
 AND r.eventtime > o.eventtime - INTERVAL 5 SECONDS
"""


def build_reference_query(
    spark: SparkSession,
    orders: DataFrame,
    rates: DataFrame,
    watermark_delay: str = "0 seconds",
    interval: str = "5 seconds",
) -> DataFrame:
    """Wire Orders × ExchangeRates into the reference's continuous query.

    ``orders`` needs columns (id, orderTime, amount, currency); ``rates``
    (exchangeRateTime, currency, rate).  Works identically for batch and
    streaming inputs — the dynamic-table equivalence both Flink Table API
    and Structured Streaming are built on.
    """
    import uuid

    register_timestamp_to_string(spark)
    o = orders.withColumnRenamed("orderTime", "eventtime")
    r = rates.withColumnRenamed("exchangeRateTime", "eventtime")
    if o.isStreaming:
        o = o.withWatermark("eventtime", watermark_delay)
    if r.isStreaming:
        r = r.withWatermark("eventtime", watermark_delay)
    # per-invocation view names: fixed "Orders"/"ExchangeRates" are shared
    # session state, so building a second query (e.g. the batch twin next
    # to the streaming one) would silently rebind the first query's inputs.
    # spark.sql resolves the views HERE, so the suffix never outlives this
    # call and the user-facing REFERENCE_SQL stays verbatim.
    suffix = uuid.uuid4().hex[:8]
    o.createOrReplaceTempView(f"Orders_{suffix}")
    r.createOrReplaceTempView(f"ExchangeRates_{suffix}")
    sql = (
        REFERENCE_SQL.replace("INTERVAL 5 SECONDS", f"INTERVAL {interval}")
        .replace("FROM Orders o", f"FROM Orders_{suffix} o")
        .replace("JOIN ExchangeRates r", f"JOIN ExchangeRates_{suffix} r")
    )
    out = spark.sql(sql)
    # resolution happened eagerly in spark.sql(); drop the per-invocation
    # views so a long-lived session calling this repeatedly doesn't
    # accumulate unbounded catalog entries
    spark.catalog.dropTempView(f"Orders_{suffix}")
    spark.catalog.dropTempView(f"ExchangeRates_{suffix}")
    return out
