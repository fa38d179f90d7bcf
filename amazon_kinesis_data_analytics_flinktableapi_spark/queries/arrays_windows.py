"""Remaining SQL-surface coverage: ranking-function family, ordered array/
string aggregation, INTERSECT, self range join, and NULL-handling scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import half_up_round
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import load, query


@query(
    "rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS pct_rank,
           floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="ranking family: rank/dense_rank/ntile/percent_rank/cume_dist",
)
def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        half_up_round(F.percent_rank().over(w), 4).alias("pct_rank"),
        half_up_round(F.cume_dist().over(w), 4).alias("cume"),
    )


@query(
    "window_value_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           nth_value(o_totalprice, 2)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="value window family: first_value/last_value/nth_value with "
    "explicit full frames (last/nth need them — the default frame stops "
    "at CURRENT ROW)",
)
def q_window_value_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
    )


@query(
    "array_agg_sorted",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
           count(*) AS n
    FROM events
    GROUP BY user_id
    """,
    doc="ordered array aggregation: sorted distinct event types per user as CSV",
)
def q_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collect_list order is nondeterministic — sort+distinct before
    # stringifying makes the aggregate canonical (and oracle-comparable)
    (ev,) = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.array_distinct(F.collect_list("event_type")))).alias("event_types"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "set_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 3000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT set operation",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load(spark, sf_dir, "customer", "orders")
    rich = customer.filter(F.col("c_acctbal") > 3000).select("c_custkey")
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return rich.intersect(open_orders)


@query(
    "self_range_join",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           floor((epoch_us(b.ts) - epoch_us(a.ts) + 5000) // 10000) / 100.0 AS gap_secs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id <> a.event_id
     AND b.ts >= a.ts
     AND b.ts < a.ts + INTERVAL 5 MINUTE
     AND a.event_type = 'error' AND b.event_type = 'purchase'
    """,
    doc="self range join: purchases within 5 minutes after an error, per user",
)
def q_self_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the funnel-analysis shape: same-stream correlation within a time
    # horizon; equi on user_id (high cardinality — parallel without
    # bucketing), range as residual
    (ev,) = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").alias("a")
    b = ev.filter(F.col("event_type") == "purchase").alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.event_id") != F.col("a.event_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") < F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    # EXACT integer microseconds, not double timestamp casts: a gap on a
    # 5 ms boundary floors differently per engine off the double path
    # (same tie class session_gaps_islands already avoids) — the half-up
    # round in centiseconds is floor((gap_us + 5000) / 10000), pure
    # integer arithmetic both engines compute identically
    gap_us = F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))
    return a.join(b, cond).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        (F.floor((gap_us + 5000) / 10000) / 100.0).alias("gap_secs"),
    )


@query(
    "null_scalars",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_band,
           greatest(c_acctbal, 0.0) AS bal_floor,
           least(CAST(c_nationkey AS DOUBLE), 10.0) AS nation_capped
    FROM customer
    """,
    doc="NULL-handling + conditional scalars: coalesce/nullif/case/greatest/least",
)
def q_null_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias("segment_masked"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_nationkey").cast("double"), F.lit(10.0)).alias("nation_capped"),
    )


@query(
    "array_hof_pipeline",
    oracle="""
    WITH arrs AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events
      WHERE (value IS NULL OR isfinite(value))
      GROUP BY user_id
    ), t AS (
      SELECT user_id,
             list_transform(vals, x -> CAST(FLOOR(x * 100) AS BIGINT)) AS cents
      FROM arrs
    ), f AS (
      SELECT user_id, cents,
             list_filter(cents, x -> x > 500) AS big
      FROM t
    )
    SELECT user_id,
           len(cents) AS n_values,
           len(big) AS n_big,
           CAST(coalesce(list_aggregate(big, 'sum'), 0) AS BIGINT) AS big_cents_sum
    FROM f
    """,
    doc="array higher-order functions: per-user ordered value array -> "
    "transform (to integer cents) -> filter (> 5.00) -> aggregate (sum), "
    "all inside codegen — the lambda-pipeline shape over collected arrays",
)
def q_array_hof_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transform/filter/aggregate run element-wise inside the scan stage; the
    # only shuffle is the per-user collect.  Integer cents keep the fold
    # exact (no float-order flake across engines).
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import finite_or_null

    (ev,) = load(spark, sf_dir, "events")
    ev = ev.filter(finite_or_null("value"))  # non-finite swallow (r14)
    arrs = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("rows")
    )
    # materialize each lambda stage ONCE through stepped projections:
    # inlining cents/big into all three outputs re-runs the interpreted
    # transform chain 3× (and the filter 2×) per row — Catalyst's
    # CollapseProject keeps these steps separate because the aliases are
    # non-cheap and multiply-referenced
    vals = F.transform("rows", lambda r: r.getField("value"))
    staged = arrs.select(
        "user_id", F.transform(vals, lambda x: F.floor(x * 100)).alias("cents")
    ).select("user_id", "cents", F.filter("cents", lambda x: x > 500).alias("big"))
    return staged.select(
        "user_id",
        F.size("cents").alias("n_values"),
        F.size("big").alias("n_big"),
        F.aggregate("big", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("big_cents_sum"),
    )


@query(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts NULLS LAST, event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(is_first) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS LAST, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS distinct_types_so_far
    FROM flagged
    """,
    doc="running COUNT(DISTINCT) over a window — unsupported directly in "
    "Spark (and expensive anywhere) — via the portable first-occurrence-"
    "flag decomposition: row_number()=1 per (key, value) marks each value's "
    "debut, a running sum of debuts IS the running distinct count",
)
def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: two window passes over the SAME (user_id-rooted) partitioning —
    # the second window's partition key is a prefix of the first's, so
    # Catalyst reuses one shuffle on user_id (plus in-partition sorts);
    # state per group is one counter, never a distinct-set.
    (ev,) = load(spark, sf_dir, "events")
    # NULLS LAST pinned on both engines — see queries/mining.py cusum note
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_run).cast("bigint").alias("distinct_types_so_far"),
    )
