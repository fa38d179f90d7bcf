"""Reference-surface queries (SURVEY.md §2 S1-K3) on driver TESTDATA.

The reference's single query (StreamingJob.java:91-101) is a stream-stream
LEFT OUTER interval join of high-rate Orders to low-rate ExchangeRates on
currency within ``(o.t - 5s, o.t]``, projected through a scalar UDF and int
arithmetic.  Per FIXTURES.md §5 the roles map onto TESTDATA ``events``:

- orders role  ← all events (id, order_time, amount, currency := event_type)
- rates role   ← the low-rate slice ``event_id % 17 = 0`` (~6%)
- join window  ← 1 hour (events average one per ~4.3 min per type at
  sf0.01, so a 1 h window exercises match, multi-match fan-out, AND
  no-match NULL rows — all three Q4 semantics).

Casts use FLOOR before int conversion: Spark CAST(double AS INT) truncates
while DuckDB rounds, so FLOOR is the only portable int-ization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import register_timestamp_to_string
from amazon_kinesis_data_analytics_flinktableapi_spark.operators.interval_join import (
    interval_join,
    interval_join_bucketed,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import load, query

# The int-binding roles swallow non-finite value rows (r14 audit: one
# NaN/±inf row aborts the whole job at the inf→int CAST under ANSI on
# both engines — the reference's own malformed-record policy,
# StreamingJob.java:120-122, degrades instead of aborting; see
# functions.scalar.finite_or_null).  NULL value stays in: FLOOR(NULL)
# binds to a NULL amount on both engines.
_ORDERS_ROLE = """
    SELECT event_id AS id,
           ts AS order_time,
           CAST(FLOOR(value * 100) AS INTEGER) AS amount,
           event_type AS currency
    FROM events
    WHERE (value IS NULL OR isfinite(value))
"""
_RATES_ROLE = """
    SELECT ts AS rate_time,
           event_type AS currency,
           CAST(FLOOR(value) AS INTEGER) % 97 + 2 AS rate
    FROM events
    WHERE event_id % 17 = 0 AND (value IS NULL OR isfinite(value))
"""


def _orders_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import finite_or_null

    (ev,) = load(spark, sf_dir, "events")
    return ev.filter(finite_or_null("value")).select(
        F.col("event_id").alias("id"),
        F.col("ts").alias("order_time"),
        F.floor(F.col("value") * 100).cast("int").alias("amount"),
        F.col("event_type").alias("currency"),
    )


def _rates_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import finite_or_null

    (ev,) = load(spark, sf_dir, "events")
    return ev.filter((F.col("event_id") % 17 == 0) & finite_or_null("value")).select(
        F.col("ts").alias("rate_time"),
        F.col("event_type").alias("currency"),
        (F.floor(F.col("value")).cast("int") % 97 + 2).alias("rate"),
    )


@query(
    "interval_join",
    oracle=f"""
    WITH o AS ({_ORDERS_ROLE}), r AS ({_RATES_ROLE})
    SELECT o.id, o.order_time, o.amount, o.currency, r.rate,
           o.amount * r.rate AS converted_amount
    FROM o LEFT JOIN r
      ON o.currency = r.currency
     AND o.order_time >= r.rate_time
     AND r.rate_time > o.order_time - INTERVAL 1 HOUR
    """,
    headline=True,
    doc="Q4: left-outer interval join, half-open (t-1h, t], multi-match fan-out",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucketed plan: equi-join on (currency, hour-bucket) — the
    # low-cardinality currency key alone would serialize the probe
    o = _orders_role(spark, sf_dir)
    r = _rates_role(spark, sf_dir)
    j = interval_join_bucketed(o, r, on="currency", left_time="order_time", right_time="rate_time", interval="1 hour")
    return j.select(
        F.col("l.id").alias("id"),
        F.col("l.order_time").alias("order_time"),
        F.col("l.amount").alias("amount"),
        F.col("l.currency").alias("currency"),
        F.col("r.rate").alias("rate"),
        (F.col("l.amount") * F.col("r.rate")).alias("converted_amount"),
    )


@query(
    "interval_join_full",
    oracle=f"""
    WITH o0 AS ({_ORDERS_ROLE}),
    o AS (SELECT * FROM o0 WHERE currency <> 'view'),
    r AS ({_RATES_ROLE})
    SELECT o.id, o.amount,
           o.currency AS o_currency, r.currency AS r_currency, r.rate,
           o.amount * r.rate AS converted_amount
    FROM o FULL JOIN r
      ON o.currency = r.currency
     AND o.order_time >= r.rate_time
     AND r.rate_time > o.order_time - INTERVAL 1 HOUR
    """,
    doc="full-outer interval join: unmatched orders AND unmatched rates "
    "both emit NULL-extended (orders drop the 'view' currency so every "
    "'view' rate genuinely exercises right preservation) — through the "
    "NAIVE operator, because the bucketed plan's 2x right-side explode is "
    "left-preserving only (it rejects right/full outer by contract, "
    "ValueError-tested)",
)
def q_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders_role(spark, sf_dir).filter(F.col("currency") != "view")
    r = _rates_role(spark, sf_dir)
    j = interval_join(
        o, r, on="currency", left_time="order_time", right_time="rate_time",
        interval="1 hour", how="full_outer",
    )
    return j.select(
        F.col("l.id").alias("id"),
        F.col("l.amount").alias("amount"),
        F.col("l.currency").alias("o_currency"),
        F.col("r.currency").alias("r_currency"),
        F.col("r.rate").alias("rate"),
        (F.col("l.amount") * F.col("r.rate")).alias("converted_amount"),
    )


#: DuckDB replica of java.sql.Timestamp.toString() (see functions.scalar):
#: seconds part, then fraction with trailing zeros stripped, min 1 digit.
_DUCK_TS_TO_STRING = (
    "strftime({c}, '%Y-%m-%d %H:%M:%S') || '.' || "
    "CASE WHEN regexp_replace(strftime({c}, '%f'), '0+$', '') = '' THEN '0' "
    "ELSE regexp_replace(strftime({c}, '%f'), '0+$', '') END"
)


@query(
    "currency_conversion",
    oracle=f"""
    WITH o AS ({_ORDERS_ROLE}), r AS ({_RATES_ROLE})
    SELECT o.id,
           {_DUCK_TS_TO_STRING.format(c="o.order_time")} AS order_time,
           o.amount AS original_amount,
           o.amount * r.rate AS converted_amount
    FROM o LEFT JOIN r
      ON o.currency = r.currency
     AND o.order_time >= r.rate_time
     AND r.rate_time > o.order_time - INTERVAL 1 HOUR
    """,
    headline=True,
    doc="the reference's full SELECT (StreamingJob.java:92-100): UDF + int arithmetic + aliases",
)
def q_currency_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shape of the reference result (Result.java:3-8), via engine SQL
    with the registered ``TimestampToString`` function — exercises the SQL
    entry point + catalog + Python (pandas) UDF registration path
    end-to-end (the join itself runs through the bucketed operator plan)."""
    register_timestamp_to_string(spark, impl="pandas")
    j = interval_join_bucketed(
        _orders_role(spark, sf_dir),
        _rates_role(spark, sf_dir),
        on="currency",
        left_time="order_time",
        right_time="rate_time",
        interval="1 hour",
    )
    j.createOrReplaceTempView("JoinedOrders")
    return spark.sql(
        """
        SELECT id,
               TimestampToString(order_time) AS order_time,
               amount AS original_amount,
               amount * rate AS converted_amount
        FROM JoinedOrders
        """
    )


@query(
    "interval_join_forward",
    oracle=f"""
    WITH o AS ({_ORDERS_ROLE}), r AS ({_RATES_ROLE})
    SELECT o.id, o.order_time, o.amount, o.currency, r.rate,
           o.amount * r.rate AS converted_amount
    FROM o LEFT JOIN r
      ON o.currency = r.currency
     AND r.rate_time >= o.order_time
     AND r.rate_time < o.order_time + INTERVAL 1 HOUR
    """,
    doc="Q4 mirror: forward-direction bucketed interval join, half-open [t, t+1h)",
)
def q_interval_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Look-ahead variant of the centerpiece join: each order matches rates
    published in the NEXT hour ``[t, t+W)``.  Exercises the forward branch
    of the bucket algebra (``interval_join.py``: b(t) ∈ {b(s)−1, b(s)},
    shift = −1) that the reference-shaped backward queries never touch —
    the 2×-explode equi-join plan is correctness-critical and needs its own
    driver attestation."""
    o = _orders_role(spark, sf_dir)
    r = _rates_role(spark, sf_dir)
    j = interval_join_bucketed(
        o,
        r,
        on="currency",
        left_time="order_time",
        right_time="rate_time",
        interval="1 hour",
        direction="forward",
    )
    return j.select(
        F.col("l.id").alias("id"),
        F.col("l.order_time").alias("order_time"),
        F.col("l.amount").alias("amount"),
        F.col("l.currency").alias("currency"),
        F.col("r.rate").alias("rate"),
        (F.col("l.amount") * F.col("r.rate")).alias("converted_amount"),
    )


#: DuckDB twin of kinesis_sim._h — 60-bit md5-derived hash, same convention
#: as functions.text.md5_hash60 (15 hex chars always fit a positive BIGINT).
_DUCK_KSIM_H = "('0x' || substr(md5({seed} || ':' || s.shard || ':' || q.seq || ':' || '{salt}'), 1, 15))::BIGINT"

#: one generated shard×seq grid per template — the literal DuckDB
#: re-derivation of kinesis_sim._record (same seed/shard/seq → same bytes)
_DUCK_KSIM_ORDERS = f"""
    SELECT s.shard * 1000000000 + q.seq AS id,
           TIMESTAMP '2024-01-01 00:00:00'
             + (q.seq * 40 + s.shard) * INTERVAL 1 MILLISECOND AS order_time,
           CAST({_DUCK_KSIM_H.format(seed=7, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
           ['click','view','signup','purchase','error']
             [{_DUCK_KSIM_H.format(seed=7, salt='c')} % 5 + 1] AS currency
    FROM range(2) s(shard), range(150) q(seq)
"""
_DUCK_KSIM_RATES = f"""
    SELECT TIMESTAMP '2024-01-01 00:00:00'
             + (q.seq * 400 + s.shard) * INTERVAL 1 MILLISECOND AS rate_time,
           ['click','view','signup','purchase','error']
             [{_DUCK_KSIM_H.format(seed=8, salt='c')} % 5 + 1] AS currency,
           CAST({_DUCK_KSIM_H.format(seed=8, salt='r')} % 97 + 2 AS INTEGER) AS rate
    FROM range(1) s(shard), range(30) q(seq)
"""


@query(
    "kinesis_interval_join",
    oracle=f"""
    WITH o AS ({_DUCK_KSIM_ORDERS}), r AS ({_DUCK_KSIM_RATES})
    SELECT o.id, o.order_time, o.amount AS original_amount, r.rate,
           CAST(o.amount * r.rate AS INTEGER) AS converted_amount
    FROM o LEFT JOIN r
      ON o.currency = r.currency
     AND o.order_time >= r.rate_time
     AND r.rate_time > o.order_time - INTERVAL 5 SECOND
    """,
    doc="S1+S2+Q4 end-to-end through the in-repo kinesis_sim connector",
)
def q_kinesis_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference topology driven entirely through ``format("kinesis_sim")``
    (StreamingJob.java:26-41 consumer contract + 96-100 join): two
    Kinesis-shaped generated streams (orders 2 shards × 150 records @ 40 ms,
    rates 1 shard × 30 @ 400 ms — the e2e test fixture's shape), JSON-parsed
    via the shared S2 path, joined with the reference's 5-second half-open
    interval.  The DuckDB oracle regenerates the *identical* records from the
    same (seed, shard, seq) → md5 derivation, so the driver hash-checks the
    connector's wire bytes, the JSON parse, and the join in one row.
    ``sf_dir`` is unused — the connector is the source."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        register as register_kinesis,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream

    register_kinesis(spark)

    def src(template: str, **opts):
        return (
            spark.read.format("kinesis_sim")
            .options(template=template, **{k: str(v) for k, v in opts.items()})
            .load()
        )

    o_raw = src("orders", shards=2, records_per_shard=150, interval_ms=40, seed=7)
    r_raw = src("rates", shards=1, records_per_shard=30, interval_ms=400, seed=8)
    o = parse_json_stream(o_raw, ORDER_SCHEMA, value_col="data").withColumnRenamed(
        "orderTime", "order_time"
    )
    r = parse_json_stream(r_raw, EXCHANGE_RATE_SCHEMA, value_col="data").withColumnRenamed(
        "exchangeRateTime", "rate_time"
    )
    j = interval_join_bucketed(
        o, r, on="currency", left_time="order_time", right_time="rate_time", interval="5 seconds"
    )
    return j.select(
        F.col("l.id").alias("id"),
        F.col("l.order_time").alias("order_time"),
        F.col("l.amount").alias("original_amount"),
        F.col("r.rate").alias("rate"),
        (F.col("l.amount") * F.col("r.rate")).cast("int").alias("converted_amount"),
    )


@query(
    "kinesis_merge_interval_join",
    oracle=f"""
    WITH topo(shard, n) AS (VALUES (0, 100), (1, 100), (2, 50)),
    o AS (
      SELECT s.shard * 1000000000 + q.seq AS id,
             TIMESTAMP '2024-01-01 00:00:00'
               + (q.seq * 40 + s.shard) * INTERVAL 1 MILLISECOND AS order_time,
             CAST({_DUCK_KSIM_H.format(seed=7, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H.format(seed=7, salt='c')} % 5 + 1] AS currency
      FROM topo s, range(150) q(seq)
      WHERE q.seq < s.n
    ), r AS ({_DUCK_KSIM_RATES})
    SELECT o.id, o.order_time, o.amount AS original_amount, r.rate,
           CAST(o.amount * r.rate AS INTEGER) AS converted_amount
    FROM o LEFT JOIN r
      ON o.currency = r.currency
     AND o.order_time >= r.rate_time
     AND r.rate_time > o.order_time - INTERVAL 5 SECOND
    """,
    doc="S1 merge lineage + S2 + Q4: the reference join fed by a post-merge "
        "reshard stream",
)
def q_kinesis_merge_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference topology's interval join (StreamingJob.java:96-100)
    driven from a DOWNSCALED stream: the orders side reads a kinesis_sim
    stream whose two shards merged mid-stream (``{"op": "merge",
    "parents": [0, 1], "at": 100}`` — both parents close at 100 records,
    merge child 2 carries ``ParentShardId`` + ``AdjacentParentShardId``
    and 50 fresh records), so the consumer surface the reference's
    FlinkKinesisConsumer handles on a real downscale
    (StreamingJob.java:26-41) flows through the same parse→join path the
    plain-topology ``kinesis_interval_join`` attests.  The DuckDB oracle
    regenerates the identical post-merge record multiset from a literal
    (shard, n_records) topology table — the driver hash-checks lineage
    completeness (parents truncated at the merge point, child's own
    dense space) THROUGH the join, not just at the wire."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
        EXCHANGE_RATE_SCHEMA,
        ORDER_SCHEMA,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        register as register_kinesis,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream

    register_kinesis(spark)
    o_raw = (
        spark.read.format("kinesis_sim")
        .options(
            template="orders", shards="2", records_per_shard="150",
            interval_ms="40", seed="7",
            reshard_plan='[{"op": "merge", "parents": [0, 1], "at": 100}]',
        )
        .load()
    )
    r_raw = (
        spark.read.format("kinesis_sim")
        .options(
            template="rates", shards="1", records_per_shard="30",
            interval_ms="400", seed="8",
        )
        .load()
    )
    o = parse_json_stream(o_raw, ORDER_SCHEMA, value_col="data").withColumnRenamed(
        "orderTime", "order_time"
    )
    r = parse_json_stream(r_raw, EXCHANGE_RATE_SCHEMA, value_col="data").withColumnRenamed(
        "exchangeRateTime", "rate_time"
    )
    j = interval_join_bucketed(
        o, r, on="currency", left_time="order_time", right_time="rate_time", interval="5 seconds"
    )
    return j.select(
        F.col("l.id").alias("id"),
        F.col("l.order_time").alias("order_time"),
        F.col("l.amount").alias("original_amount"),
        F.col("r.rate").alias("rate"),
        (F.col("l.amount") * F.col("r.rate")).cast("int").alias("converted_amount"),
    )


@query(
    "kinesis_fake_sdk_roundtrip",
    oracle=f"""
    WITH o AS (
      SELECT printf('shardId-%012d', s.shard) AS shard_id,
             q.seq AS seq,
             CAST({_DUCK_KSIM_H.format(seed=13, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H.format(seed=13, salt='c')} % 5 + 1] AS currency
      FROM range(2) s(shard), range(200) q(seq)
    )
    SELECT shard_id, currency,
           count(*) AS n_records,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           min(seq) AS min_seq,
           max(seq) AS max_seq,
           0 AS n_mismatch
    FROM o GROUP BY shard_id, currency
    """,
    doc="S1 seam attestation: generator path vs SDK-client path compared as "
    "MULTISETS (symmetric exceptAll), hash-checked against the DuckDB "
    "re-derivation — a dropped, duplicated, or fabricated record on either "
    "acquisition path makes n_mismatch nonzero and fails the gate",
)
def q_kinesis_fake_sdk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 #4 driver row: the real-AWS swap seam.  The same stream
    (orders, 2 shards × 200 @ 25 ms, seed 13) is read twice — once through
    the direct generator and once through ``client=fake_sdk``, where every
    record is acquired via the boto3-shaped :class:`KinesisClient` protocol
    (``get_shard_iterator``/``get_records`` with pagination,
    sources/kinesis_client.py) — and compared as MULTISETS on the full wire
    tuple: ``n_mismatch`` counts rows on either side only (symmetric
    ``exceptAll``), so missing, duplicated, AND fabricated records all fail
    the oracle's ``0`` (a plain INTERSECT would ignore adapter-side
    duplicates/extras).  The aggregates themselves hash-match the oracle's
    independent md5 re-derivation.  ``sf_dir`` is unused — the connector is
    the source."""
    return _wire_parity_roundtrip(
        spark,
        seed=13,
        records_per_shard=200,
        interval_ms=25,
        client_opts={"client": "fake_sdk"},
    )


def _wire_parity_roundtrip(
    spark: SparkSession,
    seed: int,
    records_per_shard: int,
    interval_ms: int,
    client_opts: dict,
    base_opts: dict | None = None,
    shards: int = 2,
) -> DataFrame:
    """Shared body of the SDK-seam attestation queries: direct generator
    vs a KinesisClient (``client_opts`` names the ``client`` backend;
    ``base_opts`` extends BOTH reads, e.g. ``reshard_at`` /
    ``reshard_plan``), multiset-compared on the full wire tuple,
    aggregated per (shard, currency) with the symmetric-difference count
    as a column.

    Both reads are ``.cache()``d: the mismatch guard consumes each path
    twice (exceptAll both ways) and the aggregate re-scans ``via_sdk`` —
    caching makes that one connector scan per side instead of three.
    The cached footprint is the attestation stream itself (≤ a few
    hundred wire tuples), evicted with the session.
    """
    from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import ORDER_SCHEMA
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        register as register_kinesis,
    )

    register_kinesis(spark)
    base = dict(
        template="orders",
        shards=str(shards),
        records_per_shard=str(records_per_shard),
        interval_ms=str(interval_ms),
        seed=str(seed),
        **(base_opts or {}),
    )
    direct = spark.read.format("kinesis_sim").options(**base).load().cache()
    via_sdk = (
        spark.read.format("kinesis_sim")
        .options(**base, **client_opts)
        .load()
        .cache()
    )
    mismatch = (
        direct.exceptAll(via_sdk)
        .unionAll(via_sdk.exceptAll(direct))
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    parsed = via_sdk.select(
        "shard_id",
        F.col("sequence_number").alias("seq"),
        F.from_json(F.col("data"), ORDER_SCHEMA).alias("r"),
    )
    agg = parsed.groupBy("shard_id", F.col("r.currency").alias("currency")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("r.amount").alias("sum_amount"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
    )
    # 1-row broadcastable guard column: any asymmetry anywhere in the wire
    # multiset lands on every output row and fails the value hash
    return agg.crossJoin(F.broadcast(mismatch)).withColumn(
        "n_mismatch", F.col("n_mismatch").cast("int")
    )


@query(
    "kinesis_translating_sdk_roundtrip",
    oracle=f"""
    WITH o AS (
      SELECT printf('shardId-%012d', s.shard) AS shard_id,
             q.seq AS seq,
             CAST({_DUCK_KSIM_H.format(seed=21, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H.format(seed=21, salt='c')} % 5 + 1] AS currency
      FROM range(2) s(shard), range(120) q(seq)
    )
    SELECT shard_id, currency,
           count(*) AS n_records,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           min(seq) AS min_seq,
           max(seq) AS max_seq,
           0 AS n_mismatch
    FROM o GROUP BY shard_id, currency
    """,
    doc="S1 adapter-stack attestation: the opaque-sequence backend behind "
    "TranslatingKinesisClient vs the direct generator, compared as "
    "MULTISETS on the wire tuple and hash-checked against the DuckDB "
    "re-derivation — a mistranslated, duplicated, or fabricated ordinal "
    "anywhere makes n_mismatch nonzero and fails the gate",
)
def q_kinesis_translating_sdk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r7 #4 driver row: the ordinal↔opaque-sequence translation a
    production ``aws`` factory needs, driven end-to-end.  The same stream
    (orders, 2 shards × 120 @ 30 ms, seed 21) is read through the direct
    generator and through ``client=fake_opaque`` — where
    every record is served with REAL-shaped opaque non-dense sequence
    strings (sources/kinesis_client.py OpaqueSeqKinesisClient) and mapped
    back to the connector's dense ordinals by TranslatingKinesisClient's
    per-shard ledger.  The comparison is a symmetric MULTISET diff on the
    full wire tuple (including ``sequence_number``), surfaced as the
    ``n_mismatch`` column the oracle pins to 0 — so an off-by-one in the
    ledger fast-forward, a double-served page, or a fabricated record all
    fail the hash.  ``sf_dir`` is unused — the connector is the source."""
    return _wire_parity_roundtrip(
        spark,
        seed=21,
        records_per_shard=120,
        interval_ms=30,
        client_opts={"client": "fake_opaque"},
    )


@query(
    "kinesis_throttled_roundtrip",
    oracle=f"""
    WITH o AS (
      SELECT printf('shardId-%012d', s.shard) AS shard_id,
             q.seq AS seq,
             CAST({_DUCK_KSIM_H.format(seed=33, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H.format(seed=33, salt='c')} % 5 + 1] AS currency
      FROM range(2) s(shard), range(90) q(seq)
    )
    SELECT shard_id, currency,
           count(*) AS n_records,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           min(seq) AS min_seq,
           max(seq) AS max_seq,
           0 AS n_mismatch
    FROM o GROUP BY shard_id, currency
    """,
    doc="S1 fault-contract attestation: the retry adapter over injected "
    "throttling + expired-iterator schedules vs the direct generator, "
    "compared as MULTISETS on the wire tuple and hash-checked — a "
    "dropped page, double-served retry, or wrong re-acquisition position "
    "anywhere makes n_mismatch nonzero or shifts the aggregates and "
    "fails the gate",
)
def q_kinesis_throttled_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r10 #2 driver row: the adapter retry obligations
    (KinesisClient protocol docstring) driven end-to-end.  The same
    stream (orders, 2 shards × 90 @ 20 ms, seed 33) is read through the
    direct generator and through ``client=fake_throttling`` — where every 3rd ``get_records`` raises
    ``ProvisionedThroughputExceededException`` and every 5th poisons its
    iterator with ``ExpiredIteratorException``
    (sources/kinesis_client.py ThrottlingKinesisClient), absorbed by
    RetryingKinesisClient's backoff + AFTER_SEQUENCE_NUMBER
    re-acquisition — the behavior the reference inherits from
    FlinkKinesisConsumer (StreamingJob.java:26-41).  Symmetric MULTISET
    diff on the full wire tuple as ``n_mismatch``, pinned 0 by the
    oracle: a record lost to a throttle, duplicated by a retry, or
    re-acquired at the wrong position fails the hash.  ``sf_dir`` is
    unused — the connector is the source."""
    return _wire_parity_roundtrip(
        spark,
        seed=33,
        records_per_shard=90,
        interval_ms=20,
        client_opts={
            "client": "fake_throttling",
            "throttle_every": "3",
            "expire_every": "5",
        },
    )


#: _DUCK_KSIM_H over a pre-built (shard, seq) position table aliased ``p``
_DUCK_KSIM_H_P = _DUCK_KSIM_H.replace("s.shard", "p.shard").replace("q.seq", "p.seq")


@query(
    "kinesis_reshard_roundtrip",
    oracle=f"""
    WITH pos AS (
      SELECT s.shard AS shard, q.seq AS seq
      FROM range(2) s(shard), range(60) q(seq)
      UNION ALL
      SELECT 2 + c.child AS shard, q.seq AS seq
      FROM range(4) c(child), range(60) q(seq)
    ),
    o AS (
      SELECT printf('shardId-%012d', p.shard) AS shard_id,
             p.seq AS seq,
             CAST({_DUCK_KSIM_H_P.format(seed=31, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H_P.format(seed=31, salt='c')} % 5 + 1] AS currency
      FROM pos p
    )
    SELECT shard_id, currency,
           count(*) AS n_records,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           min(seq) AS min_seq,
           max(seq) AS max_seq,
           0 AS n_mismatch
    FROM o GROUP BY shard_id, currency
    """,
    doc="S1 reshard attestation: a parent→child shard split read through "
    "the FULL opaque-sequence adapter stack vs the direct generator, "
    "multiset-compared on the wire tuple and hash-checked against the "
    "DuckDB re-derivation of parents' closed ranges plus children's own "
    "sequence spaces — a record lost, duplicated, or mis-translated at "
    "the split boundary makes n_mismatch nonzero and fails the gate",
)
def q_kinesis_reshard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r8 #5 driver row: the adapter's shard-lineage story driven
    end-to-end.  The stream (orders, 2 shards × 120 @ 30 ms, seed 31)
    RESHARDS at sequence 60: both parents close and split into two
    children each (``shard_topology``), so the topology is 2 closed
    parents × 60 records + 4 open children × 60 records.  It is read
    through the direct generator and through ``client=fake_opaque`` — opaque non-dense sequence numbers on every
    shard, translated back to dense per-shard ordinals by
    TranslatingKinesisClient with an independent ledger key per lineage
    shard — and compared as a symmetric MULTISET diff on the full wire
    tuple (``n_mismatch``, oracle-pinned to 0).  ``sf_dir`` is unused —
    the connector is the source."""
    return _wire_parity_roundtrip(
        spark,
        seed=31,
        records_per_shard=120,
        interval_ms=30,
        client_opts={"client": "fake_opaque"},
        base_opts={"reshard_at": "60"},
    )


@query(
    "kinesis_merge_roundtrip",
    oracle=f"""
    WITH pos AS (
      SELECT s.shard AS shard, q.seq AS seq
      FROM range(6) s(shard), range(60) q(seq)
    ),
    o AS (
      SELECT printf('shardId-%012d', p.shard) AS shard_id,
             p.seq AS seq,
             CAST({_DUCK_KSIM_H_P.format(seed=37, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H_P.format(seed=37, salt='c')} % 5 + 1] AS currency
      FROM pos p
    )
    SELECT shard_id, currency,
           count(*) AS n_records,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           min(seq) AS min_seq,
           max(seq) AS max_seq,
           0 AS n_mismatch
    FROM o GROUP BY shard_id, currency
    """,
    doc="S1 shard-MERGE attestation: two parents close into one "
    "AdjacentParentShardId-carrying child, read through the FULL "
    "opaque-sequence adapter stack vs the direct generator, "
    "multiset-compared on the wire tuple and hash-checked against the "
    "DuckDB re-derivation — a record lost, duplicated, or mis-translated "
    "at the merge boundary makes n_mismatch nonzero and fails the gate",
)
def q_kinesis_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r9 #2 driver row: the adapter's shard-MERGE story driven
    end-to-end.  The stream (orders, 4 shards × 120 @ 30 ms, seed 37)
    merges pairwise at sequence 60 — ``reshard_plan`` closes shards
    (0, 1) into child 4 and (2, 3) into child 5, each child carrying
    ``ParentShardId`` AND ``AdjacentParentShardId`` (boto3's merge
    lineage, ``StreamingJob.java:26-41`` is the consumer surface) — so
    the topology is 4 closed parents × 60 records + 2 merge children ×
    60 records, all with 60-record dense spaces (the oracle's 6×60
    grid).  It is read through the direct generator and through
    ``client=fake_opaque`` — opaque non-dense sequence
    numbers on every shard, translated back per lineage shard by
    TranslatingKinesisClient — and compared as a symmetric MULTISET diff
    on the full wire tuple (``n_mismatch``, oracle-pinned to 0).
    ``sf_dir`` is unused — the connector is the source."""
    import json as _json

    plan = [
        {"op": "merge", "parents": [0, 1], "at": 60},
        {"op": "merge", "parents": [2, 3], "at": 60},
    ]
    return _wire_parity_roundtrip(
        spark,
        seed=37,
        records_per_shard=120,
        interval_ms=30,
        client_opts={"client": "fake_opaque"},
        base_opts={"reshard_plan": _json.dumps(plan)},
        shards=4,
    )


@query(
    "kinesis_reshard_chain_roundtrip",
    oracle=f"""
    WITH pos AS (
      SELECT s.shard AS shard, q.seq AS seq
      FROM range(6) s(shard), range(60) q(seq)
      UNION ALL
      SELECT 6 AS shard, q.seq AS seq
      FROM range(120) q(seq)
    ),
    o AS (
      SELECT printf('shardId-%012d', p.shard) AS shard_id,
             p.seq AS seq,
             CAST({_DUCK_KSIM_H_P.format(seed=41, salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             ['click','view','signup','purchase','error']
               [{_DUCK_KSIM_H_P.format(seed=41, salt='c')} % 5 + 1] AS currency
      FROM pos p
    )
    SELECT shard_id, currency,
           count(*) AS n_records,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           min(seq) AS min_seq,
           max(seq) AS max_seq,
           0 AS n_mismatch
    FROM o GROUP BY shard_id, currency
    """,
    doc="S1 multi-generation reshard attestation: a two-generation lineage "
    "DAG (split, then the child splits again AND merges with an original "
    "shard) read through the FULL opaque-sequence adapter stack vs the "
    "direct generator, multiset-compared on the wire tuple and "
    "hash-checked against the DuckDB re-derivation — any loss, "
    "duplication, or mistranslation across EITHER generation boundary "
    "makes n_mismatch nonzero and fails the gate",
)
def q_kinesis_reshard_chain_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r9 #3 driver row: multi-generation reshard chains driven
    end-to-end.  The stream (orders, 2 shards × 180 @ 20 ms, seed 41)
    evolves through THREE events — shard 0 splits at 60 into children
    (2, 3); child 2 splits again at 60 into grandchildren (4, 5); and
    child 3 MERGES with original shard 1 at 60 into child 6 (carrying
    ``ParentShardId=1`` and ``AdjacentParentShardId=3``) — so lineage
    forms a two-generation DAG: 4 closed shards (0, 1, 2, 3) × 60, two
    open grandchildren (4, 5) × 60, and one open merge child (6) × 120
    (the oracle's 6×60 + 1×120 grid).  Read through the direct generator
    and through ``client=fake_opaque`` (per-lineage-
    shard opaque→dense translation) and compared as a symmetric MULTISET
    diff on the full wire tuple (``n_mismatch``, oracle-pinned to 0).
    ``sf_dir`` is unused — the connector is the source."""
    import json as _json

    plan = [
        {"op": "split", "parent": 0, "at": 60},
        {"op": "split", "parent": 2, "at": 60},
        {"op": "merge", "parents": [1, 3], "at": 60},
    ]
    return _wire_parity_roundtrip(
        spark,
        seed=41,
        records_per_shard=180,
        interval_ms=20,
        client_opts={"client": "fake_opaque"},
        base_opts={"reshard_plan": _json.dumps(plan)},
        shards=2,
    )


@query(
    "projection_filter",
    oracle="""
    SELECT l_orderkey,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05
    """,
    doc="S3/Q1: projection with expression arithmetic + pushed-down filter",
)
def q_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp")) & (F.col("l_discount") > 0.05))
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
            "l_shipdate",
        )
    )
