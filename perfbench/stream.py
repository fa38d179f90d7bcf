"""The streaming workload: the reference topology through the engine's
public entry points.

    perfbench_kinesis (orders)  -> parse_json_stream --\
                                                        build_reference_query -> perfbench_kinesis_sink
    perfbench_kinesis (rates)   -> parse_json_stream --/   (watermarks, REFERENCE_SQL,      (partition key "0")
                                                            TimestampToString)

``reference_rate`` runs it as an open loop at the paper's rates; its traced
run also drains a pre-published backlog.  Both use the default trigger.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import time
from datetime import datetime, timedelta

from amazon_kinesis_data_analytics_flinktableapi_spark.schemas import (
    EXCHANGE_RATE_SCHEMA,
    ORDER_SCHEMA,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.sources.streaming import parse_json_stream
from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.pipeline import (
    build_reference_query,
)

from perfbench import paced

#: the connector's event-time origin (``kinesis_sim._EPOCH``)
EPOCH = datetime(2024, 1, 1)
#: Orders: 1 shard x 1000/10 ms = 100 rec/s; ExchangeRates: 1 shard x 1000/1000 ms = 1 rec/s
RATE_ORDERS = {"shards": 1, "interval_ms": 10}
RATE_RATES = {"shards": 1, "interval_ms": 1000}
#: "no limit" for records_per_shard / batch_records of an open stream
OPEN_END = 1 << 40
#: backlog: 2 shards (ids of shard >= 3 overflow the int ``id`` column of
#: ORDER_SCHEMA), 200 orders per event-time second
DRAIN_ORDERS = {"shards": 2, "interval_ms": 10}
DRAIN_RATES = {"shards": 1, "interval_ms": 1000}
#: orders per shard per micro-batch when draining the backlog
DRAIN_BATCH_RECORDS = 10_000
#: orders per shard in the drain's first (cold) micro-batch
DRAIN_WARMUP_RECORDS = 500
#: no run may take longer than this, whatever the engine's speed
TIMEOUT_S = 150.0


class Topology:
    """One running instance of the reference topology."""

    def __init__(self, spark, work: str, name: str, orders: dict, rates: dict, span_dir=None):
        self.dir = os.path.join(work, name)
        shutil.rmtree(self.dir, ignore_errors=True)
        self.sink = os.path.join(self.dir, "sink")
        self.orders, self.rates = orders, rates
        self.total = sum(o["shards"] * o["records_per_shard"] for o in (orders, rates))
        self.control = orders.get("control")

        def stream(schema, opts):
            opts = {**opts, **({"span_dir": span_dir} if span_dir else {})}
            raw = (
                spark.readStream.format("perfbench_kinesis")
                .options(**{k: str(v) for k, v in opts.items()})
                .load()
            )
            return parse_json_stream(raw, schema, value_col="data")

        out = build_reference_query(
            spark, stream(ORDER_SCHEMA, orders), stream(EXCHANGE_RATE_SCHEMA, rates)
        )
        writer = (
            out.writeStream.format("perfbench_kinesis_sink")
            .option("path", self.sink)
            .option("partition_key", "0")
            .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
        )
        if span_dir:
            writer = writer.option("span_dir", span_dir)
        self.t_start = time.time()
        self.query = writer.start()
        self.progress: list[dict] = []

    def close_at(self, end_ms: int) -> None:
        """End an open stream: no record at event-time offset >= ``end_ms``
        is ever published.  Called while the stream is still behind that
        point, so the published records are exactly those below it."""
        for o in (self.orders, self.rates):
            if o["shards"] != 1:
                raise ValueError("close_at supports one shard per stream")
            o["records_per_shard"] = -(-end_ms // o["interval_ms"])
        self.total = self.orders["records_per_shard"] + self.rates["records_per_shard"]
        tmp = self.control + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"end_ms": end_ms}, f)
        os.replace(tmp, self.control)

    def _poll(self) -> None:
        seen = {p["batchId"] for p in self.progress}
        self.progress.extend(p for p in self.query.recentProgress if p["batchId"] not in seen)

    def consumed(self) -> int:
        return sum(p["numInputRows"] for p in self.progress)

    def finish(self, on_poll=None) -> None:
        """Wait until every record is consumed and the final watermark
        flush has committed, then stop.  Stopping mid-batch would spill
        py4j/EOF traces that could hide a real failure."""
        deadline = self.t_start + TIMEOUT_S
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            self._poll()
            if on_poll:
                on_poll()
            if self.consumed() >= self.total:
                break
            if time.time() > deadline:
                raise TimeoutError(f"consumed {self.consumed()} of {self.total} records")
            time.sleep(0.25)
        self.query.processAllAvailable()
        self._poll()
        self.query.stop()

    def commits(self) -> dict[int, float]:
        """Wall time at which each micro-batch's output became visible."""
        try:
            with open(os.path.join(self.sink, "_commits.jsonl")) as f:
                return {r["batch"]: r["t"] for r in map(json.loads, f)}
        except FileNotFoundError:
            return {}

    def rows(self) -> list[tuple[int, dict]]:
        """(batchId, row) for every row the sink committed."""
        out = []
        for manifest in sorted(glob.glob(os.path.join(self.sink, "batch=*", "_manifest.json"))):
            batch = int(os.path.basename(os.path.dirname(manifest)).split("=")[1])
            with open(manifest) as f:
                for entry in json.load(f):
                    with open(entry["file"]) as data:
                        out.extend((batch, json.loads(line)) for line in data if line.strip())
        return out

    def final_watermark(self) -> datetime:
        wm = self.progress[-1]["eventTime"]["watermark"]
        return datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")

    def order_ends(self) -> dict[int, int]:
        """Orders offset (next sequence number of the single orders shard)
        at the end of each micro-batch.  The two sources are told apart by
        size: orders arrive 100 times as often as rates."""
        ends = {}
        for p in self.progress:
            offsets = [ast.literal_eval(s["endOffset"]) for s in p["sources"]]
            ends[p["batchId"]] = max(next(iter(o.values())) for o in offsets)
        return ends

    def last_order_batch(self) -> int:
        """The micro-batch that consumed the last input record."""
        n = 0
        for p in self.progress:
            n += p["numInputRows"]
            if n >= self.total:
                return p["batchId"]
        raise RuntimeError("no batch consumed the last record")


def order_offset_s(order_time: str) -> float:
    """Seconds from the event-time origin, from the sink's ``orderTime``
    (``java.sql.Timestamp.toString`` format)."""
    ts = datetime.strptime(order_time, "%Y-%m-%d %H:%M:%S.%f")
    return (ts - EPOCH).total_seconds()


def check(topo: Topology) -> tuple[int, int]:
    """(attempted, failed): every order whose event time is below the final
    watermark must have exactly the rows of the DuckDB reference join."""
    import duckdb

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        timestamp_to_string_py,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.reference import (
        _DUCK_KSIM_H as H,
    )

    o, r = topo.orders, topo.rates
    currency = "['click','view','signup','purchase','error'][{} % 5 + 1]"
    sql = f"""
    WITH o AS (
      SELECT s.shard * 1000000000 + q.seq AS id,
             TIMESTAMP '2024-01-01' + (q.seq * {o['interval_ms']} + s.shard) * INTERVAL 1 MILLISECOND AS t,
             CAST({H.format(seed=o['seed'], salt='a')} % 10000 + 1 AS INTEGER) AS amount,
             {currency.format(H.format(seed=o['seed'], salt='c'))} AS currency
      FROM range({o['shards']}) s(shard), range({o['records_per_shard']}) q(seq)),
    r AS (
      SELECT TIMESTAMP '2024-01-01' + (q.seq * {r['interval_ms']} + s.shard) * INTERVAL 1 MILLISECOND AS t,
             {currency.format(H.format(seed=r['seed'], salt='c'))} AS currency,
             CAST({H.format(seed=r['seed'], salt='r')} % 97 + 2 AS INTEGER) AS rate
      FROM range({r['shards']}) s(shard), range({r['records_per_shard']}) q(seq))
    SELECT o.id, o.t, o.amount, CAST(o.amount * r.rate AS INTEGER)
    FROM o LEFT JOIN r
      ON o.currency = r.currency AND o.t >= r.t AND r.t > o.t - INTERVAL 5 SECOND
    WHERE o.t < ?
    """
    wm = topo.final_watermark()
    with duckdb.connect() as con:
        ref = con.execute(sql, [wm]).fetchall()
    expected: dict[int, list] = {}
    for oid, t, amount, conv in ref:
        expected.setdefault(oid, []).append((timestamp_to_string_py(t), amount, conv))
    got: dict[int, list] = {}
    for _batch, row in topo.rows():
        if row["id"] in expected or EPOCH + timedelta(seconds=order_offset_s(row["orderTime"])) < wm:
            got.setdefault(row["id"], []).append(
                (row["orderTime"], row["originalAmount"], row.get("convertedAmount"))
            )
    failed = sum(sorted(expected[k]) != sorted(got.get(k, [])) for k in expected)
    failed += sum(1 for k in got if k not in expected)
    return len(expected), failed


def rate_topology(spark, work, name, seed, span_dir=None):
    """Open loop: orders and rates become readable on the paper's schedule
    from a start time a little after the query is launched.  The stream
    has no end until :meth:`Topology.close_at` sets one."""
    t0 = time.time() + 1.0
    control = os.path.join(work, f"{name}.control.json")
    common = {"t0": t0, "control": control, "records_per_shard": OPEN_END, "batch_records": OPEN_END}
    orders = {**RATE_ORDERS, "template": "orders", "seed": seed, **common}
    rates = {**RATE_RATES, "template": "rates", "seed": seed + 1, **common}
    return Topology(spark, work, name, orders, rates, span_dir), t0


def drain_topology(spark, work, name, seed, n_orders):
    """Pre-published backlog: every record is due when the query starts.
    The first micro-batch takes only ``DRAIN_WARMUP_RECORDS`` orders per
    shard and pays the query's cold start; ``n_orders`` more follow in
    micro-batches of ``DRAIN_BATCH_RECORDS`` per shard."""
    per_shard = DRAIN_WARMUP_RECORDS + n_orders // DRAIN_ORDERS["shards"]
    span_s = per_shard * DRAIN_ORDERS["interval_ms"] / 1000.0
    orders = {**DRAIN_ORDERS, "template": "orders", "seed": seed, "t0": 0,
              "records_per_shard": per_shard, "batch_records": DRAIN_BATCH_RECORDS,
              "first_batch_records": DRAIN_WARMUP_RECORDS}
    rates = {**DRAIN_RATES, "template": "rates", "seed": seed + 1, "t0": 0,
             "records_per_shard": int(span_s * 1000 / DRAIN_RATES["interval_ms"]) + 1,
             "batch_records": OPEN_END}
    return Topology(spark, work, name, orders, rates)
