"""Headline benchmark CLI: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf", "action", ...}.

Every timed action computes the whole result.  A headline query is timed
from ``spec.fn`` (plan, plus any build-time collects) to the end of
``perfbench.batch.full_result``, a noop write; never ``.count()``, which
lets Catalyst prune every column the count does not need, Python UDFs
included.  The benchmark of record is ``perfbench/run.py``: judge a change
by its paired parent/change runs, not by comparing this line across runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.batch import full_result

#: samples per timed number.  Shared hosts have multi-second slow
#: windows; three back-to-back samples spread across one and the min reads
#: the steady-state cost.  A query's first sample doubles as its warm-up: its
#: first execution at the target SF compiles the AQE-final generated
#: classes (AQE re-plans per data size, so warming at another SF compiles
#: different ones).
RUNS = 3

#: Pinned headline execution order.  Position in the session changes a
#: query's time (a session-head duplicate_span_removal read +57..113% over
#: the same code at position 8; SCALING.md), so the order is a constant,
#: not registry order.  New headliners append after the pinned prefix.
PINNED_HEADLINE_ORDER = [
    "embedding_neardup", "interval_join", "currency_conversion",
    "neardup_jaccard", "dedup_clusters", "dedup_exact",
    "ann_cosine_topk", "duplicate_span_removal", "incremental_dedup",
    "embedding_gram_matrix", "agg_pricing_summary",
    "join_revenue_by_nation", "nation_pair_revenue",
    "tumbling_window_events", "shipping_priority",
]

#: stateful streaming queries whose per-batch state size the line reports
STATE_QUERIES = [
    "streaming_running_aggregate",
    "streaming_cms_sketch",
    "streaming_topk_complete",
    "streaming_dedup",
    "streaming_incremental_dedup",
]


def _pinned_headline(headline: dict) -> dict:
    """Reorder the headline spec dict into PINNED_HEADLINE_ORDER;
    headliners not yet pinned append at the end in registry order (a new
    headliner changes only the loop's TAIL — existing positions, and
    therefore their session-warmth context, never move)."""
    return {
        n: headline[n]
        for n in [
            *[p for p in PINNED_HEADLINE_ORDER if p in headline],
            *[n for n in headline if n not in PINNED_HEADLINE_ORDER],
        ]
    }


def time_query(spark, spec, sf_dir: str) -> float:
    """One timed run of a headline query, caches dropped first."""
    spark.catalog.clearCache()
    t = time.perf_counter()
    full_result(spec.fn(spark, sf_dir))
    return round(time.perf_counter() - t, 3)


def _min_of_runs(label: str, one_run) -> float:
    samples = [one_run() for _ in range(RUNS)]
    print(f"# {label}: {min(samples)}s samples={samples}", file=sys.stderr)
    return min(samples)


def _streaming_join_rps(spark, sf_dir: str) -> float:
    """Records/sec through the watermarked stream-stream interval join
    (BASELINE.md floor: ≥100 rec/s).  Writing the replay files is untimed;
    the memory sink stores every output column."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.advanced import (
        prepare_streaming_interval_join,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import run_to_memory

    # leftover storage memory from the batch phase (near-dup corpora,
    # sketch bases) inflates GC during micro-batches: measured to halve rec/s
    spark.catalog.clearCache()

    def one_run() -> float:
        joined = prepare_streaming_interval_join(spark, sf_dir)
        t = time.perf_counter()
        run_to_memory(joined, spark, timeout_sec=240)
        return round(time.perf_counter() - t, 3)

    sec = _min_of_runs("streaming_interval_join", one_run)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return round(n_events / sec, 1)


def _kinesis_scan_rps(spark, label: str, **extra) -> float:
    """Batch scan rate of the ``kinesis_sim`` Python data source over 200k
    records in 16 shards.  One small untimed read first warms the Python
    workers, which the first read otherwise pays ~3-4 s for."""
    shards, per_shard = 16, 200_000 // 16

    def read(n_shards: int, n_per_shard: int):
        return (
            spark.read.format("kinesis_sim")
            .option("template", "orders").option("shards", n_shards)
            .option("records_per_shard", n_per_shard)
            .options(**extra).load()
        )

    full_result(read(4, 250))

    def one_run() -> float:
        t = time.perf_counter()
        full_result(read(shards, per_shard))
        return round(time.perf_counter() - t, 3)

    return round(shards * per_shard / _min_of_runs(label, one_run), 1)


def _streaming_state_max_rows(spark, sf_dir: str, specs: dict) -> dict[str, int]:
    """Max state rows per stateful streaming query, from the engine's
    StreamingQueryListener.  Watermarked queries evict state as the
    watermark passes, so the max tracks windows/keys in flight, not stream
    length; ``streaming_topk_complete`` is complete-mode, bounded by its
    ~15-group key domain."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.metrics import (
        EngineQueryListener,
    )

    out = {}
    for name in STATE_QUERIES:
        listener = EngineQueryListener()
        spark.streams.addListener(listener)
        try:
            specs[name].fn(spark, sf_dir)
            # listener delivery is async; let the terminated query's last
            # progress event drain before reading the collector
            deadline = time.time() + 5
            while not listener.collector.batches and time.time() < deadline:
                time.sleep(0.2)
        finally:
            spark.streams.removeListener(listener)
        c = listener.collector
        out[name] = c.max_state_rows()
        print(f"# streaming_state {name}: max={out[name]} batches={len(c.batches)} "
              f"wm={c.batches[-1].watermark if c.batches else None}", file=sys.stderr)
    return out


def result_line(
    timings: dict[str, float],
    sf: float,
    startup: float,
    rates: dict[str, float],
    state_max_rows: dict[str, int],
) -> str:
    """The one JSON line a caller parses.  Callers keep only the last
    2,000 chars of stdout, so the line carries no per-sample traces."""
    return json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "action": "noop_write",
        "n_queries": len(timings),
        "startup_sec": round(startup, 3),
        **rates,
        "streaming_state_max_rows": state_max_rows,
    })


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    t0 = time.time()
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        KinesisSimDataSource,
    )

    spark = build_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # the first SQL statement, scheduled job and whole-stage codegen pay the
    # cold JVM's class loading (~3 s whatever the row count); it is part of
    # startup_sec, not hidden in a query's first sample
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    startup = time.time() - t0

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    specs = all_specs()
    headline = _pinned_headline({n: s for n, s in specs.items() if s.headline})
    timings = {
        name: _min_of_runs(name, lambda spec=spec: time_query(spark, spec, sf_dir))
        for name, spec in headline.items()
    }

    streaming_rps = _streaming_join_rps(spark, sf_dir)
    spark.dataSource.register(KinesisSimDataSource)
    rates = {
        "streaming_interval_join_recs_per_sec": streaming_rps,
        "kinesis_sim_scan_recs_per_sec": _kinesis_scan_rps(spark, "kinesis_sim_scan"),
        # the same scan through the boto3-shaped KinesisClient seam: the
        # per-record cost of the SDK response envelope the AWS path pays
        "kinesis_sim_sdk_scan_recs_per_sec": _kinesis_scan_rps(
            spark, "kinesis_sim_sdk_scan", client="fake_sdk"
        ),
    }
    state = _streaming_state_max_rows(spark, sf_dir, specs)
    print(result_line(timings, sf, startup, rates, state))
    spark.stop()


if __name__ == "__main__":
    main()
