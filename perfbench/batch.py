"""``registry_batch``: a fixed set of registered batch queries, each built
with ``spec.fn`` and timed with a full-result action.

The timed action is a ``noop`` write, never ``.count()``: Catalyst prunes
every column a count does not need, Python UDFs included, so a count can
time a parquet row count.  ``tests/test_full_result.py`` next to this file
guards that the timed plan keeps every operator of the ``collect()`` plan.

The queries read ``testdata/sf0.01`` next to this file: an unmodified copy
of the repo's TESTDATA at sf0.01 (seed 42), kept with the benchmark so a
run reads nothing outside its checkout.
"""

from __future__ import annotations

import os
import time

#: TESTDATA sf0.01, the scale of the registry's DuckDB oracle checks
SF = "0.01"
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", f"sf{SF}")

#: the run order; fixed, so a query's warm JIT state is the same every run.
#: One query or two per layer the streaming workload bypasses: relational
#: joins and shuffles with the TimestampToString UDF (interval_join,
#: currency_conversion), the text UDFs (duplicate_span_removal), dedup
#: with build-time collects (dedup_clusters), and the Arrow vector kernels
#: (kmeans_lloyd_refine, ivfpq_topk).  The rest of the registry repeats
#: these layers and would lengthen every run.
QUERIES = [
    "interval_join",
    "currency_conversion",
    "duplicate_span_removal",
    "dedup_clusters",
    "kmeans_lloyd_refine",
    "ivfpq_topk",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def full_result(df) -> None:
    """The timed action: every row and column is computed, nothing kept."""
    df.write.format("noop").mode("overwrite").save()


def check(spark, sf_dir: str) -> tuple[dict[str, bool], float]:
    """Collect each query and hash-compare it with its DuckDB oracle (the
    compare of ``tools/driver_replica.py``).  Returns the verdicts and the
    Spark-side seconds, which double as the warm-up."""
    import duckdb

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
    from tools.driver_replica import value_hash

    verdict, spark_s = {}, 0.0
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in QUERIES:
            spec = REGISTRY[name]
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            spark_s += time.perf_counter() - t0
            cur = con.execute(spec.oracle)
            ocols = [d[0] for d in cur.description]
            verdict[name] = value_hash(rows, df.columns) == value_hash(cur.fetchall(), ocols)
    return verdict, spark_s


def timed_pass(spark, sf_dir: str, sc=None, on_query=None) -> dict[str, tuple[float, float]]:
    """One pass over QUERIES: (build_s, exec_s) per query.  With ``sc``
    (traced runs) each action runs in a job group named after the query
    and ``on_query(name, df, jobs)`` is called after it, untimed."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    out = {}
    for name in QUERIES:
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        full_result(df)
        out[name] = (t1 - t0, time.perf_counter() - t1)
        if sc is not None:
            on_query(name, df, len(sc.statusTracker().getJobIdsForGroup(name)))
    return out


def executed_plan(df):
    """Run ``df``'s own query execution to completion (``toRdd`` computes
    every output column) and return its final physical plan, whose nodes
    then hold the SQL metrics of that run."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan()


# -- per-layer: SQL metrics of the final (AQE) physical plan ---------------


def _children(node):
    """Children of a physical plan node, descending through AQE wrappers."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_metrics(jplan) -> dict[str, float]:
    """Sum of selected SQL metrics over every node of an executed plan."""
    wanted = {
        "shuffleBytesWritten": "shuffle_bytes",
        "spillSize": "spill_bytes",
        "pythonNumRowsReceived": "python_rows",
        "pythonDataSent": "python_bytes",
        "pythonDataReceived": "python_bytes",
    }
    out = {v: 0.0 for v in wanted.values()}
    out["peak_memory_bytes"] = 0.0
    todo, seen = [jplan], set()
    while todo:
        node = todo.pop()
        if node.id() in seen:  # reused exchanges appear twice
            continue
        seen.add(node.id())
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, value = kv._1(), float(kv._2().value())
            if key in wanted:
                out[wanted[key]] += value
            elif key == "peakMemory":
                out["peak_memory_bytes"] = max(out["peak_memory_bytes"], value)
        todo.extend(_children(node))
    return out
