"""Time every registered query's Spark side (no oracle) at a chosen SF.

The correctness gate runs query+oracle per registry entry; this tool
isolates the Spark-side cost so the slowest registry paths (the
optimization targets the headline set doesn't cover) are visible with
one number each.  Single session, one timed run per query (gate-like:
cold per query, caches dropped), sorted report.  A run is timed from
``spec.fn`` to the end of ``perfbench.batch.full_result``, so every
output column is computed.

Usage::

    python tools/registry_time.py [sf_dir] [--cpus 8] [--out /tmp/x.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.batch import full_result  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and not argv[0].startswith("-") else "/root/testdata/sf0.01"

    def opt(name: str, default: str) -> str:
        if name not in argv:
            return default
        i = argv.index(name) + 1
        if i >= len(argv) or argv[i].startswith("--"):
            raise SystemExit(f"usage: {name} requires a value")
        return argv[i]

    cpus = opt("--cpus", "8")
    out_path = opt("--out", "/tmp/registry_time.json")

    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    spark = build_spark(app_name="registry_time", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # the partition count follows the session's task slots; record it so
    # readings taken under different engine defaults stay comparable
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM, untimed

    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    for name, spec in REGISTRY.items():
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"registry_time: {name}")
        t = time.perf_counter()
        try:
            full_result(spec.fn(spark, sf_dir))
            times[name] = round(time.perf_counter() - t, 3)
        except Exception as e:  # keep profiling; report at the end
            errs[name] = repr(e)[:200]
        print(f"# {name}: {times.get(name, 'ERR')}", file=sys.stderr)
    spark.stop()

    with open(out_path, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "cpus": cpus, "shuffle_partitions": shuffle_partitions,
             "times": times, "errs": errs},
            f, indent=1,
        )
    total = sum(times.values())
    print(f"total {round(total, 1)}s over {len(times)} queries; errs={len(errs)}")
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{sec:8.3f}  {name}")
    if errs:
        print("ERRORS:", errs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
