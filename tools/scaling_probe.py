"""Measured scale-up curves for the headline queries.

SCALING.md argues each operator's shuffle/skew shape survives a 100×
scale-up; this probe MEASURES it on the data we have: every headline
query runs at sf0.001 → sf0.01 → sf0.1 (100× row growth end-to-end) and
the per-decade runtime ratio is reported next to the 10× data growth.
A query whose 0.01→0.1 ratio is ≤ ~10 scales at-worst-linearly in data
on a fixed 32-core budget — the property that lets the same plan ride a
1000-executor cluster to 100 TB.  Ratios well under 10 mean the decade
is still partly absorbed by fixed costs (job setup, exchange latency),
i.e. the operator has headroom before data cost even dominates.

Methodology matches bench.py: min-of-3 back-to-back runs per (query,
SF), each timed to the end of ``perfbench.batch.full_result`` (every
output column computed), caches dropped between runs, run 1 doubling
as the AQE/codegen warmup for that data size (AQE re-plans per size, so warming at another
SF compiles different classes).  Output: a markdown table on stdout,
ready to paste into SCALING.md's "Measured scaling" section.

Usage::

    python tools/scaling_probe.py [--sfs 0.001,0.01,0.1] [--runs 3] \
        [--data-root /root/testdata]
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", default="0.001,0.01,0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--queries",
        default="",
        help="comma-separated subset of headline query names (default: all "
        "headliners) — used for the sf1 probe over tools/make_scaled_data.py "
        "output, where only the data-dominated top-5 matter",
    )
    ap.add_argument(
        "--data-root",
        default=os.environ.get("SPARK_GRAFT_DATA_ROOT", "/root/testdata"),
        help="directory holding the sf{N}/ parquet dirs (bench.py's "
        "SPARK_GRAFT_SF_DIR points at ONE of these; the probe needs the root)",
    )
    args = ap.parse_args()
    sfs = [s.strip() for s in args.sfs.split(",") if s.strip()]

    # the package lives at the repo root one level up, like driver_replica
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs
    from perfbench.batch import full_result

    spark = build_spark(app_name="scaling_probe", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    specs = all_specs()
    headline = {n: s for n, s in specs.items() if s.headline}
    if args.queries:
        # any registered query, not just headliners — the sf1 probe also
        # covers the most expensive NON-headline LLM-tier ops (VERDICT
        # r11 #5), whose 100 TB claims need data-dominated measurements
        want = {q.strip() for q in args.queries.split(",") if q.strip()}
        unknown = want - set(specs)
        if unknown:
            raise SystemExit(f"--queries not in registry: {sorted(unknown)}")
        headline = {n: s for n, s in specs.items() if n in want}
    results: dict[str, dict[str, float]] = {}
    for name, spec in headline.items():
        results[name] = {}
        for sf in sfs:
            sf_dir = os.path.join(args.data_root, f"sf{sf}")
            samples = []
            for _ in range(args.runs):
                spark.catalog.clearCache()
                t = time.time()
                full_result(spec.fn(spark, sf_dir))
                samples.append(time.time() - t)
            results[name][sf] = min(samples)
            print(f"# {name} sf{sf}: {min(samples):.3f}s samples="
                  f"{[round(s, 3) for s in samples]}", file=sys.stderr)

    # build each row as a cell list so header/separator/body column counts
    # can never diverge (a single --sfs value has zero ratio columns)
    header = ["query"] + [f"sf{sf}" for sf in sfs] + [
        f"×(sf{a}→sf{b})" for a, b in zip(sfs, sfs[1:])
    ]
    print("| " + " | ".join(header) + " |")
    print("|" + "---|" * len(header))
    for name in sorted(results, key=lambda n: -results[n][sfs[-1]]):
        r = results[name]
        cells = [f"`{name}`"] + [f"{r[sf]:.2f} s" for sf in sfs] + [
            f"{r[b] / r[a]:.1f}×" for a, b in zip(sfs, sfs[1:])
        ]
        print("| " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
