"""Dump executed (AQE-final) formatted plans for the headline queries.

Writes ``plans/<tag>/<query>_<suffix>.txt`` — the optimization-round
evidence files (``_before`` / ``_after``): each query is EXECUTED first
through ``queryExecution().toRdd().count()`` so the formatted output
carries the ``== Final Plan ==`` AQE result, not the initial
estimate-based plan.  That action runs the DataFrame's own physical plan
in full; a ``DataFrame.count()`` would not — Catalyst re-plans it and
prunes every column (Python UDFs included) that cannot change the row
count.

Usage::

    python tools/plan_dump.py [sf_dir] [--tag r17] [--suffix before] [--only a,b]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and not argv[0].startswith("-") else "/root/testdata/sf0.1"

    def opt(name: str, default: str) -> str:
        if name in argv:
            i = argv.index(name)
            if i + 1 >= len(argv):
                print(f"usage: {name} <value>", file=sys.stderr)
                raise SystemExit(2)
            return argv[i + 1]
        return default

    tag = opt("--tag", "r17")
    suffix = opt("--suffix", "before")
    only = opt("--only", "")
    only_set = set(only.split(",")) if only else None

    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark
    from amazon_kinesis_data_analytics_flinktableapi_spark.plans import explain_str
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark(app_name=f"plan_dump_{tag}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(root, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    for name, spec in all_specs().items():
        # default scope = headline set; --only widens to any registry query
        if only_set is None and not spec.headline:
            continue
        if only_set is not None and name not in only_set:
            continue
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"plan_dump: {name}")
        df = spec.fn(spark, sf_dir)
        # Execute THIS DataFrame's own QueryExecution (df.count()/noop-write
        # build a NEW QueryExecution, leaving this one's AdaptiveSparkPlan
        # unexecuted — the dump would show the static isFinalPlan=false
        # estimate-based plan, hiding AQE's runtime join conversions).
        # toRdd() counts InternalRows JVM-side: every operator runs, AQE
        # finalizes in place, nothing crosses to Python.
        n = df._jdf.queryExecution().toRdd().count()
        plan = explain_str(df, "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"query: {name}\nsf_dir: {sf_dir}\nrows: {n}\n\n{plan.strip()}\n")
        print(f"{name}: {n} rows -> {os.path.relpath(path, root)}")
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
