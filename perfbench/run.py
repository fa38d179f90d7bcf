#!/usr/bin/env python3
"""The repo benchmark: the reference Kinesis pipeline and the batch registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  Workloads (see perfbench/README.md):

- ``reference_rate``  -- open loop at the paper's rates (orders 100 rec/s,
  rates 1 rec/s) through the reference topology; event-to-emit latency.
- ``registry_batch``  -- 6 registered batch queries with a full-result
  action; time to the complete result.

The engine runs at its own defaults: ``build_spark(master=local[nproc])``
with every ``SPARK_GRAFT_*`` variable removed.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` the run adds
per-layer instrumentation and carries the per-layer metrics instead.  The
two lines before it are the run record (settings that shape the numbers)
and a one-line summary.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {
    "setup_s": "s",
    "emit_latency_p50_s": "s",
    "emit_latency_p99_s": "s",
}


def _prepare(work: str) -> None:
    """Engine defaults, importable workers, scratch inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    # Python workers import the engine package and perfbench.paced by name
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    try:
        _prepare(work)
        try:
            import amazon_kinesis_data_analytics_flinktableapi_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
        from perfbench import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        res = workloads.WORKLOADS[args.workload](args, work, T_PROCESS)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["e2e"]
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    failed_frac = res["failed"] / res["attempted"]
    print("perfbench run record " + json.dumps(res["record"], sort_keys=True))
    print("perfbench " + args.workload + " " + " ".join(
        [f"{k}={e2e[k]:.4g}{E2E_UNITS[k]}" for k in E2E_UNITS]
        + [f"{k}={v:.4g}" for k, v in res["extra"].items()]
        + [f"failed_frac={failed_frac:.4g}"]
    ))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
