"""Round-close verification battery, one command.

Runs, in order, the checks every round's COVERAGE "FINAL state" table
reports — full pytest, the benchmark's own guards (``perfbench/tests``:
its timed action computes the full result), the full-registry DuckDB
replica at the gate scale (sf0.01) and at 10× it (sf0.1), all
four hostile-fixture sweeps, and the PLANS.md staleness regen — and
prints a markdown table of the outcomes ready to paste into COVERAGE.md.
Each step is a subprocess so one crash cannot take down the battery; a
failed step is reported and the battery continues (the table must show
what failed, not stop at it).

Usage::

    python tools/run_battery.py [--skip pytest,perfbench,replica01,replica1,sweeps,plans]

Wall-clock on this host: pytest ~25 min, each replica ~10-25 min, each
sweep ~8-15 min — run it in the background and read the table at the
end.  Individual steps remain runnable on their own (they are just the
committed tools); this wrapper only sequences them.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEPS: list[tuple[str, list[str]]] = [
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"]),
    ("perfbench", [sys.executable, "-m", "pytest", "perfbench/tests", "-q"]),
    ("replica01", [sys.executable, "tools/driver_replica.py", "/root/testdata/sf0.01"]),
    ("replica1", [sys.executable, "tools/driver_replica.py", "/root/testdata/sf0.1"]),
    ("sweep_adv", [sys.executable, "tools/adversarial_sweep.py", "--fixture", "adv"]),
    ("sweep_skew", [sys.executable, "tools/adversarial_sweep.py", "--fixture", "skew"]),
    ("sweep_nonfinite", [sys.executable, "tools/adversarial_sweep.py", "--fixture", "nonfinite"]),
    ("sweep_unicode", [sys.executable, "tools/adversarial_sweep.py", "--fixture", "unicode"]),
    ("plans", [sys.executable, "tools/scale_audit.py"]),
]

#: step groups the --skip flag understands
SKIP_GROUPS = {
    "pytest": {"pytest"},
    "perfbench": {"perfbench"},
    "replica01": {"replica01"},
    "replica1": {"replica1"},
    "sweeps": {"sweep_adv", "sweep_skew", "sweep_nonfinite", "sweep_unicode"},
    "plans": {"plans"},
}


def _summary(name: str, tail: str) -> str:
    """Last informative line of a step's output (the tools all end with
    a one-line summary; pytest ends with 'N passed ...')."""
    lines = [l.strip() for l in tail.splitlines() if l.strip()]
    for l in reversed(lines):
        if any(k in l for k in ("passed", "failed", "OK=", "ok=", "PLANS.md", "error")):
            return l
    return lines[-1] if lines else "(no output)"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip", default="", help="comma-separated groups: "
                    + ",".join(SKIP_GROUPS))
    args = ap.parse_args()
    skip: set[str] = set()
    for g in (s.strip() for s in args.skip.split(",") if s.strip()):
        if g not in SKIP_GROUPS:
            raise SystemExit(f"unknown --skip group {g!r}; choose from {sorted(SKIP_GROUPS)}")
        skip |= SKIP_GROUPS[g]

    rows = []
    for name, cmd in STEPS:
        if name in skip:
            rows.append((name, "skipped", "—", ""))
            continue
        t0 = time.time()
        r = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, check=False
        )
        mins = f"{(time.time() - t0) / 60:.1f} min"
        out = (r.stdout or "") + "\n" + (r.stderr or "")
        rows.append(
            (name, "OK" if r.returncode == 0 else f"FAIL rc={r.returncode}",
             mins, _summary(name, out[-4000:]))
        )
        print(f"# {name}: {rows[-1][1]} ({mins}) — {rows[-1][3]}", file=sys.stderr)

    print("\n| check | status | wall | summary |")
    print("|---|---|---|---|")
    for name, status, mins, summ in rows:
        print(f"| {name} | {status} | {mins} | {summ} |")
    return 0 if all(s in ("OK", "skipped") for _, s, _, _ in rows) else 1


if __name__ == "__main__":
    raise SystemExit(main())
