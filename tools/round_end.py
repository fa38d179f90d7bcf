"""Round-end hygiene: track driver artifacts, refresh PLANS.md, fail on dirt.

VERDICT r8 #1 (fifth consecutive round of untracked ``BENCH_rN.json`` /
``CORRECTNESS_rN.json``): reminders failed, so this script IS the
round-end step — run it as the literal last action of a build session,
and re-run it any time driver droppings have appeared:

    python tools/round_end.py            # do it
    python tools/round_end.py --dry-run  # report what it would do
    python tools/round_end.py --skip-plans  # skip the PLANS.md staleness check

What it does, in order:

1. **PLANS.md staleness check** — if any plan-affecting source (the
   engine package, which defines every headline query's plan, or
   ``tools/scale_audit.py``, which defines how plans are counted) has
   uncommitted working-tree changes, or has commits since the
   ``generated-at-commit`` marker PLANS.md embeds, regenerate PLANS.md
   via ``tools/scale_audit.py`` (~3 min).
2. **Stage the droppings** — every untracked/modified driver-owned
   artifact (``BENCH_r*.json``, ``CORRECTNESS_r*.json``, ``VERDICT.md``,
   ``ADVICE.md``, ``COVERAGE.md``, ``COPYCHECK.json``, ``LEAKCHECK.json``,
   ``PROGRESS.jsonl``, ``BASELINE.*``) plus a regenerated PLANS.md.
3. **Commit** them (only if anything was staged).
4. **Fail loudly on a dirty tree** — any remaining modification or
   untracked file exits nonzero with the ``git status`` listing, so a
   forgotten artifact is an ERROR at the end of the round, not a judge
   finding at the start of the next one.

Note on timing: the driver writes round N's BENCH/CORRECTNESS files
AFTER the build session ends, so the build session can only ever sweep
rounds ≤ N−1; files that appear later are swept by the next session's
run (or by whoever invokes this script after the driver) — the point is
that sweeping is now one command instead of a remembered ritual.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver-owned droppings this script is allowed to stage blindly
ARTIFACT_GLOBS = [
    "BENCH_r*.json",
    "CORRECTNESS_r*.json",
    "VERDICT.md",
    "ADVICE.md",
    "COVERAGE.md",
    "COPYCHECK.json",
    "LEAKCHECK.json",
    "PROGRESS.jsonl",
    "BASELINE.md",
    "BASELINE.json",
    "PLANS.md",
]

#: sources whose change invalidates PLANS.md (the engine package defines
#: every headline query's plan; scale_audit.py defines how it's counted)
PLAN_SOURCES = ["amazon_kinesis_data_analytics_flinktableapi_spark", "tools/scale_audit.py"]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def _last_commit_ts(*paths: str) -> int:
    out = _git("log", "-1", "--format=%ct", "--", *paths)
    return int(out) if out else 0


def _dirty_paths(*paths: str) -> list[str]:
    out = _git("status", "--porcelain", "--", *paths)
    return [line[3:] for line in out.splitlines() if line.strip()]


def plans_stale() -> str | None:
    """Reason PLANS.md needs regenerating, or None if fresh."""
    import re

    dirty = _dirty_paths(*PLAN_SOURCES)
    if dirty:
        return f"uncommitted plan-affecting changes: {dirty[:5]}"
    # preferred check: PLANS.md embeds the commit it was generated at —
    # stale only if plan-affecting sources changed SINCE that commit.
    # (A timestamp compare re-flags forever when regeneration produces
    # identical content, re-running the ~3 min audit every round-end.)
    try:
        with open(os.path.join(ROOT, "PLANS.md")) as f:
            m = re.search(r"generated-at-commit: ([0-9a-f]{7,40})", f.read(2000))
    except FileNotFoundError:
        return "PLANS.md missing"
    if m:
        try:
            changed = _git(
                "log", "--name-only", "--format=", f"{m.group(1)}..HEAD", "--", *PLAN_SOURCES
            )
        except subprocess.CalledProcessError:
            changed = "unresolvable generated-at commit"
        if changed.strip():
            return f"plan-affecting changes since generated-at commit {m.group(1)[:9]}"
        return None
    # legacy PLANS.md without the marker: fall back to commit timestamps
    plans_ts = _last_commit_ts("PLANS.md")
    src_ts = _last_commit_ts(*PLAN_SOURCES)
    if src_ts > plans_ts:
        return (
            f"plan-affecting sources committed after PLANS.md "
            f"(src {src_ts} > plans {plans_ts})"
        )
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dry-run", action="store_true", help="report, change nothing")
    ap.add_argument(
        "--skip-plans", action="store_true", help="skip the PLANS.md staleness check"
    )
    args = ap.parse_args()

    # 1. PLANS.md freshness
    if not args.skip_plans:
        reason = plans_stale()
        if reason:
            print(f"PLANS.md stale — {reason}")
            if args.dry_run:
                print("dry-run: would run tools/scale_audit.py")
            else:
                subprocess.run(
                    [sys.executable, os.path.join(ROOT, "tools", "scale_audit.py")],
                    cwd=ROOT,
                    check=True,
                )
        else:
            print("PLANS.md fresh")

    # 2. stage droppings
    to_stage = []
    for pat in ARTIFACT_GLOBS:
        for p in sorted(glob.glob(os.path.join(ROOT, pat))):
            rel = os.path.relpath(p, ROOT)
            if _dirty_paths(rel):
                to_stage.append(rel)
    if to_stage:
        print(f"staging {len(to_stage)} artifact(s): {to_stage}")
        if not args.dry_run:
            _git("add", "--", *to_stage)
            # 3. commit WITH PATHSPECS: a plain `git commit` would sweep
            # anything the user had staged beforehand into this commit
            # under an artifact-tracking message — limiting the commit to
            # the artifact paths leaves unrelated staged work in the
            # index, where the dirty-tree gate below reports it loudly
            _git(
                "commit",
                "-m",
                "Track round artifacts\n\nSwept by tools/round_end.py: "
                + ", ".join(to_stage)
                + "\n\nNo-Verification-Needed: artifact tracking only, no code change",
                "--",
                *to_stage,
            )
            print(f"committed: {_git('log', '--oneline', '-1')}")
    else:
        print("no artifact droppings to stage")

    # 4. hard gate: the tree must be clean now
    dirt = _git("status", "--porcelain")
    if dirt:
        print("ERROR: tree still dirty at round end:\n" + dirt, file=sys.stderr)
        print(
            "Commit or remove the above before ending the round "
            "(only driver-owned artifacts are staged automatically).",
            file=sys.stderr,
        )
        return 1
    print("round end: tree clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
