"""Single-gate evidence freshness (VERDICT r7 item 4): regenerate every
per-round evidence artifact from one entrypoint and REFUSE to finish
green if any artifact's query count differs from the live registry's —
the mechanical fix for three straight rounds of one-artifact-behind lag
(r5: oracle; r6: robustness; r7: the sf0.1 bench map missing the two
newest queries).

Stages (each in a fresh process, same rationale as scale_trend):
  1. ORACLE_CHECK.json         oracle_check.py @ sf0.01
  2. ORACLE_CHECK_SF01.json    oracle_check.py @ sf0.1
  3. ROBUSTNESS.json           robustness_probe.py
  4. BENCH_R{N}_SF01.json      bench_map.py (solo-confirm protocol)
  5. PLAN_AUDIT.md             plan_audit.py
then the freshness audit, which is a run of
tests/test_evidence_freshness.py (the same gate tier-1 CI runs): exit 0
only if all stages succeeded AND that test passes.

Usage:
    python scripts/refresh_evidence.py --bench-out BENCH_R12_SF01.json \
        [--prev BENCH_R11_SF01.json] [--skip oracle_sf01,robustness,...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sync_coverage_md() -> None:
    """Rewrite COVERAGE.md's 'full-registry oracle harness' row from the
    freshly generated ORACLE_CHECK.json, so the prose can never go stale
    again (round-9 VERDICT 'what's wrong' item 1);
    tests/test_evidence_freshness.py asserts the numbers agree."""
    oc = os.path.join(REPO, "ORACLE_CHECK.json")
    cov = os.path.join(REPO, "COVERAGE.md")
    if not (os.path.exists(oc) and os.path.exists(cov)):
        return
    with open(oc) as f:
        data = json.load(f)
    row = (
        "| full-registry oracle harness | scripts/oracle_check.py -> "
        "ORACLE_CHECK.json (committed evidence for ALL queries, not the "
        f"driver's sample) | ORACLE_CHECK.json: {len(data['results'])} "
        f"queries — {data['n_match']} oracle hash-match, "
        f"{data['n_rows_only']} rows-only, {data['n_fail']} fail at "
        "sf0.01 (+ ORACLE_CHECK_SF01.json at sf0.1) |"
    )
    with open(cov) as f:
        lines = f.read().splitlines()
    for i, ln in enumerate(lines):
        if "full-registry oracle harness" in ln:
            lines[i] = row
            break
    with open(cov, "w") as f:
        f.write("\n".join(lines) + "\n")


def run(cmd: list[str], label: str) -> None:
    print(f"== {label}: {' '.join(cmd)}", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, cwd=REPO)


def main() -> int:
    evidence_lock.acquire("refresh_evidence")
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench-out", required=True, help="e.g. BENCH_R12_SF01.json")
    ap.add_argument("--prev", default=None, help="previous bench map for solo-confirm")
    ap.add_argument("--skip", default="", help="comma list: oracle,oracle_sf01,"
                    "robustness,bench,plan_audit (audit always runs)")
    args = ap.parse_args()
    skip = set(filter(None, args.skip.split(",")))
    py = sys.executable

    if "oracle" not in skip:
        run([py, "scripts/oracle_check.py", "--out", "ORACLE_CHECK.json"], "oracle sf0.01")
    if "oracle_sf01" not in skip:
        run(
            [py, "scripts/oracle_check.py", "--sf-dir", "/root/testdata/sf0.1",
             "--out", "ORACLE_CHECK_SF01.json"],
            "oracle sf0.1",
        )
    if "robustness" not in skip:
        # the probe prints its JSON line to stdout; capture it to the artifact
        print("== robustness: scripts/robustness_probe.py", file=sys.stderr, flush=True)
        with open(os.path.join(REPO, "ROBUSTNESS.json"), "w") as f:
            subprocess.run(
                [py, "scripts/robustness_probe.py"], check=True, cwd=REPO, stdout=f
            )
    if "bench" not in skip:
        cmd = [py, "scripts/bench_map.py", "--out", args.bench_out]
        if args.prev:
            cmd += ["--prev", args.prev]
        run(cmd, "bench map sf0.1")
    if "plan_audit" not in skip:
        run([py, "scripts/plan_audit.py"], "plan audit")

    sync_coverage_md()
    # the audit IS the tier-1 freshness test, so the two cannot drift
    audit = subprocess.run(
        [py, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         "tests/test_evidence_freshness.py"],
        cwd=REPO,
    )
    print(f"FRESHNESS {'FAIL' if audit.returncode else 'OK'}")
    return audit.returncode


if __name__ == "__main__":
    sys.exit(main())
