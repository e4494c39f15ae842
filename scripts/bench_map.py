"""Per-round full bench map at sf0.1 WITH noise hardening: any query
whose wall time moved more than ±50% vs the previous round's committed
map gets ONE fresh-JVM solo confirmation run, recorded in the artifact.

Why: sf0.1 session timings carry GC-hygiene noise of exactly this
magnitude (SCALE.md quantifies ±20-50% swings for sub-second queries in
a 150-query session), and earlier rounds repeatedly spent verdict time
chasing phantom regressions. The solo re-run separates the two cases
mechanically: a genuine regression reproduces solo; a GC phantom
vanishes. `solo_confirmed[q]` carries the solo seconds next to the
session seconds — future verdicts read the artifact instead of
re-deriving.

Solo runs go through measure.bench, which records the WARM second
execution and refuses a run that crashed after printing JSON.

Usage:
    python scripts/bench_map.py --prev BENCH_R11_SF01.json \
        --out BENCH_R12_SF01.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure


def main() -> None:
    evidence_lock.acquire("bench_map")
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", default=None, help="previous round's map JSON")
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--threshold", type=float, default=1.5,
        help="solo-confirm when cur/prev or prev/cur exceeds this",
    )
    args = ap.parse_args()

    full = measure.bench()
    cur = full["queries"]

    prev: dict[str, float] = {}
    if args.prev and os.path.exists(args.prev):
        with open(args.prev) as f:
            prev = json.load(f).get("queries", {})

    outliers = sorted(
        q for q, t in cur.items()
        if q in prev and prev[q] > 0 and t > 0
        and (t / prev[q] > args.threshold or prev[q] / t > args.threshold)
    )
    solo: dict[str, dict] = {}
    for q in outliers:
        base = q.removesuffix("_witness")
        try:
            r = measure.bench(only=[base])
            key = q if q in r["queries"] else base
            solo[q] = {
                "prev_sec": prev[q],
                "session_sec": cur[q],
                "solo_sec": r["queries"].get(key),
            }
        except Exception as e:  # noqa: BLE001 - keep the artifact writable
            solo[q] = {"prev_sec": prev[q], "session_sec": cur[q],
                       "solo_sec": None, "error": str(e)[:200]}
        print(f"solo-confirm {q}: prev={prev[q]} session={cur[q]} "
              f"solo={solo[q].get('solo_sec')}", file=sys.stderr)

    full["solo_confirmed"] = solo
    full["solo_threshold"] = args.threshold
    full["prev_map"] = args.prev
    full["host_baseline"] = measure.host_baseline()
    with open(args.out, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps({"out": args.out, "n_queries": len(cur),
                      "n_outliers": len(outliers)}))


if __name__ == "__main__":
    main()
