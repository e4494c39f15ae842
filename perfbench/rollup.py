"""Roll traced benchmark runs up into the reference-measurement table.

Usage, from the root of a checkout, after one or more traced runs
(``perfbench/run.py ... --trace 1``):

    python3 perfbench/rollup.py [--out-dir .perfbench_out]

Prints one markdown table per workload, over the newest traced run of
that workload: wall time, the build share, build and action jobs, tasks
per stage, executor busy fraction, JVM GC, the between-query reset time
and the operations with the largest build share.
"""

from __future__ import annotations

import argparse
import glob
import json
import os

import counters


def table(run: dict) -> list[str]:
    env, records = run["env"], run["records"]
    ph = {p: counters.empty() for p in ("build", "action")}
    for r in records:
        for p in ph:
            counters.add(ph[p], r["counters"][p])
    build_s = sum(r["build_s"] for r in records)
    query_s = build_s + sum(r["action_s"] for r in records)
    reset_s = sum(r["cleanup_s"] for r in records)
    multi = [r for r in records if r["counters"]["build"]["jobs"] >= 2]
    worst = sorted(records, key=lambda r: r["build_s"] / max(r["build_s"] + r["action_s"], 1e-9),
                   reverse=True)[:3]
    b, a = ph["build"], ph["action"]
    run_s = b["executor_run_s"] + a["executor_run_s"]
    cores = int(env["pins"]["SPARK_GRAFT_CPUS"])
    rows = [
        ("wall, %d operations incl. reset" % len(records), f"{query_s + reset_s:.1f} s"),
        ("spent in the Spark driver build",
         f"{build_s:.1f} s ({build_s / max(query_s, 1e-9):.0%})"),
        ("jobs in the build phase", f"{b['jobs']}"),
        ("jobs in the final action", f"{a['jobs']}"),
        ("operations with >=2 build jobs",
         f"{len(multi)}, which spend {sum(r['build_s'] for r in multi):.1f} s in the build"),
        ("tasks per stage (action)", f"{a['tasks'] / max(a['stages'], 1):.2f}"),
        ("executor busy / (wall x cores)", f"{run_s / max(query_s * cores, 1e-9):.2f}"),
        ("JVM GC, all operations", f"{b['gc_s'] + a['gc_s']:.1f} s"),
        ("reset_session_state", f"{reset_s:.1f} s ({reset_s / max(len(records), 1):.2f} s each)"),
        ("worst build share", ", ".join(
            f"`{r['op']}` ({r['counters']['build']['jobs']} build jobs, "
            f"{r['build_s']:.1f} of {r['build_s'] + r['action_s']:.1f} s)" for r in worst)),
    ]
    head = (f"### {env['workload']} (seed {env['seed']}, {cores} cores, "
            f"heap {env['pins']['SPARK_GRAFT_DRIVER_MEM']}, Spark {env['spark']}, "
            f"commit {env['commit'] or env['source_sha256']})")
    return [head, "", "| measure | value |", "|---|---|"] + [f"| {k} | {v} |" for k, v in rows]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out-dir", default=".perfbench_out")
    args = ap.parse_args()
    newest: dict[str, tuple[float, str]] = {}
    for path in glob.glob(os.path.join(args.out_dir, "*-trace1.json")):
        wl = os.path.basename(path).rsplit("-seed", 1)[0]
        newest[wl] = max(newest.get(wl, (0.0, "")), (os.path.getmtime(path), path))
    if not newest:
        print(f"rollup: no traced runs in {args.out_dir}")
        return 1
    for wl in sorted(newest):
        with open(newest[wl][1]) as f:
            print("\n".join(table(json.load(f))) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
