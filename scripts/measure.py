"""One measurement library for the timing scripts: the generated
`.scaledata` tiers, fresh-JVM child runs and the per-tier loop over
them, the in-session timed run with its stage counters, and the
alternating fresh-JVM A/B of `bench.py` solo runs. Each timing script
is a thin config on top: its queries, its per-tier body, its notes.

    python scripts/measure.py ab --base BASE_CHECKOUT --n 3 q1,q2 > AB.json
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import counters  # noqa: E402

SCALEDATA = os.path.join(REPO, ".scaledata")

# (label, dir, lineitem rows relative to sf0.01), all written by
# scripts/gen_scale_data.py so every tier comes from one generator
TIERS = [
    (f"sf{sf:g}", os.path.join(SCALEDATA, f"sf{sf:g}"), round(sf * 100))
    for sf in (0.01, 0.1, 1, 10, 100)
]


def last_json(stdout: str) -> dict:
    """The child's result line: the JVM can print warnings to stdout
    (e.g. incubator-module notices under a larger heap), so take the LAST
    line that parses as a JSON object."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    raise ValueError(f"no JSON line in child stdout: {stdout[-500:]!r}")


def host_baseline() -> dict:
    """Fixed micro-workloads timed on this host, recorded next to a
    measurement so host-speed drift is quoted as a number."""
    import numpy as np

    a = np.random.default_rng(7).standard_normal((2048, 2048))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a * 1e-3  # keep magnitudes bounded
    gemm = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i ^ (i >> 3)
    pyloop = round(time.perf_counter() - t0, 4)
    return {"numpy_gemm_2048_sec": gemm, "python_loop_5m_sec": pyloop}


def child(argv: list[str], env: dict | None = None, cwd: str = REPO) -> dict:
    """Run `argv` in a fresh process (so a fresh JVM) and return its last
    JSON line. A child that exits non-zero is refused even if it printed
    JSON first: a crashed run must not record a timing."""
    proc = subprocess.run(argv, stdout=subprocess.PIPE, text=True, env=env, cwd=cwd)
    if proc.returncode != 0:
        raise RuntimeError(f"{argv} exited {proc.returncode}: {proc.stdout[-500:]!r}")
    return last_json(proc.stdout)


def over_tiers(script: str, labels: list[str], env_for=None, extra: tuple = (),
               base: str = "sf0.01") -> dict[str, dict]:
    """`script --tier DIR *extra` in a fresh JVM per tier label, each
    result prefixed with its rows multiplier relative to `base`. A fresh
    JVM per tier, because a long session's checkpointed RDDs and GC
    pressure overstate whatever runs last (tpch_q1 at sf10: 7.7 s fresh,
    135 s at the tail of a 128-query session). A tier whose directory is
    missing is skipped; a label may be `label:dir` for a tier outside
    `.scaledata`; `env_for(label)` may return the child's environment."""
    dirs = {label: d for label, d, _ in TIERS}
    out: dict[str, dict] = {}
    for spec in labels:
        label, _, sf_dir = spec.partition(":")
        sf_dir = sf_dir or dirs[label]
        if not os.path.isdir(sf_dir):
            print(f"skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        argv = [sys.executable, os.path.abspath(script), "--tier", sf_dir, *extra]
        out[label] = {"rows_multiplier": round(float(label[2:]) / float(base[2:])),
                      **child(argv, env_for(label) if env_for else None)}
        print(f"{label}: {out[label]}", file=sys.stderr)
    return out


def session(app: str, sf_dir: str, *warm: str):
    """`get_spark` at log level ERROR, then a count of the first `warm`
    table in `sf_dir`, so the first timed query skips session start-up."""
    from epic_pandas_spark.session import get_spark

    spark = get_spark(app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    for table in warm:
        if os.path.exists(f"{sf_dir}/{table}.parquet"):
            spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
            break
    return spark


def ratios(tiers: dict[str, dict], **keys: str) -> None:
    """Add `<name>_ratio_vs_<first tier>` = tier[key] / first[key] to every
    later tier, for each `name=key`; a zero base is skipped."""
    if not tiers:
        return
    (base_label, base), *rest = tiers.items()
    for _, t in rest:
        for name, key in keys.items():
            if base[key]:
                t[f"{name}_ratio_vs_{base_label}"] = round(t[key] / base[key], 2)


def timed(spark, fn, sf_dir: str) -> dict:
    """Build `fn(spark, sf_dir)` and write it to the noop sink under a job
    group of its own. Returns the wall seconds (`sec`) and the group's
    stage counters (`perfbench/counters.py`). The session is reset after
    the clock stops, as in bench.py, also when the run raises."""
    from epic_pandas_spark.session import reset_session_state

    group = f"measure:{uuid.uuid4().hex}"
    counters.set_group(spark, group)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 4)
        return {"sec": sec, **counters.phase_counters(spark, group)}
    finally:
        reset_session_state(spark)


def bench(only: list[str] | None = None, side: str = REPO) -> dict:
    """One `bench.py` run of the checkout `side` in a fresh JVM. A solo
    run (`only`) records the warm second execution: a cold query pays the
    session's lazy init, several-fold on sub-second queries."""
    env = dict(os.environ, PYTHONPATH=side)
    if only:
        env.update(SPARK_GRAFT_BENCH_ONLY=",".join(only), SPARK_GRAFT_BENCH_REPEAT="2")
    return child([sys.executable, os.path.join(side, "bench.py")], env=env, cwd=side)


def ab(sides: dict[str, str], queries: list[str], n: int) -> dict:
    """`n` alternating fresh-JVM solo runs per side per query (strict
    A/B/A/B interleave, so host drift hits every side alike). Reports
    the samples, median and quartiles per side."""
    out = {}
    for query in queries:
        samples: dict[str, list[float]] = {side: [] for side in sides}
        for i in range(n):
            for side, d in sides.items():
                sec = bench([query], d)["queries"][query]
                if sec is None:
                    raise RuntimeError(f"{query} failed in {d}")
                samples[side].append(round(sec, 4))
                print(f"{query} run {i} {side}: {sec}", file=sys.stderr)
        out[query] = {"samples": samples, "median": {}, "quartiles": {}}
        for side, v in samples.items():
            out[query]["median"][side] = round(statistics.median(v), 4)
            q = statistics.quantiles(v, n=4, method="inclusive") if n > 1 else v * 3
            out[query]["quartiles"][side] = [round(x, 4) for x in q]
    return {"protocol": f"{n} alternating fresh-JVM bench.py solo runs per side "
                        "per query, warm second execution", "sides": sides, "results": out}


def main() -> None:
    import argparse

    import evidence_lock

    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("ab", help="fresh-JVM A/B of a baseline checkout vs this tree")
    p.add_argument("queries", help="comma-separated registry names")
    p.add_argument("--base", required=True, help="baseline checkout dir")
    p.add_argument("--n", type=int, default=3)
    args = ap.parse_args()
    evidence_lock.acquire("measure_ab")
    sides = {"base": os.path.abspath(args.base), "cur": REPO}
    print(json.dumps(ab(sides, [q for q in args.queries.split(",") if q], args.n), indent=1))


if __name__ == "__main__":
    main()
