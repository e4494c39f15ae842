"""Session benchmark of epic_pandas_spark: one command, two workloads.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload relational_sf1 --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py``): ``pipelines_streaming_sf0.1``
(driver-build-bound registry pipelines, a streaming surface and a
``sources.io`` round trip) and ``relational_sf1`` (executor-bound TPC-H
and relational surface at sf1).

A run

1. pins its environment: ``SPARK_GRAFT_CPUS`` = usable cores, a driver
   heap of a third of host RAM (at most 4 GiB), Spark local dirs,
   ``TMPDIR`` and the JVM temp dir inside ``.perfbench_work/``, and a
   worker ``PYTHONPATH`` at the checkout root; engine tuning knobs from
   the caller's environment are dropped;
2. finds its seeded inputs (data seed = ``--seed`` mod ``DATA_SEEDS``)
   and the DuckDB oracle answers under ``.perfbench_cache/``, cached by
   (sf, data seed). The first run in a checkout makes them for every
   workload and data seed, in child processes (``prep.py``);
3. sets the session up (``session.get_spark``, which launches the JVM,
   plus a warm-up read of ``lineitem``): the cold set-up, reported
   per-layer as ``session.jvm_start_s`` and ``session.warmup_s``;
4. runs every operation once, untimed, in the seed-permuted order and
   checks its result (``warm_and_check``), then clears the state that
   pass left with ``session.reset_session_state``;
5. runs the operations again in the same order, timed, each as three
   phases with their own Spark job group: ``build`` (the registry
   function or stream plan), ``action`` (noop-sink write,
   start -> processAllAvailable -> stop, or dump -> load) and
   ``cleanup`` (``session.reset_session_state``). This one pass is the
   measurement: ``--seconds`` is recorded, not enforced, and each
   workload is about 20 s of operations on a 4-core host;
6. sets the session up again three times in the now warm JVM (stop the
   session, ``get_spark``, the warm-up read, then
   ``session.reset_session_state`` so the first query would start from
   a clean session) and reports the median as ``setup_s``. Set-ups made
   right after the JVM launch run while the JIT still compiles the scan
   path, so they swing with the host's load; after the workload they
   measure the session's own set-up work;
7. prints an ``env`` line, then, as its last line, one JSON object:
   ``correct``, ``attempted``, ``failed`` and the end-to-end metrics
   (``--trace 0``) or the per-layer metrics (``--trace 1``).

With ``--trace 1`` each operation's job groups are read from the status
store (``counters.py``) as soon as it ends; that read is the tracing
overhead, visible as ``trace.elapsed_s`` minus the untraced
``elapsed_s``. Every run also writes its per-operation records to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``; ``rollup.py``
turns the traced ones into the per-workload reference table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

import counters
import datagen
import prep
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "epic_pandas_spark"
SETUPS = 3
# Inputs come from one of DATA_SEEDS seeded sets (``--seed`` mod
# DATA_SEEDS) while the operation order follows the whole seed: many-seed
# series then reuse cached inputs instead of regenerating sf1 on every run.
DATA_SEEDS = 4
# ``prepare`` makes every workload's sets at once; the cache must hold them all
assert datagen.KEEP >= len(workloads.WORKLOADS) * DATA_SEEDS
PHASES = ("build", "action", "cleanup")
DROPPED_ENV = (
    "EPS_RESET_MODE", "EPS_RESET_DEBUG", "EPS_SKIP_WITNESS",
    "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_UI", "PYSPARK_SUBMIT_ARGS",
)
SURFACES = ("tumbling_agg",)


def pin_env(root: str, work: str) -> dict[str, str]:
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, ram_mb // 3)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    for k in DROPPED_ENV:
        os.environ.pop(k, None)
    os.environ.update(pins)
    for d in (pins["SPARK_LOCAL_DIRS"], pins["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return pins


def host_record(root: str, spark, pins: dict[str, str]) -> dict:
    digest = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(root, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    return {
        "host_cores": os.cpu_count(),
        "host_ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "pins": pins,
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def input_dir(root: str, wl: workloads.Workload, seed: int) -> str:
    return datagen.cache_dir(root, wl.sf, seed, wl.tables, wl.shards)


def inputs_ready(root: str, wl: workloads.Workload, seed: int) -> bool:
    data = input_dir(root, wl, seed)
    return os.path.exists(os.path.join(data, "MANIFEST.json")) and not prep.missing_oracles(
        data, wl.queries
    )


def make_inputs(root: str, wl: workloads.Workload, seed: int) -> None:
    """Make the workload's inputs and oracle answers for data seed
    ``seed`` with ``prep.py``, in a child process."""
    cmd = [
        sys.executable, os.path.join(HERE, "prep.py"), "--root", root,
        "--sf", str(wl.sf), "--seed", str(seed), "--tables", ",".join(wl.tables),
        "--shards", ",".join(f"{t}:{n}" for t, n in wl.shards.items()),
        "--oracle", ",".join(wl.queries),
    ]
    subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600)


def prepare(root: str, wl: workloads.Workload, seed: int) -> str:
    """The directory of ``wl``'s inputs for data seed ``seed``. A run that
    finds them missing makes the inputs of every workload and data seed,
    so only the first run in a checkout generates data and no later run
    shares the host with generation or its disk write-back."""
    if not inputs_ready(root, wl, seed):
        for w in workloads.WORKLOADS.values():
            for s in range(DATA_SEEDS):
                if not inputs_ready(root, w, s):
                    make_inputs(root, w, s)
        os.sync()
    data = input_dir(root, wl, seed)
    os.utime(data)
    return data


def warm_up(spark, data: str) -> None:
    """The warm-up read: scan, aggregate and shuffle ``lineitem`` once, so
    the first timed operation does not pay alone for the JVM's first
    compiles of scan and shuffle."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(data, "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.count("*"), F.sum("l_quantity")).collect()


def warm_and_check(ctx, op) -> str | None:
    """Run ``op`` once, untimed, and check its result; return its error,
    if any. The timed pass then finds every operation's code paths
    already compiled in the JVM, whatever the order, so its figures do
    not depend on which operation happens to run first."""
    counters.set_group(ctx.spark, f"pb:warm:{op.name}")
    op.prep(ctx)
    try:
        built = op.build(ctx)
        if not op.check_executes:
            op.action(ctx, built)
        return op.check(ctx, built)
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        return f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        op.tidy(ctx)


def run_op(ctx, op, error: str | None, traced: bool) -> dict:
    """Time one operation; ``error`` is the outcome of its untimed check."""
    from epic_pandas_spark.session import reset_session_state

    spark = ctx.spark
    rec = {"op": op.name, "module": op.module, "error": error, "extra": {}}
    groups = {ph: f"pb:{op.name}:{ph}" for ph in PHASES}
    op.prep(ctx)
    t = {}
    t0 = time.perf_counter()
    try:
        counters.set_group(spark, groups["build"])
        built = op.build(ctx)
        t["build"] = time.perf_counter()
        counters.set_group(spark, groups["action"])
        rec["extra"] = op.action(ctx, built)
        t["action"] = time.perf_counter()
        op.tidy(ctx)
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        t.setdefault("build", time.perf_counter())
        t.setdefault("action", time.perf_counter())
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        for g in groups.values():
            spark.sparkContext.cancelJobGroup(g)
    built = None
    t_clean = time.perf_counter()
    counters.set_group(spark, groups["cleanup"])
    reset_session_state(spark)
    t_end = time.perf_counter()
    rec["build_s"] = t["build"] - t0
    rec["action_s"] = t["action"] - t["build"]
    rec["cleanup_s"] = t_end - t_clean
    if traced:
        rec["counters"] = {ph: counters.phase_counters(spark, g) for ph, g in groups.items()}
        if "job_group" in rec["extra"]:
            counters.add(rec["counters"]["action"],
                      counters.phase_counters(spark, rec["extra"]["job_group"]))
    if rec["error"]:
        print(f"perfbench: {op.name} failed: {rec['error']}", file=sys.stderr)
    return rec


def phase_sum(records, phases) -> float:
    return sum(r[f"{p}_s"] for r in records for p in phases)


def end_to_end(records, setups) -> dict:
    """Session wall time and set-up time. The query-only sums
    (``query_s``, ``query_geomean_s``) are per-layer: on a shared 4-core
    host their run-to-run spread comes close to a 0.25 bound, while
    ``elapsed_s``, which adds the steadier between-query cleanup, stays
    inside it."""
    return {
        "elapsed_s": (phase_sum(records, PHASES), "s"),
        "setup_s": (statistics.median(sum(s) for s in setups), "s"),
    }


def per_layer(records, cold, cores: int, rss_mb: float) -> dict:
    """Sums of the traced counters, by phase, module and layer."""
    ph = {p: counters.empty() for p in PHASES}
    wall = {p: 0.0 for p in PHASES}
    mods = {m: {"build_s": 0.0, "build_jobs": 0, "action_s": 0.0} for m in workloads.MODULES}
    stream = {"batches": 0, "rows": 0, "add_batch_s": 0.0, "wal_commit_s": 0.0,
              "query_planning_s": 0.0}
    surface = {s: 0.0 for s in SURFACES}
    io = {"dump_s": 0.0, "load_s": 0.0, "bytes_written": 0, "bytes_input": 0}
    stream_s = 0.0
    for r in records:
        rc = r.get("counters", {})
        for p in PHASES:
            counters.add(ph[p], rc.get(p, {}))
            wall[p] += r[f"{p}_s"]
        m = mods[r["module"]]
        m["build_s"] += r["build_s"]
        m["build_jobs"] += rc.get("build", {}).get("jobs", 0)
        m["action_s"] += r["action_s"]
        x = r["extra"]
        if "batches" in x:
            counters.add(stream, {k: x[k] for k in stream})
            stream_s += r["action_s"]
            surface[r["op"].removeprefix("stream_")] += r["action_s"]
        if "dump_s" in x:
            counters.add(io, {k: x[k] for k in io})
    b, a = ph["build"], ph["action"]
    geo = math.exp(statistics.fmean(
        math.log(max(r["build_s"] + r["action_s"], 1e-6)) for r in records))
    out = {
        "query_s": (wall["build"] + wall["action"], "s"),
        "query_geomean_s": (geo, "s"),
        "build.s": (wall["build"], "s"),
        "build.jobs": (b["jobs"], "count"),
        "build.stages": (b["stages"], "count"),
        "build.tasks": (b["tasks"], "count"),
        "build.executor_cpu_s": (b["executor_cpu_s"], "s"),
        "action.s": (wall["action"], "s"),
        "action.jobs": (a["jobs"], "count"),
        "action.stages": (a["stages"], "count"),
        "action.tasks": (a["tasks"], "count"),
        "action.tasks_per_stage": (a["tasks"] / max(a["stages"], 1), "count"),
        "action.executor_run_s": (a["executor_run_s"], "s"),
        "action.executor_cpu_s": (a["executor_cpu_s"], "s"),
        "action.gc_s": (a["gc_s"], "s"),
        "action.shuffle_read_mb": (a["shuffle_read_mb"], "MB"),
        "action.shuffle_write_mb": (a["shuffle_write_mb"], "MB"),
        "action.spill_mb": (a["spill_mb"], "MB"),
        "executor.busy_frac": (
            (b["executor_run_s"] + a["executor_run_s"])
            / max((wall["build"] + wall["action"]) * cores, 1e-9), "ratio"),
    }
    for name, m in mods.items():
        out[f"{name}.build_s"] = (m["build_s"], "s")
        out[f"{name}.build_jobs"] = (m["build_jobs"], "count")
        out[f"{name}.action_s"] = (m["action_s"], "s")
    out.update({
        "session.jvm_start_s": (cold[0], "s"),
        "session.warmup_s": (cold[1], "s"),
        "session.reset_s": (wall["cleanup"], "s"),
        "session.driver_rss_peak_mb": (rss_mb, "MB"),
        "streaming.batches": (stream["batches"], "count"),
        "streaming.add_batch_s": (stream["add_batch_s"], "s"),
        "streaming.wal_commit_s": (stream["wal_commit_s"], "s"),
        "streaming.query_planning_s": (stream["query_planning_s"], "s"),
        "streaming.rows_per_s": (stream["rows"] / stream_s if stream_s else 0.0, "1/s"),
    })
    for s, v in surface.items():
        out[f"streaming.{s}.s"] = (v, "s")
    out.update({
        "sources.dump_s": (io["dump_s"], "s"),
        "sources.load_s": (io["load_s"], "s"),
        "sources.bytes_written_per_input_byte": (
            io["bytes_written"] / io["bytes_input"] if io["bytes_input"] else 0.0, "ratio"),
        "fail_frac": (sum(1 for r in records if r["error"]) / len(records), "ratio"),
        "trace.elapsed_s": (phase_sum(records, PHASES), "s"),
    })
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ in {root}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    pins = pin_env(root, work)
    data = prepare(root, wl, args.seed % DATA_SEEDS)

    from epic_pandas_spark.session import get_spark, reset_session_state

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={pins['TMPDIR']}",
    }

    def set_up() -> tuple[float, float]:
        nonlocal spark
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        warm_up(spark, data)
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        return t1 - t0, t2 - t1

    spark = None
    try:
        cold = set_up()
        ctx = workloads.Ctx(spark, data, work)
        ops = wl.ops()

        random.Random(args.seed).shuffle(ops)
        errors = {op.name: warm_and_check(ctx, op) for op in ops}
        reset_session_state(spark)
        records = [run_op(ctx, op, errors[op.name], bool(args.trace)) for op in ops]
        setups = []
        for _ in range(SETUPS):
            get_s, warm_s = set_up()
            t0 = time.perf_counter()
            reset_session_state(spark)
            setups.append((get_s, warm_s, time.perf_counter() - t0))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        env = host_record(root, spark, pins)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = per_layer(records, cold, int(pins["SPARK_GRAFT_CPUS"]), rss)
    else:
        metrics = end_to_end(records, setups)
    failed = [r["op"] for r in records if r["error"]]
    env.update(
        workload=wl.name, seed=args.seed, data_seed=args.seed % DATA_SEEDS,
        seconds=args.seconds, trace=args.trace,
        failed_ops=sorted(set(failed)),
    )
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"env": env, "cold": cold, "setups": setups, "records": records,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
