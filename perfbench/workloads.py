"""The benchmark's workloads: lists of operations on the engine's layers.

An ``Op`` has the phases the harness times: ``build`` makes the
DataFrame (or the stream's source and plan), ``action`` runs it to the
end. ``check`` runs after an untimed ``build`` and ``action``: it
verifies the result against an independent answer (DuckDB for a
registry query, the batch twin for a streaming surface, a row count for
a dump -> load round trip). A registry query's noop-sink action leaves
no output, so its check collects the built query itself and needs no
action before it (``check_executes``). ``prep`` and ``tidy`` are untimed
housekeeping around each execution.

Each registry query is attributed to the package its function calls
(``module_of``), so per-module build and action time can be summed.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import shutil
import textwrap
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from prep import norm_rows, oracle_path

PKG = "epic_pandas_spark"
MODULES = (
    "streaming", "sources", "parallel", "keyed",
    "extensions", "functions", "plans.tpch", "operators",
)


@dataclass
class Ctx:
    spark: Any
    data: str   # directory of <table>.parquet (and shards/)
    work: str   # per-run work directory for sinks and checkpoints

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _nothing(ctx: Ctx) -> None:
    return None


@dataclass
class Op:
    name: str
    module: str
    build: Callable[[Ctx], Any]
    action: Callable[[Ctx, Any], dict]
    check: Callable[[Ctx, Any], str | None]
    prep: Callable[[Ctx], None] = _nothing
    tidy: Callable[[Ctx], None] = _nothing
    check_executes: bool = False  # check runs the built query; no action before it


@dataclass
class Workload:
    name: str
    sf: float
    tables: tuple[str, ...]
    queries: tuple[str, ...] = ()  # registry query names
    extra: Callable[[], list[Op]] = list
    shards: dict[str, int] = field(default_factory=dict)

    def ops(self) -> list[Op]:
        return [registry_op(q) for q in self.queries] + self.extra()


# --------------------------------------------------------------------------
# registry queries
# --------------------------------------------------------------------------

def _package(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return None
    if parts[1] == "plans":
        return "plans.tpch" if parts[2:3] == ["tpch"] else None
    return parts[1] if parts[1] in MODULES else None


def module_of(fn) -> str:
    """The package a registry function calls into: its own module if it
    lives outside the registry, else the packages named by its imports
    and globals (following registry-private helpers). The most specific
    package wins; a query that only uses registry-top imports counts as
    ``operators``."""
    found: set[str] = set()
    seen: set[str] = set()

    def visit(f) -> None:
        if f.__name__ in seen:
            return
        seen.add(f.__name__)
        pkg = _package(f.__module__)
        if f.__module__ != f"{PKG}.plans.registry":
            if pkg:
                found.add(pkg)
            return
        tree = ast.parse(textwrap.dedent(inspect.getsource(f)))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                if _package(node.module):
                    found.add(_package(node.module))
            elif isinstance(node, ast.Name):
                obj = f.__globals__.get(node.id)
                mod = getattr(obj, "__module__", None) or ""
                if inspect.isfunction(obj) and mod == f"{PKG}.plans.registry":
                    visit(obj)
                elif _package(mod):
                    found.add(_package(mod))

    visit(fn)
    return next((m for m in MODULES if m in found), "operators")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_op(name: str) -> Op:
    from epic_pandas_spark.plans import registry

    fn, sql = registry.REGISTRY[name]

    def action(ctx: Ctx, df) -> dict:
        _noop(df)
        return {}

    def check(ctx: Ctx, df) -> str | None:
        if sql is None:
            df.toPandas()
            return None
        got = norm_rows(df.toPandas())
        with open(oracle_path(ctx.data, name, sql)) as f:
            want = json.load(f)
        if got["cols"] != want["cols"]:
            return f"columns {got['cols']} != oracle {want['cols']}"
        if got["rows"] != want["rows"]:
            return f"{len(got['rows'])} rows differ from the oracle's {len(want['rows'])}"
        return None

    return Op(
        name, module_of(fn), lambda ctx: fn(ctx.spark, ctx.data), action, check,
        check_executes=True,
    )


# --------------------------------------------------------------------------
# streaming surfaces and sources round trips
# --------------------------------------------------------------------------

def _stream_source(ctx: Ctx, table: str):
    """File stream over the table's ordered shards, one shard per
    micro-batch. Event time is read as a session-zone TIMESTAMP, as
    ``load_table`` reads it for the batch twins."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = os.path.join(ctx.data, "shards", table)
    schema = ctx.spark.read.parquet(path).schema
    df = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)
    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _drive(q) -> dict:
    """processAllAvailable -> stop on a started query; return its
    progress counters and job group. A trailing empty micro-batch is
    not counted."""
    q.processAllAvailable()
    q.stop()
    out = {"batches": 0, "rows": 0, "add_batch_s": 0.0, "wal_commit_s": 0.0,
           "query_planning_s": 0.0, "job_group": str(q.runId)}
    for p in q.recentProgress:
        if p.numInputRows > 0:
            out["batches"] += 1
            out["rows"] += p.numInputRows
        d = p.durationMs
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["wal_commit_s"] += d.get("walCommit", 0) / 1e3
        out["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
    return out


def _memory_op(name: str, source: str, mode: str, surface, twin, key) -> Op:
    """A streaming surface into a memory sink, checkpointed in the run's
    work directory. ``key`` maps an output row to (key, order, value);
    per key, the value of the sink's last emission (highest order) must
    equal the batch twin's on the unsharded table."""
    from epic_pandas_spark.session import load_table

    table = f"pb_{name}"

    def action(ctx: Ctx, sdf) -> dict:
        q = (
            sdf.writeStream.outputMode(mode).format("memory").queryName(table)
            .option("checkpointLocation", ctx.fresh(f"ckpt_{name}"))
            .trigger(availableNow=True).start()
        )
        return _drive(q)

    def check(ctx: Ctx, sdf) -> str | None:
        got: dict = {}
        for row in ctx.spark.table(table).collect():
            k, order, v = key(row)
            if k not in got or order >= got[k][0]:
                got[k] = (order, v)
        got = {k: v for k, (_, v) in got.items()}
        batch = twin(load_table(ctx.spark, ctx.data, source))
        want = {k: v for k, _, v in map(key, batch.collect())}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()), key=str)[:2]
            return f"{len(got)} keys vs the batch twin's {len(want)}, e.g. {diff}"
        return None

    def tidy(ctx: Ctx) -> None:
        ctx.spark.catalog.dropTempView(table)

    return Op(
        f"stream_{name}", "streaming",
        lambda ctx: surface(_stream_source(ctx, source)), action, check, tidy=tidy,
    )


def _bytes(path: str) -> int:
    """Size of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def io_op(fmt: str, **options) -> Op:
    """``sources.io`` round trip of lineitem: dump to ``lineitem.<fmt>``,
    then load it back and materialize every column."""
    from epic_pandas_spark.session import load_table
    from epic_pandas_spark.sources import io

    label = fmt + ("_partitioned" if options.get("partition_by") else "")

    def path(ctx: Ctx) -> str:
        return os.path.join(ctx.work, f"io_{label}", f"lineitem.{fmt}")

    def action(ctx: Ctx, df) -> dict:
        t0 = time.perf_counter()
        io.dump(df, path(ctx), **options)
        t1 = time.perf_counter()
        _noop(io.load(ctx.spark, path(ctx)))
        t2 = time.perf_counter()
        src = os.path.join(ctx.data, "lineitem.parquet")
        return {"dump_s": t1 - t0, "load_s": t2 - t1,
                "bytes_written": _bytes(path(ctx)), "bytes_input": _bytes(src)}

    def check(ctx: Ctx, df) -> str | None:
        n_in, n_out = df.count(), io.load(ctx.spark, path(ctx)).count()
        return None if n_in == n_out else f"loaded {n_out} rows, dumped {n_in}"

    return Op(
        f"io_{label}", "sources",
        lambda ctx: load_table(ctx.spark, ctx.data, "lineitem"), action, check,
        prep=lambda ctx: ctx.fresh(f"io_{label}"),
    )


def streaming_ops() -> list[Op]:
    from epic_pandas_spark.streaming.windows import tumbling_agg

    return [
        _memory_op(
            "tumbling_agg", "events", "update", tumbling_agg, tumbling_agg,
            lambda r: ((r["window_start"], r["event_type"]), r["n_events"],
                       (r["n_events"], round(r["sum_value"], 6))),
        ),
        io_op("parquet", partition_by=["l_returnflag"]),
    ]


# --------------------------------------------------------------------------
# the workloads
# --------------------------------------------------------------------------

# pipelines_streaming_sf0.1: the Spark driver build is most of each registry
# query's time here (eager probe jobs, Python UDF set-up), so build-phase
# changes move it; the stream and the dump/load add state-store, WAL and
# file-writer work that no registry query does.
# relational_sf1: the final action is most of the time (scans, joins and
# aggregates over 6M lineitem rows), so executor-side changes move it and
# a build-phase change should leave it flat.
# Every layer gets at least one registry query: extensions
# (dedup_minhash_lsh), functions (bpe_tokenize), parallel
# (sentence_split_udtf, a Python UDTF), plans.tpch (tpch_q12, tpch_q14),
# keyed (alignable) and operators (weighted_average, value_counts).
# Every operation matches its oracle on the generated inputs. The lists
# are short because one run must fit in about a minute with JVM start and
# the untimed warm-and-check pass.
PIPELINES = ("dedup_minhash_lsh", "bpe_tokenize", "sentence_split_udtf")
RELATIONAL = ("tpch_q12", "tpch_q14", "alignable", "weighted_average", "value_counts")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "pipelines_streaming_sf0.1", 0.1, ("lineitem", "events", "documents"), PIPELINES,
            extra=streaming_ops, shards={"events": 4},
        ),
        Workload(
            "relational_sf1", 1.0, ("customer", "part", "orders", "lineitem"), RELATIONAL,
        ),
    )
}
