"""Robustness probe: every registry query must produce the same row count
on a COMPLETELY DEFAULT SparkSession (no shuffle-partition tuning, default
AQE, 200 shuffle partitions) as on the tuned session — i.e. nothing in the
engine depends on session tuning, partition counts, or physical layout.

Run directly; prints one JSON line {"n_queries": N, "mismatches": [...],
"errors": [...]}. Used as release evidence, not CI (it re-runs the whole
registry twice).
"""

from __future__ import annotations

import json
import os
import sys

import measure  # (scripts/ is sys.path[0] when run as a file)


def counts_with(builder_tweaks, sf_dir: str) -> dict[str, int]:
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master("local[8]").appName("robustness_probe")
    for k, v in builder_tweaks.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    try:
        from epic_pandas_spark.plans.registry import REGISTRY

        out = {}
        for name, (fn, _sql) in sorted(REGISTRY.items()):
            try:
                out[name] = fn(spark, sf_dir).count()
            except Exception as ex:  # noqa: BLE001 - report, don't abort the sweep
                out[name] = f"ERROR: {type(ex).__name__}: {ex}"
        return out
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    if which in ("default", "tuned"):
        tweaks = (
            {}
            if which == "default"
            else {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "true"}
        )
        print(json.dumps(counts_with(tweaks, sf_dir)))
        return
    # "both": compare via two fresh-JVM children (session configs are
    # sticky in one JVM)
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir}
    res = {
        scenario: measure.child([sys.executable, os.path.abspath(__file__), scenario], env)
        for scenario in ("default", "tuned")
    }
    names = sorted(set(res["default"]) | set(res["tuned"]))
    mismatches = [
        {"query": n, "default": res["default"].get(n), "tuned": res["tuned"].get(n)}
        for n in names
        if res["default"].get(n) != res["tuned"].get(n)
    ]
    errors = [
        n
        for n in names
        for scenario in ("default", "tuned")
        if isinstance(res[scenario].get(n), str)
    ]
    print(
        json.dumps(
            {"n_queries": len(names), "mismatches": mismatches, "errors": sorted(set(errors))}
        )
    )


if __name__ == "__main__":
    main()
