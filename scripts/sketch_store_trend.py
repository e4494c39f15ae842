"""Sketch-store growth trend with BUILD vs ESTIMATE split (VERDICT r8
item 6): the KMV set-op matrix and the quantile-anchor rollup claim
corpus-size independence AFTER the store build — estimates run on
|groups| x k persisted summary rows, never raw data. This measures both
phases separately at every generated tier through sf100 so the claim is
evidenced the way the eval family's five decades are: build wall may
grow with the corpus (one scan + one keyed shuffle), estimate wall must
stay flat.

The store is materialized (eager localCheckpoint) between the phases
so the estimate timing cannot silently re-run the build.

Usage: python scripts/sketch_store_trend.py [--tiers sf10,sf100] > SCALE_TREND_R9_SKETCH.json
"""

from __future__ import annotations

import json
import sys
import time

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure


def run_tier(sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from epic_pandas_spark.functions.text import normalized_text_expr
    from epic_pandas_spark.operators.sketches import (
        kmv_setops_matrix,
        kmv_sketches,
        md5_hash60,
        quantile_anchor_rollup,
        quantile_anchor_sketches,
    )
    from epic_pandas_spark.session import load_table

    spark = measure.session("sketch_store_trend", sf_dir, "documents")

    out: dict = {}

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    norm = normalized_text_expr(F.col("text"))
    t0 = time.monotonic()
    store = kmv_sketches(docs, ["lang"], norm, k=128, hash_expr=md5_hash60).localCheckpoint(
        eager=True  # materialize: the estimate phase must not re-run the scan
    )
    out["kmv_store_rows"] = store.count()
    out["kmv_build_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    out["kmv_matrix_rows"] = kmv_setops_matrix(store, ["lang"], 128, hash_bits=60).count()
    out["kmv_estimate_sec"] = round(time.monotonic() - t0, 3)

    docs_q = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    t0 = time.monotonic()
    qstore = quantile_anchor_sketches(docs_q, ["lang"], "n_chars", q=64).localCheckpoint(
        eager=True
    )
    out["anchor_store_rows"] = qstore.count()
    out["anchor_build_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    out["anchor_rollup_rows"] = quantile_anchor_rollup(
        qstore, [], [0.25, 0.5, 0.75, 0.9, 0.99], q=64
    ).count()
    out["anchor_estimate_sec"] = round(time.monotonic() - t0, 3)
    return out


def main() -> None:
    evidence_lock.acquire("sketch_store_trend")
    if len(sys.argv) > 2 and sys.argv[1] == "--tier":
        print(json.dumps(run_tier(sys.argv[2])))
        return
    labels = ["sf0.01", "sf0.1", "sf1", "sf10", "sf100"]
    if len(sys.argv) > 2 and sys.argv[1] == "--tiers":
        labels = [l for l in labels if l in sys.argv[2].split(",")]
    tiers = measure.over_tiers(__file__, labels)
    report = {
        "queries": ["kmv_setops_matrix", "quantile_anchor_rollup"],
        "tiers": tiers,
        "note": (
            "build wall scales with the corpus (one scan + one keyed "
            "shuffle of k-bounded per-group state); estimate wall runs on "
            "the materialized |groups| x k store only and must stay flat "
            "across all five decades — that flatness IS the "
            "corpus-size-independence claim, measured."
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
