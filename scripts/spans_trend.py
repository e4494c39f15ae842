"""remove_repeated_spans growth trend (VERDICT r8 "what's wrong" item 2):
time the exact-substring rewrite — winnowing prefilter + single-shuffle
window doc-freq — at each generated tier, with the same
duplicated-corpus construction as the registry query (every 7th doc
re-appended). The round-8 sf100 row was null (per-char gram sort spilled
past the node's scratch); this measures the tier that failure blocked.

Output aggregates (docs, removed chars, kept chars) are recorded so
every tier's result is also a cross-tier sanity check against the
DuckDB-oracled semantics. ``--skew`` instead plants one boilerplate
sentence in 40% of docs and times one default run per tier.

Usage:
  python scripts/spans_trend.py [--tiers sf1,sf10] > SCALE_TREND_R9_SPANS.json
  python scripts/spans_trend.py --skew sf0.1,sf1
"""

from __future__ import annotations

import json
import os
import sys
import time

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure


def _summary(out) -> dict:
    """Output aggregates of a remove_repeated_spans frame (runs it)."""
    from pyspark.sql import functions as F

    row = out.agg(
        F.sum("n_removed_chars").alias("rm"),
        F.sum(F.length("cleaned")).alias("kept"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return {"n_out": row["n"], "sum_removed_chars": row["rm"], "sum_kept_chars": row["kept"]}


def run_tier(sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.dedup import remove_repeated_spans

    spark = measure.session("spans_trend", sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    u = docs.unionByName(dups)
    n_in = u.count()  # warms footers too
    t0 = time.monotonic()
    res = _summary(remove_repeated_spans(u, "text", "doc_id", min_len=50, keep_first=True))
    return {"n_input_docs": n_in, **res, "wall_sec": round(time.monotonic() - t0, 2)}


BOILER = (
    "copyright notice all rights reserved unauthorized reproduction "
    "is strictly prohibited"
)  # ~90 normalized chars -> a handful of >=50-char hot grams


def run_skew_tier(sf_dir: str) -> dict:
    """Adversarial hot-gram regime: plant one boilerplate sentence in 40%
    of docs, so a few k-grams each carry a 0.4N-doc frequency and sort
    through one window task each. Times the operator once and asserts
    every planted copy is cut."""
    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.dedup import remove_repeated_spans

    spark = measure.session("spans_trend_skew", sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = F.col("doc_id") % 5 < 2
    tainted = docs.withColumn(
        "text",
        F.when(planted, F.concat_ws(" ", "text", F.lit(BOILER))).otherwise(F.col("text")),
    )
    n_in = tainted.count()
    n_planted = tainted.filter(planted).count()
    t0 = time.monotonic()
    res = _summary(remove_repeated_spans(tainted, "text", "doc_id", min_len=50))
    wall = round(time.monotonic() - t0, 2)
    assert res["n_out"] == n_in and res["sum_removed_chars"] >= n_planted * len(BOILER), (
        f"planted boilerplate not removed: {res}, {n_planted} planted docs"
    )
    return {"n_input_docs": n_in, "hot_doc_frac": 0.4, **res, "wall_sec": wall}


def main() -> None:
    evidence_lock.acquire("spans_trend")
    if sys.argv[1:2] == ["--tier"]:
        run = run_skew_tier if "--skew" in sys.argv[3:] else run_tier
        # host speed at the moment the tier ran: this VM's speed wanders up
        # to 2x within a session under co-tenant load (round 10: python
        # loop 0.54 -> 0.70 -> 0.93 s across one day)
        print(json.dumps({**run(sys.argv[2]), "host_baseline": measure.host_baseline()}))
        return
    skew = sys.argv[1:2] == ["--skew"]
    labels = ["sf0.1", "sf1", "sf10", "sf100"]
    if len(sys.argv) > 2 and sys.argv[1] in ("--tiers", "--skew"):
        labels = [l for l in labels if l in sys.argv[2].split(",")]

    # size the heap to the tier (session.py documents the knob): the 16g
    # default leaves ~300MB execution memory per task under 32-way
    # concurrency, which sf100's window sort outgrows
    big_heap = {"SPARK_GRAFT_DRIVER_MEM": "48g", **os.environ}
    tiers = measure.over_tiers(
        __file__, labels, lambda label: big_heap if label == "sf100" else None,
        ("--skew",) if skew else (), base="sf0.1",
    )
    measure.ratios(tiers, wall="wall_sec")
    report = {
        "query": "remove_repeated_spans" + ("_hot_gram_skew" if skew else ""),
        "tiers": tiers,
        "note": (
            "lossless winnowing prefilter (narrow numpy fingerprints -> "
            "candidate docs only enter the per-char stream) + gram-keyed "
            "window doc-freq. sf100 runs with SPARK_GRAFT_DRIVER_MEM=48g "
            "— a probe-level sizing knob, not an operator change."
            + (
                " Skew mode: one boilerplate sentence planted in 40% of "
                "docs; one default run, asserted to cut every planted copy."
                if skew
                else ""
            )
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
