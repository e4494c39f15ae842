"""remove_repeated_spans growth trend (VERDICT r8 "what's wrong" item 2):
time the exact-substring rewrite — winnowing prefilter + single-shuffle
window doc-freq, the round-9 shape — at each generated tier, with the
same duplicated-corpus construction as the registry query (every 7th doc
re-appended). The round-8 sf100 row was null (per-char gram sort spilled
past the node's scratch); this measures the tier that failure blocked.

Output aggregates (docs, removed chars, kept chars) are recorded so
every tier's result is also a cross-tier sanity check against the
DuckDB-oracled semantics.

Usage: python scripts/spans_trend.py [--tiers sf1,sf10] > SCALE_TREND_R9_SPANS.json
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
    """Adversarial hot-gram regime (VERDICT r9 task 2): plant one
    boilerplate sentence in 40% of docs, so a few k-grams each carry a
    0.4N-doc frequency. The round-9 window doc-freq serialized each hot
    gram's whole position stream through ONE sort task (window
    partitions can't split); the round-10 two-phase salted distinct +
    AQE-skew-join must stay flat. Runs the operator at the default
    doc_freq_salts and at salts=1 (the degenerate single-reducer count)
    and cross-checks identical outputs."""
    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.dedup import remove_repeated_spans

    spark = measure.session("spans_trend_skew", sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    tainted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 < 2, F.concat_ws(" ", "text", F.lit(BOILER))
        ).otherwise(F.col("text")),
    )
    n_in = tainted.count()
    # untimed warmup: first execution pays codegen + scan warmup that
    # would otherwise bias whichever variant runs first
    remove_repeated_spans(
        tainted.limit(500), "text", "doc_id", min_len=50
    ).agg(F.sum("n_removed_chars")).collect()
    res = {}
    # forced threshold: half the planted doc-frequency, so the split
    # machinery actually routes the boiler grams at this tier's scale
    forced_min_df = max(1000, n_in // 5)
    variants = (
        ("window_only", {"hot_gram_sample": 0.0}),
        # defaults: the 1M-doc-frequency threshold is cluster-fatal-sized,
        # so the planted 40% gram (df = 0.4 * |corpus|) stays on the
        # prefiltered window at local tiers — cost is the probe only
        ("hot_split_default", {}),
        ("hot_split_forced", {"hot_gram_min_df": forced_min_df}),
    )
    for label, kw in variants:
        t0 = time.monotonic()
        summary = _summary(remove_repeated_spans(tainted, "text", "doc_id", min_len=50, **kw))
        res[label] = {"wall_sec": round(time.monotonic() - t0, 2), **summary}
    for label in ("hot_split_default", "hot_split_forced"):
        assert (
            res[label]["sum_removed_chars"] == res["window_only"]["sum_removed_chars"]
            and res[label]["sum_kept_chars"] == res["window_only"]["sum_kept_chars"]
        ), f"hot-gram routing changed output ({label}): {res}"

    # how many grams the product's sampling probe routes to the hot
    # path on this corpus (same helper + parameters as the operator)
    from epic_pandas_spark.extensions.dedup import (
        _normalized_text_expr,
        _position_stream,
    )

    docs_sampled = tainted.select(
        F.col("doc_id").alias("__id"),
        _normalized_text_expr(F.col("text")).alias("__t"),
    ).withColumn("__len", F.length("__t")).filter(
        F.col("__id").isNotNull() & (F.col("__len") > 0)
    ).sample(fraction=0.01, seed=7)
    # hot grams the FORCED threshold routes; the default 1M-df threshold
    # detects none at local tiers (that is the point of its sizing)
    res["forced_min_df"] = forced_min_df
    res["n_hot_grams_detected_forced"] = (
        _position_stream(docs_sampled, 50)
        .groupBy("__gh")
        .agg(F.count_distinct("__id").alias("__c"))
        .filter(F.col("__c") >= max(8, int(forced_min_df * 0.01)))
        .count()
    )

    # STAGE-LEVEL probe over the identical un-prefiltered position
    # stream: the round-9 doc-freq (gram-keyed window, dense_rank max —
    # unsplittable hot partitions) vs the rejected pure two-phase salted
    # distinct + flag join, measured through the flag decision only.
    # Probe-only reconstruction, not product code; exists so the
    # hot-gram regime is attributed mechanically, not argued.
    from pyspark.sql import Window

    k = 50
    docs_nrm = tainted.select(
        F.col("doc_id").alias("__id"),
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ").alias("__t"),
    ).withColumn("__len", F.length("__t"))
    starts = F.sequence(F.lit(1), F.greatest(F.col("__len") - F.lit(k - 1), F.lit(1)))
    pos = docs_nrm.filter(F.col("__id").isNotNull() & (F.col("__len") > 0)).select(
        "__id",
        F.explode(starts).alias("__p"),
        F.xxhash64(F.substring(F.col("__t"), F.col("__p"), k)).alias("__gh"),
    )

    t0 = time.monotonic()
    w_gh = Window.partitionBy("__gh")
    n_win = (
        pos.withColumn("__dr", F.dense_rank().over(w_gh.orderBy("__id")))
        .withColumn("__df", F.max("__dr").over(w_gh))
        .filter(F.col("__df") >= 2)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__p").alias("sp"))
        .collect()[0]
    )
    res["stage_window_r9"] = {
        "wall_sec": round(time.monotonic() - t0, 2),
        "n_flagged_positions": n_win["n"],
    }

    t0 = time.monotonic()
    gram = (
        pos.groupBy("__gh", F.pmod(F.xxhash64("__id"), F.lit(16)).alias("__salt"))
        .agg(F.count_distinct("__id").alias("__pdf"))
        .groupBy("__gh")
        .agg(F.sum("__pdf").alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("__gh")
    )
    # merge hint: on a duplication-heavy un-prefiltered corpus the flagged
    # gram table runs to millions of rows; AQE's compressed-size estimate
    # can sit under the 64MB broadcast threshold while the actual
    # driver-collected rows blow spark.driver.maxResultSize (hit at
    # sf10-skew, 2 GiB). SMJ is also the honest at-scale shape this
    # probe exists to price.
    n_tp = (
        pos.join(gram.hint("merge"), on="__gh")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__p").alias("sp"))
        .collect()[0]
    )
    res["stage_twophase_salted"] = {
        "wall_sec": round(time.monotonic() - t0, 2),
        "n_flagged_positions": n_tp["n"],
    }
    assert n_win["n"] == n_tp["n"] and n_win["sp"] == n_tp["sp"], (
        f"stage probes disagree: window={n_win} twophase={n_tp}"
    )
    return {"n_input_docs": n_in, "hot_doc_frac": 0.4, **res}


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
    if not skew:
        measure.ratios(tiers, wall="wall_sec")
    report = {
        "query": "remove_repeated_spans" + ("_hot_gram_skew" if skew else ""),
        "tiers": tiers,
        "note": (
            "round-10 shape: lossless winnowing prefilter (narrow numpy "
            "fingerprints -> candidate docs only enter the per-char "
            "stream) + gram-keyed window doc-freq for the long tail + "
            "HEAVY-HITTER SPLIT: a seeded sample probe routes grams in "
            ">= ~hot_min/sample docs through an exact two-phase salted "
            "distinct + broadcast flag join, so no window sort task "
            "grows with corpus size. sf100 runs with "
            "SPARK_GRAFT_DRIVER_MEM=48g — a probe-level sizing knob, "
            "not an operator change."
            + (
                " Skew mode: one boilerplate sentence planted in 40% of "
                "docs; hot_split_default vs window_only "
                "(hot_gram_sample=0) on identical output; stage_* "
                "probes isolate the doc-freq stage shapes on the same "
                "un-prefiltered position stream."
                if skew
                else ""
            )
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
