"""repeated_passage_pairs growth trend (VERDICT r10 "what's wrong" #1):
price the operator's hot-gram guard on the pair self-join, in both the
registry's regular injected-copy construction and an adversarial
boilerplate regime (``--skew``: one ~90-char sentence planted in 40% of
docs, so each of its >=50-char grams carries a 0.4N doc frequency).

A gram in D docs emits C(D, 2) OUTPUT pairs through ONE join key —
quadratic in corpus size, un-splittable by AQE because the skew is the
answer, not the plan. The guard drops grams in more than
_AUTO_GRAM_FREQ = 10k docs via one map-side-combinable doc-frequency
count + a broadcast ANTI join against the hot tail. Each tier asserts
the signal survives: every injected exact-copy pair must still surface
in the guarded output. A tier whose exact projected pair-join size
outgrows this host's spill budget is skipped with the projection
recorded.

Usage:
  python scripts/passages_trend.py                  # regular tiers
  python scripts/passages_trend.py --skew           # planted-boilerplate tiers
  python scripts/passages_trend.py --skew sf0.1,sf1 # subset
"""

from __future__ import annotations

import json
import sys
import time

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure

BOILER = (
    "copyright notice all rights reserved unauthorized reproduction "
    "is strictly prohibited"
)  # ~90 normalized chars -> ~40 overlapping >=50-char hot grams

# the pair join's INTERMEDIATE row count is exactly sum(C(df,2)) over
# kept grams (map-side combine can't reduce mostly-unique groups), ~24
# bytes each through a shuffle; cap what we are willing to spill on this
# host (1.2e9 rows ~ 30 GB, under half the node's free disk).
_INTERMEDIATE_BUDGET = 1_200_000_000


def _corpus(spark, sf_dir: str, skew: bool):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if skew:
        docs = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 < 2, F.concat_ws(" ", "text", F.lit(BOILER))
            ).otherwise(F.col("text")),
        )
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return docs.unionByName(dups)


def run_tier(sf_dir: str, skew: bool) -> dict:
    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.dedup import (
        _AUTO_GRAM_FREQ,
        _gram_hashes_expr,
        repeated_passage_pairs,
    )
    from epic_pandas_spark.functions.text import chargram_text_expr

    spark = measure.session("passages_trend", sf_dir)
    u = _corpus(spark, sf_dir, skew)
    n_in = u.count()  # warms footers too
    n_copies = u.filter(F.col("doc_id") >= 1000000).count()
    res: dict = {"n_input_docs": n_in, "n_injected_copies": n_copies}

    # EXACT per-gram doc-frequency histogram (the same aggregate the
    # guard itself runs): sum(C(df,2)) over kept grams is the EXACT
    # intermediate row count of the pair join — the projection that
    # decides whether the run is survivable on this host before a single
    # pair row is shuffled. This catches both the planted boilerplate AND
    # the synthetic corpus's natural template sentences, whose df grows
    # with N (the sf10 guarded run was killed at 40+ GB of spill on
    # natural duplication alone before this gate existed).
    inv = u.select(
        F.col("doc_id").alias("id"),
        chargram_text_expr(F.col("text")).alias("__t"),
    ).select(
        "id",
        F.explode(F.array_distinct(_gram_hashes_expr(F.col("__t"), 50))).alias("gh"),
    )
    freq = (
        inv.groupBy("gh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") >= 2)
    ).localCheckpoint(eager=False)
    hot = freq.filter(F.col("df") > _AUTO_GRAM_FREQ).count()
    row = freq.filter(F.col("df") <= _AUTO_GRAM_FREQ).agg(
        F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("inter"),
        F.max("df").alias("max_df"),
    ).collect()[0]
    proj = {
        "n_hot_grams_dropped": hot,
        "max_kept_df": row["max_df"],
        "exact_intermediate_join_rows": int(row["inter"] or 0),
    }
    if proj["exact_intermediate_join_rows"] > _INTERMEDIATE_BUDGET:
        res["guarded_default"] = {
            "max_gram_freq": _AUTO_GRAM_FREQ,
            "skipped": True,
            **proj,
            "reason": (
                "exact projected intermediate join rows exceed the "
                "host spill budget — at ~24 B/row this run would "
                "outgrow free disk; on a real corpus this projection "
                "is the signal to shard the pair consumer"
            ),
        }
        return res
    t0 = time.monotonic()
    row = repeated_passage_pairs(u, "text", "doc_id", min_len=50).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("n_shared").alias("sum_shared"),
        F.sum((F.col("id_b") - F.col("id_a") == 1000000).cast("long")).alias(
            "n_copy_pairs"
        ),
    ).collect()[0]
    res["guarded_default"] = {
        "max_gram_freq": _AUTO_GRAM_FREQ,
        "wall_sec": round(time.monotonic() - t0, 2),
        "n_pairs": row["n_pairs"],
        "sum_shared": row["sum_shared"],
        "n_copy_pairs": row["n_copy_pairs"],
        **proj,
    }
    # the SIGNAL survives the guard: every injected exact copy still
    # pairs with its original (copies share doc-unique grams — the
    # junction/body grams boilerplate can never saturate)
    assert row["n_copy_pairs"] >= n_copies, (
        f"injected copy pairs lost: {row['n_copy_pairs']} < {n_copies}"
    )
    return res


def main() -> None:
    evidence_lock.acquire("passages_trend")
    if sys.argv[1:2] == ["--tier"]:
        res = run_tier(sys.argv[2], "--skew" in sys.argv[3:])
        print(json.dumps({**res, "host_baseline": measure.host_baseline()}))
        return
    skew = sys.argv[1:2] == ["--skew"]
    labels = ["sf0.1", "sf1", "sf10"]
    if len(sys.argv) > 2 and sys.argv[1] in ("--tiers", "--skew"):
        labels = [l for l in labels if l in sys.argv[2].split(",")]
    tiers = measure.over_tiers(
        __file__, labels, extra=("--skew",) if skew else (), base="sf0.1"
    )
    # a projection-skipped tier has no wall to ratio
    walls = {label: t["guarded_default"].get("wall_sec") for label, t in tiers.items()}
    base_label = next(iter(tiers), None)
    for label, t in tiers.items():
        if label != base_label and walls[label] and walls[base_label]:
            t["wall_ratio_vs_" + base_label] = round(walls[label] / walls[base_label], 2)
    report = {
        "query": "repeated_passage_pairs" + ("_boilerplate_skew" if skew else ""),
        "tiers": tiers,
        "note": (
            "hot-gram guard: grams in more than _AUTO_GRAM_FREQ (10k "
            "docs, the single-join-task pair bound) dropped via one "
            "doc-frequency count + broadcast ANTI join against the hot "
            "tail. Every tier asserts all injected exact-copy pairs "
            "survive the guard; a tier projecting more than "
            f"{_INTERMEDIATE_BUDGET:,} intermediate join rows is skipped "
            "with the projection recorded."
            + (
                " Skew mode: one boilerplate sentence planted in 40% of docs."
                if skew
                else ""
            )
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
