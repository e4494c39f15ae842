"""MinHash-LSH growth trend WITH in-data candidate attribution (VERDICT
r8 item 2, mirroring edit_trend.py): time `dedup_minhash_lsh` and
`near_dedup_curation` at each generated tier AND record the
candidate/verified pair counts from `minhash_lsh_candidate_stats`, so
the superlinear last-decade wall ratios observed at sf100 in round 8
(11.8x / 14.6x on the 10x into sf100) are attributable to duplicate-pair
density in the synthetic corpus vs a plan regression. Both queries use
the same LSH parameters (tau=0.8, 32 hashes, 16 bands —
bands_for_recall(0.8, 32) is 16), so one stats pass attributes both.

Usage: python scripts/lsh_trend.py [--tiers sf0.01,sf0.1,...] > SCALE_TREND_R9_LSH.json
"""

from __future__ import annotations

import json
import sys
import time

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure

LSH_KWARGS = dict(threshold=0.8, n_hashes=32, bands=16)


def run_tier(sf_dir: str) -> dict:
    from epic_pandas_spark.extensions.dedup import minhash_lsh_candidate_stats
    from epic_pandas_spark.plans import registry
    from epic_pandas_spark.session import load_table

    spark = measure.session("lsh_trend", sf_dir, "documents")
    out: dict = {}
    t0 = time.monotonic()
    out["n_lsh_pairs"] = registry.REGISTRY["dedup_minhash_lsh"][0](spark, sf_dir).count()
    out["wall_lsh_sec"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    [row] = registry.REGISTRY["near_dedup_curation"][0](spark, sf_dir).collect()
    out["wall_curation_sec"] = round(time.monotonic() - t0, 3)
    out["n_surviving"] = row["n_surviving"]
    out["n_clusters"] = row["n_clusters"]

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.monotonic()
    stats = minhash_lsh_candidate_stats(docs, "text", "doc_id", **LSH_KWARGS)
    out["wall_stats_sec"] = round(time.monotonic() - t0, 3)
    out.update(stats)
    return out


def main() -> None:
    evidence_lock.acquire("lsh_trend")
    if len(sys.argv) > 2 and sys.argv[1] == "--tier":
        print(json.dumps(run_tier(sys.argv[2])))
        return
    labels = ["sf0.01", "sf0.1", "sf1", "sf10", "sf100"]
    if len(sys.argv) > 2 and sys.argv[1] == "--tiers":
        labels = [l for l in labels if l in sys.argv[2].split(",")]
    tiers = measure.over_tiers(__file__, labels)
    measure.ratios(tiers, wall_lsh="wall_lsh_sec", wall_curation="wall_curation_sec",
                   candidate="n_candidate_pairs")
    report = {
        "queries": ["dedup_minhash_lsh", "near_dedup_curation"],
        "lsh_kwargs": LSH_KWARGS,
        "tiers": tiers,
        "note": (
            "wall ratios must track the candidate-pair ratio, not the row "
            "ratio (in-data attribution, VERDICT r8 item 2): the synthetic "
            "corpus injects duplicate clusters whose pair count grows "
            "faster than rows, so a superlinear wall decade with a "
            "matching candidate decade is corpus density, not a plan "
            "regression. n_candidate_pairs is the distinct banded pair "
            "set the verification stage pays for; n_verified_pairs the "
            "exact-Jaccard >= tau survivors."
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
