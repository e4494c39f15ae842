"""Edit-distance-join growth trend WITH in-data attribution (VERDICT r7
item 3): time `edit_distance_pairs_2` at each generated tier AND record
the candidate-pair / distinct-string / output-pair counts from
`edit_distance_candidate_stats`, so the wall-time curve is judged
against the candidate-pair curve instead of the row curve. The round-7
artifact showed 35.8x wall at 1000x rows with no in-artifact way to tell
plan regression from pair-density growth; this closes that.

Usage: python scripts/edit_trend.py > SCALE_TREND_R8_EDIT.json
"""

from __future__ import annotations

import json
import sys
import time

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure


def _strs(spark, sf_dir: str):
    """The exact string frame q_edit_distance_pairs_2 builds (title
    prefixes + injected <=2-edit mutations over doc_id % 4 == 0)."""
    from pyspark.sql import functions as F

    from epic_pandas_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    base = docs.select(
        F.col("doc_id").alias("id"), F.substring("text", 1, 20).alias("s")
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.substring("text", 1, 1),
                F.substring("text", 3, 1),
                F.substring("text", 6, 15),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("q"), F.substring("text", 1, 20), F.lit("z")),
        )
        .otherwise(
            F.concat(
                F.substring("text", 1, 9),
                F.lit("X"),
                F.substring("text", 11, 9),
                F.lit("Y"),
            )
        )
        .alias("s"),
    )
    return base.unionByName(mutated)


def run_tier(sf_dir: str) -> dict:
    from epic_pandas_spark.extensions.dedup import (
        edit_distance_candidate_stats,
        edit_distance_pairs,
    )

    spark = measure.session("edit_trend", sf_dir, "documents")
    t0 = time.monotonic()
    n_pairs = edit_distance_pairs(_strs(spark, sf_dir), "s", "id", max_edits=2).count()
    wall = round(time.monotonic() - t0, 3)
    stats = edit_distance_candidate_stats(
        _strs(spark, sf_dir), "s", "id", max_edits=2
    )
    return {"wall_sec": wall, "n_output_pairs": n_pairs, **stats}


def main() -> None:
    evidence_lock.acquire("edit_trend")
    if len(sys.argv) > 1 and sys.argv[1] == "--tier":
        print(json.dumps(run_tier(sys.argv[2])))
        return
    tiers = measure.over_tiers(__file__, ["sf0.01", "sf0.1", "sf1", "sf10"])
    measure.ratios(tiers, wall="wall_sec", candidate="n_candidate_pairs")
    report = {
        "query": "edit_distance_pairs_2",
        "tiers": tiers,
        "note": (
            "wall ratio must track the candidate-pair ratio, not the row "
            "ratio: candidates grow with distinct-string density in the "
            "2-deletion blocks (in-data attribution, VERDICT r7 item 3). "
            "The distinct-string rewrite makes the neighborhood join size "
            "depend on |distinct strings|, so duplicate-key growth no "
            "longer multiplies the block join."
        ),
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
