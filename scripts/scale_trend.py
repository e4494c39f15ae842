"""100x growth-trend probe: time the most expensive registry queries at
sf0.01, sf0.1 and sf1 — ALL generated by scripts/gen_scale_data.py, so
the dedup family never mixes the generated Zipf corpus with the driver's
closed 30-word one across tiers — and report the per-query wall-time
growth curve. Correctness still gates on driver parquet (oracle_check).

This is the direct, measured answer to "would this plan survive a 100x
scale-up" — a query whose time grows ~linearly (or sublinearly) in rows
across two decades of data size has no hidden quadratic stage, driver
collect, or broadcast that stops fitting.

Interpretation notes baked into the report:
- `multimodal_phash_pairs` OUTPUT grows quadratically by construction
  (same-group pairs, group count fixed at 50), so its wall-time ratio is
  compared against the pair-count ratio, not the row ratio.
- approx sketches (`n_distinct_approx`, `quantiles_approx`) run with
  EPS_SKIP_WITNESS=1 — the trend measures the scale path, as in bench.py.

Usage:
    python scripts/gen_scale_data.py --sf 1          # once
    python scripts/scale_trend.py > SCALE_TREND.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import evidence_lock  # (scripts/ is sys.path[0] when run as a file)
import measure

# The most expensive registry queries (r3 bench profile) plus the TPC-H
# headliners and one representative per scale-path family.
TREND_QUERIES = [
    # near-dup / text tier
    "near_dedup_curation", "dedup_minhash_lsh", "dedup_jaccard_prefix",
    "dedup_jaccard", "embedding_neardup",
    "repeated_passages_winnowed", "line_dedup", "dedup_simhash",
    "decontamination", "semantic_decontamination",
    # sketches / approx scale paths
    "n_distinct_approx", "quantiles_approx", "hll_distinct_rollup",
    "bloom_prefilter_membership", "cms_heavy_hitters",
    # exact heavy aggregates (+ the size-routed auto twins, which flip
    # exact -> GK sketch above the plan-stat crossover between sf0.1 and sf1)
    "quantiles", "quantiles_auto", "grouped_quantiles_auto",
    "grouped_quantiles_hist",
    "n_distinct_hash", "rollup_revenue", "rolling_7d_revenue",
    # iterative / ML
    "pagerank_events", "kmeans_clusters", "ivf_knn", "knn_bruteforce_pandas",
    "semantic_dedup",
    # multimodal decode kernels
    "video_scene_changes", "multimodal_audio_features",
    "multimodal_phash_pairs",
    # TPC-H shapes
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q9",
    "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q17",
    "tpch_q18", "tpch_q19", "tpch_q21",
    # layout / shuffle discipline
    "zorder_key_events", "global_shuffle", "salted_join_revenue",
    "bm25_topk", "sessionize", "grouped_quantiles",
    # round-5 additions
    "dsir_select", "remove_repeated_spans", "triangle_counts", "ivf_pq_knn",
    "pca_project", "url_canonicalize", "unigram_tokenize",
    # round-6 additions
    "ngram_perplexity", "perplexity_buckets", "dedup_keep_longest",
    "soft_dedup_weights", "quality_classifier_train", "kmv_corpus_jaccard",
    "classifier_metrics", "roc_curve", "grouped_auc",
    # round-7 additions
    "ngram_perplexity_o3", "ccnet_curation", "edit_distance_pairs_2",
    "kmv_rollup", "kmv_jaccard_matrix", "grouped_roc",
    "calibration_bins", "calibration_summary", "grouped_ece",
    "platt_recalibration", "average_precision",
    # round-8 additions
    "ngram_perplexity_o5", "recalibrate_auto",
    "kmv_set_cardinalities", "kmv_setops_matrix", "quantile_anchor_rollup",
    "windowed_topk", "windowed_quantiles",
]

# wall-time ratio vs sf0.1 must also be judged against how much the
# query's CANDIDATE/OUTPUT volume grows. Two families are quadratic by
# their own (oracle-stated) semantics, not by plan choice:
QUADRATIC_SEMANTICS = {
    "multimodal_phash_pairs": (
        "output pair count is quadratic in group size by construction "
        "(fixed 50 groups); compare wall ratio to the ~100x-per-10x-rows "
        "pair growth, not the row growth"
    ),
    "embedding_neardup": (
        "label-blocked candidate count is quadratic in block size by the "
        "oracle's own semantics (10 fixed labels); the BLAS kernel keeps "
        "the per-candidate cost at GEMM throughput"
    ),
    "semantic_dedup": (
        "SemDeDup's in-cluster compare count is quadratic in cluster size; "
        "the registry query pins k=8 for the oracle, so clusters grow with "
        "the corpus — at scale k grows with n (paper: k=11k for 5B) and "
        "the per-candidate cost stays at GEMM throughput"
    ),
    "triangle_counts": (
        "the registry query pins 3000 synthetic dst nodes for the oracle, "
        "so edge density — and the true triangle count — grows "
        "quadratically as events grow; real graphs grow nodes with edges. "
        "The oriented-wedge plan keeps work at O(m^1.5) even then"
    ),
}

# report key -> (smaller tier, larger tier) of a wall-time ratio
RATIOS = {
    "ratio_10x": ("sf0.1", "sf1"),
    "ratio_100x": ("sf0.01", "sf1"),
    "ratio_100x_bench": ("sf0.1", "sf10"),
    "ratio_1000x": ("sf0.01", "sf10"),
    "ratio_10000x": ("sf0.01", "sf100"),
    "ratio_10x_last_decade": ("sf10", "sf100"),
}


def run_tier(sf_dir: str, queries: list[str]) -> dict[str, float | None]:
    """Child of measure.over_tiers: the queries' seconds at one sf_dir."""
    from epic_pandas_spark.plans.registry import REGISTRY

    # spot tiers may carry only the tables their queries read
    spark = measure.session("scale_trend", sf_dir, "lineitem", "documents")
    os.environ["EPS_SKIP_WITNESS"] = "1"
    out: dict[str, float | None] = {}
    for q in queries:
        try:
            out[q] = round(measure.timed(spark, REGISTRY[q][0], sf_dir)["sec"], 3)
        except Exception as e:  # noqa: BLE001 - keep report parseable
            out[q] = None
            print(f"trend: {q} failed: {e}", file=sys.stderr)
    return out


def main() -> None:
    evidence_lock.acquire("scale_trend")
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--add-tier", action="append", default=[],
        help="extra tier as label:dir (e.g. sf10:.scaledata/sf10), appended "
             "after the built-in three",
    )
    ap.add_argument(
        "--only", default=None,
        help="comma-separated subset of TREND_QUERIES to run",
    )
    ap.add_argument("--tier", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    queries = (
        [q for q in args.only.split(",") if q] if args.only else TREND_QUERIES
    )
    if args.tier:
        print(json.dumps(run_tier(args.tier, queries)))
        return

    per_tier = measure.over_tiers(
        __file__, ["sf0.01", "sf0.1", "sf1", *args.add_tier],
        extra=("--only", ",".join(queries)),
    )
    mults = {label: t.pop("rows_multiplier") for label, t in per_tier.items()}
    results: dict[str, dict[str, float]] = {q: {} for q in queries}
    for label, t in per_tier.items():
        for q, sec in t.items():
            results[q][label] = sec

    report = {"tiers": mults, "queries": {}}
    for q, t in results.items():
        row = dict(t)
        for name, (lo, hi) in RATIOS.items():
            if t.get(lo) and t.get(hi):
                row[name] = round(t[hi] / t[lo], 2)
        if q in QUADRATIC_SEMANTICS:
            row["note"] = QUADRATIC_SEMANTICS[q]
        report["queries"][q] = row
    # sf0.1 -> sf1 is 10x the rows, so ratio_10x ~ 10 IS linear scaling
    # (constant per-row cost); flag only clearly-superlinear growth that
    # is not explained by quadratic semantics.
    flagged = sorted(
        (q for q, r in report["queries"].items()
         if r.get("ratio_10x") and r["ratio_10x"] > 15
         and q not in QUADRATIC_SEMANTICS),
        key=lambda q: -report["queries"][q]["ratio_10x"],
    )
    report["superlinear_10x"] = flagged
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
