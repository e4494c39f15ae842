"""100x growth-trend probe: time the most expensive registry queries at
sf0.01, sf0.1 and sf1 — ALL generated by scripts/gen_scale_data.py so
every tier comes from one data-generating process — and report the
per-query wall-time growth curve. (Earlier rounds used driver parquet
for the two small tiers; with the round-5 Zipf document vocabulary the
generated corpus is natural-text-shaped while the driver corpus is a
closed 30-word vocabulary, and mixing the two regimes across tiers
would corrupt exactly the dedup-family ratios this probe exists to
measure. Correctness still gates on driver parquet via oracle_check.)

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

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from epic_pandas_spark.session import get_spark, reset_session_state

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import evidence_lock  # noqa: E402  (scripts/ is sys.path[0] when run as a file)

# (label, dir, lineitem-rows relative to sf0.01)
TIERS = [
    ("sf0.01", os.path.join(REPO, ".scaledata", "sf0.01"), 1),
    ("sf0.1", os.path.join(REPO, ".scaledata", "sf0.1"), 10),
    ("sf1", os.path.join(REPO, ".scaledata", "sf1"), 100),
]

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
# (Round-4 carried a VOCAB_SATURATION annotation set here: the old
# 30-word corpus saturated the shingle space, making the dedup family's
# candidate pairs grow quadratically with sf regardless of plan. The
# round-5 generator draws from an sf-scaled Zipf vocabulary, so the
# gram space stays open, per-shingle doc frequency stays ~flat, and the
# dedup-family ratios now measure the PLANS — no annotation needed.)
VOCAB_SATURATION: set[str] = set()


def run_tier(sf_dir: str, queries: list[str]) -> dict[str, float | None]:
    """Worker mode: time the queries at one sf_dir in THIS process and
    print one JSON line. Each tier gets a fresh JVM — a session that has
    already executed a hundred queries carries checkpointed RDDs and GC
    pressure that overstate whatever runs last (measured: q1 at sf10 is
    7.7 s in a fresh JVM vs 135 s at the tail of a 128-query session),
    which would bias exactly the biggest tier of the trend."""
    spark = get_spark(app_name="scale_trend")
    from epic_pandas_spark.plans.registry import REGISTRY

    os.environ["EPS_SKIP_WITNESS"] = "1"
    # warm parquet footers so the first query doesn't pay session startup
    # (spot tiers may carry only the tables their queries read — fall back)
    for warm in ("lineitem", "documents"):
        if os.path.exists(f"{sf_dir}/{warm}.parquet"):
            spark.read.parquet(f"{sf_dir}/{warm}.parquet").count()
            break
    out: dict[str, float | None] = {}
    for q in queries:
        fn, _ = REGISTRY[q]
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out[q] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 - keep report parseable
            out[q] = None
            print(f"trend: {q} failed: {e}", file=sys.stderr)
        reset_session_state(spark)  # after the clock stops, as in bench.py
    return out


def main() -> None:
    evidence_lock.acquire("scale_trend")
    import argparse
    import subprocess

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
    ap.add_argument("--tier-worker", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    queries = (
        [q for q in args.only.split(",") if q] if args.only else TREND_QUERIES
    )
    if args.tier_worker:
        print(json.dumps(run_tier(args.tier_worker, queries)))
        return

    tiers = list(TIERS)
    for spec in args.add_tier:
        label, d = spec.split(":", 1)
        mult = round(100 * float(label.replace("sf", "")))
        tiers.append((label, d, mult))

    results: dict[str, dict[str, float]] = {q: {} for q in queries}
    for label, sf_dir, _mult in tiers:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--tier-worker", sf_dir, "--only", ",".join(queries)],
            capture_output=True, text=True,
        )
        sys.stderr.write(proc.stderr[-2000:])
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        for q, sec in json.loads(line).items():
            results[q][label] = sec

    report = {"tiers": {l: m for l, _, m in tiers}, "queries": {}}
    for q, t in results.items():
        row = dict(t)
        if t.get("sf0.1") and t.get("sf1"):
            row["ratio_10x"] = round(t["sf1"] / t["sf0.1"], 2)
        if t.get("sf0.01") and t.get("sf1"):
            row["ratio_100x"] = round(t["sf1"] / t["sf0.01"], 2)
        if t.get("sf0.1") and t.get("sf10"):
            row["ratio_100x_bench"] = round(t["sf10"] / t["sf0.1"], 2)
        if t.get("sf0.01") and t.get("sf10"):
            row["ratio_1000x"] = round(t["sf10"] / t["sf0.01"], 2)
        if t.get("sf0.01") and t.get("sf100"):
            row["ratio_10000x"] = round(t["sf100"] / t["sf0.01"], 2)
        if t.get("sf10") and t.get("sf100"):
            row["ratio_10x_last_decade"] = round(t["sf100"] / t["sf10"], 2)
        if q in QUADRATIC_SEMANTICS:
            row["note"] = QUADRATIC_SEMANTICS[q]
        elif q in VOCAB_SATURATION:
            row["note"] = (
                "synthetic-vocab artifact: the 30-word corpus saturates "
                "the shingle space, so per-shingle doc frequency grows "
                "linearly with sf and candidates quadratically; natural "
                "text keeps df ~flat and this plan linear"
            )
        report["queries"][q] = row
    # sf0.1 -> sf1 is 10x the rows, so ratio_10x ~ 10 IS linear scaling
    # (constant per-row cost); flag only clearly-superlinear growth that
    # is not explained by quadratic semantics or the vocab artifact.
    flagged = sorted(
        (q for q, r in report["queries"].items()
         if r.get("ratio_10x") and r["ratio_10x"] > 15
         and q not in QUADRATIC_SEMANTICS and q not in VOCAB_SATURATION),
        key=lambda q: -report["queries"][q]["ratio_10x"],
    )
    report["superlinear_10x"] = flagged
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
