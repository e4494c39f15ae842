"""Shuffle-byte audit: run representative registry queries at two scale
factors and measure the SHUFFLE WRITE BYTES each one actually moves
(from the driver's status store, through measure.timed's job-group
counters), reporting bytes-growth vs row-growth in decimal MB.

This turns the per-plan claims in PLAN_AUDIT.md ("the shuffle carries
8-byte hashes, not payloads"; "aggregation state is sketch-sized") into
measurements: a query whose shuffled bytes grow ~linearly in rows is
moving per-row keys/aggregates; one whose bytes stay ~flat is moving
sketches or dimension tables only; payload-dragging or quadratic
candidate generation shows up immediately as bytes growing faster than
rows.

Usage: python scripts/shuffle_audit.py > SHUFFLE_AUDIT.json
(needs .scaledata/sf1 from scripts/gen_scale_data.py)
"""

from __future__ import annotations

import json
import os

import measure  # (scripts/ is sys.path[0] when run as a file)

SF_DIRS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(measure.SCALEDATA, "sf1")),
]

# one representative per shuffle-discipline family
AUDIT_QUERIES = [
    "tpch_q1",            # groupBy: partial agg -> |groups| rows cross the wire
    "tpch_q3",            # fact-fact join keyed on orderkey
    "tpch_q18",           # full-fact agg then broadcast semi-reduction
    "tpch_q21",           # fact-fact chain + per-order aggregate
    "dedup_exact",        # fingerprint shuffle: 8-byte hashes, never text
    "dedup_minhash_lsh",  # banded bucket join: (id, 8-byte band hash)
    "near_dedup_curation",  # flagship LSH -> CC -> keep
    "n_distinct_approx",  # HLL sketch: state is sketch-sized
    "hll_distinct_rollup",  # mergeable sketches per group
    "global_shuffle",     # the one op whose JOB is to move every row
    "sessionize",         # window on (user, ts): keys + epoch longs
    "grouped_quantiles",  # exact percentile: values shuffle once
    "grouped_quantiles_hist",  # histogram sketch: (group, bin) longs only
    "bm25_topk",          # pre-shuffle term filter -> TakeOrdered
    "salted_join_revenue",  # skew-salted join
    "tpch_q2",            # derived-offer aggregate + broadcast min self-join
    "tpch_q12",           # fact-fact join + one-pass conditional agg
    "cms_heavy_hitters",  # CMS partials + exact verify on survivors only
    "semantic_dedup",     # one vector shuffle into the per-cluster prune
    "triangle_counts",    # degree-oriented wedge self-join: edge pairs, no payloads
    "pca_project",        # sufficient-stats: d^2+d cells per partition, flat in rows
    "ivf_pq_knn",         # PQ codes (n_sub small ints) shuffle instead of float vectors
    "ngram_perplexity",   # LM scoring: model broadcast; only the pinned train
                          # token stream + per-doc agg partials cross the wire
    "quality_classifier_train",  # per-GD-iteration bucket-key gradient shuffle:
                          # bounded by n_buckets x partitions, flat in rows
    "kmv_corpus_jaccard",  # bottom-k sketch build: 8-byte hashes, never text
    "dedup_keep_longest",  # retention-policy window: (fp, id, len), text pruned
    "remove_repeated_spans",  # winnowing prefilter (r9): per-char gram stream
                          # shuffles only for candidate docs; fingerprints are
                          # computed narrowly and ~2/(w+1)-dense
]


def main() -> None:
    from epic_pandas_spark.plans.registry import REGISTRY
    from epic_pandas_spark.session import get_spark

    os.environ["EPS_SKIP_WITNESS"] = "1"
    spark = get_spark(app_name="shuffle_audit")
    write_bytes: dict[str, dict[str, float]] = {q: {} for q in AUDIT_QUERIES}
    for label, sf_dir in SF_DIRS:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        for q in AUDIT_QUERIES:
            run = measure.timed(spark, REGISTRY[q][0], sf_dir)
            write_bytes[q][label] = run["shuffle_write_mb"] * measure.counters.MB

    # growth factors that exceed the 10x row growth for a stated,
    # data-shape reason rather than a plan defect
    NOTES = {
        "ivf_pq_knn": (
            "growth off a near-zero base (0.04 MB -> 2 MB): candidate "
            "PQ codes are n_sub smallints per (query, candidate) pair, "
            "and the per-query candidate set tracks cluster size, which "
            "is corpus/n_centroids under a fixed codebook - linear in "
            "rows by design, with the remainder AQE partition-count "
            "variance on MB-scale totals. Scaling n_centroids with the "
            "corpus (the IVF design regime) keeps candidate sets, and "
            "these bytes, bounded."
        ),
        "cms_heavy_hitters": (
            "round 7: the registry query now uses the SHARE threshold "
            "(min_share=0.0005, phi-heavy-hitters - the sketch's design "
            "regime), so the width is CONSTANT (8192) at every tier and "
            "the build shuffle is task-bounded; the round-6 58x regime "
            "artifact belonged to the removed fixed min_count=40 form, "
            "whose auto-derived width grew with the data (2^16 -> 2^20)."
        ),
        "remove_repeated_spans": (
            "round 9: the winnowing prefilter computes fingerprints "
            "narrowly (mapInPandas, no shuffle) and restricts the "
            "per-char (hash, id, pos) stream - the round-8 "
            "disk-ceiling shuffle - to candidate docs only; shuffled "
            "bytes now scale with the duplicated fraction of the "
            "corpus plus the ~2/(w+1)-dense fingerprint stream, not "
            "with every character."
        ),
    }
    report = {"tiers": dict(SF_DIRS), "row_growth": 10, "queries": {}}
    for q, t in write_bytes.items():
        w01, w1 = t["sf0.1"], t["sf1"]
        report["queries"][q] = {
            "sf0.1_write_mb": round(w01 / 1e6, 3),
            "sf1_write_mb": round(w1 / 1e6, 3),
            "bytes_growth_10x_rows": round(w1 / w01, 2) if w01 else None,
        }
        if q in NOTES:
            report["queries"][q]["note"] = NOTES[q]
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
