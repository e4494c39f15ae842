"""Plan-shape contracts: assert the physical plans match the scale claims
made in operator docstrings (not just that results are right)."""

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.plans.inspect import (
    assert_plan,
    count_shuffles,
    join_strategies,
    physical_plan,
    pushed_filters,
    read_schemas,
)
from epic_pandas_spark.plans.registry import REGISTRY
from epic_pandas_spark.session import load_table
from tests.conftest import SF_DIR


def test_tpch_q3_broadcasts_dimensions(spark):
    fn, _ = REGISTRY["tpch_q3"]
    df = fn(spark, SF_DIR)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert any("BUILDING" in p for p in pushed_filters(df)), "segment filter must push to scan"


def test_tpch_q1_reads_only_needed_columns(spark):
    fn, _ = REGISTRY["tpch_q1"]
    schemas = read_schemas(fn(spark, SF_DIR))
    assert schemas, "no scan found"
    # 6 of lineitem's 11 columns are needed; the scan must not read more
    assert all(s.count(",") <= 6 for s in schemas), schemas


def test_value_counts_single_shuffle(spark):
    fn, _ = REGISTRY["value_counts"]
    df = fn(spark, SF_DIR)
    # one hash-agg shuffle of base data + one single-partition exchange of
    # the already-aggregated histogram (|distinct| rows) for the fraction
    # window — and critically only ONE scan of the base table
    assert count_shuffles(df) <= 2
    assert len(read_schemas(df)) == 1  # exactly one scan of the base table


def test_upsert_plan_contract(spark):
    fn, _ = REGISTRY["upsert"]
    assert_plan(fn(spark, SF_DIR), requires_broadcast=True)


def test_exact_dedup_shuffles_fingerprint_not_text(spark):
    from epic_pandas_spark.extensions.dedup import exact_dedup

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df = exact_dedup(docs, "text", "doc_id")
    assert count_shuffles(df) == 1


def test_sample_with_replacement_broadcasts_draws(spark):
    """The corpus must never shuffle: the aggregated draw table is the
    broadcast side of the candidate join (docstring's scale claim)."""
    from epic_pandas_spark.operators.sampling import sample_with_replacement

    ords = load_table(spark, SF_DIR, "orders")
    df = sample_with_replacement(ords, 100, seed=1)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_spmm_broadcast_right_no_shuffle_join(spark):
    from epic_pandas_spark.operators.sparse import spmm

    coo = (
        load_table(spark, SF_DIR, "orders")
        .groupBy(
            (F.col("o_custkey") % 10).alias("row_key"),
            (F.col("o_orderkey") % 10).alias("col_key"),
        )
        .agg(F.count(F.lit(1)).alias("value"))
    )
    df = spmm(coo, coo, broadcast_right=True)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_simhash_banded_join_no_cartesian(spark):
    """Band blocking must plan as an equi-join on (band, bval) — never a
    cartesian/nested-loop pair enumeration."""
    from epic_pandas_spark.extensions.dedup import simhash_pairs

    docs = load_table(spark, SF_DIR, "documents")
    plan = physical_plan(simhash_pairs(docs, "text", "doc_id"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_sharded_no_single_partition_exchange(spark):
    """partition_by must hash-partition the window on the shard key, not
    funnel through Exchange SinglePartition."""
    from epic_pandas_spark.operators import pack_sequences

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", (F.col("doc_id") % 8).alias("shard"), F.length("text").alias("n")
    )
    plan = physical_plan(
        pack_sequences(docs, "n", 512, order_by=["doc_id"], partition_by=["shard"])
    )
    assert "SinglePartition" not in plan


def test_decontamination_broadcasts_eval_grams(spark):
    """The corpus must probe a broadcast eval-gram table map-side — no
    shuffle of the corpus gram stream into the overlap join."""
    fn, _ = REGISTRY["decontamination"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan, "gram overlap join must not sort-merge the corpus"


def test_gopher_repetition_no_global_window_or_cartesian(spark):
    fn, _ = REGISTRY["gopher_repetition"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan, "repetition metrics are pure keyed aggregates"


def test_global_shuffle_is_range_partitioned_sort(spark):
    """orderBy(hash) must plan as a rangepartitioning exchange + local
    sort — the distributed permutation, never a single-partition window."""
    fn, _ = REGISTRY["global_shuffle"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_pii_scrub_stays_in_codegen(spark):
    fn, _ = REGISTRY["pii_scrub"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Project" in plan, "scrub chain must be a single projection over the scan"


def test_tpch_q17_decorrelated_all_broadcast(spark):
    """The correlated scalar subquery must decorrelate into a broadcast
    threshold join: every join is dimension-sized except the fact scan, so
    no SortMergeJoin may appear anywhere."""
    fn, _ = REGISTRY["tpch_q17"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q21_single_fact_shuffle_chain(spark):
    """The EXISTS/NOT-EXISTS pair must collapse into per-order aggregates:
    only the fact-fact lineitem-orders join and the co-partitioned
    qualifying-order probe join (both keyed on orderkey — the probe side
    grows with the fact, so broadcasting it would be the scale bug) may
    sort-merge; the supplier-nation dim must broadcast; no third fact
    self-join may appear (the naive EXISTS translation adds two)."""
    fn, _ = REGISTRY["tpch_q21"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert plan.count("SortMergeJoin") <= 2, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_coo_to_ml_vectors_arrow_not_row_udf(spark):
    """The ML-interop vector builder must be Arrow-batched: the plan shows
    ArrowEvalPython (pandas_udf emitting the VectorUDT sqlType struct),
    never a pickled row-at-a-time BatchEvalPython."""
    from epic_pandas_spark.operators.sparse import coo_to_ml_vectors

    coo = (
        load_table(spark, SF_DIR, "orders")
        .groupBy(
            (F.col("o_custkey") % 7).alias("row_key"),
            (F.col("o_orderkey") % 13).alias("col_key"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    df = coo_to_ml_vectors(coo, size=13)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_no_row_udf_anywhere_in_module_surface():
    """Static contract over the WHOLE package (not just registry queries):
    no row-at-a-time `F.udf(` / `@udf` call sites exist outside tests —
    every Python hot path is Arrow-batched (pandas_udf / applyInPandas /
    mapInPandas / mapInArrow)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "epic_pandas_spark"
    offenders = []
    for py in root.rglob("*.py"):
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            stripped = line.split("#", 1)[0]
            if "F.udf(" in stripped or "@udf(" in stripped or "functions.udf(" in stripped:
                offenders.append(f"{py}:{i}: {line.strip()}")
    assert not offenders, "row-at-a-time UDF call sites found:\n" + "\n".join(offenders)


def test_no_rdd_fallback_anywhere_in_module_surface():
    """Static contract: no `.rdd` data paths in the package — every row
    that touches Python does so through an Arrow surface. The single
    allowed form is the metadata-only `.rdd.getNumPartitions()` probe
    (ensure_parallelism), which materializes no rows."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "epic_pandas_spark"
    offenders = []
    for py in root.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            stripped = line.split("#", 1)[0]
            if ".rdd" in stripped and ".rdd.getNumPartitions()" not in stripped:
                offenders.append(f"{py}:{i}: {line.strip()}")
    assert not offenders, "RDD fallback call sites found:\n" + "\n".join(offenders)


def test_dedup_incremental_no_cartesian_and_anti_join(spark):
    fn, _ = REGISTRY["dedup_exact_incremental"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan, "store membership must be an anti-join"
    fn2, _ = REGISTRY["dedup_minhash_incremental"]
    plan2 = physical_plan(fn2(spark, SF_DIR))
    assert "CartesianProduct" not in plan2 and "BroadcastNestedLoopJoin" not in plan2


def test_tpch_q2_min_equality_all_broadcast(spark):
    """The correlated-MIN over the derived offer relation must stay a
    broadcast self-join on the AGGREGATE (pair-level), never a second
    fact pass or a sort-merge: the only shuffles are the offer groupBy
    and the final top-k ordering."""
    fn, _ = REGISTRY["tpch_q2"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q11_single_fact_scan(spark):
    """The fraction-of-total threshold must come from the SAME grouped
    aggregate it filters (lazy-checkpointed), so lineitem is scanned
    once; the 1-row threshold joins back as a broadcast nested-loop
    (cross) join, which is fine — it is 1 row by construction."""
    fn, _ = REGISTRY["tpch_q11"]
    df = fn(spark, SF_DIR)
    fact_scans = [s for s in read_schemas(df) if "l_partkey" in s]
    assert len(fact_scans) <= 1, fact_scans
    assert "CartesianProduct" not in physical_plan(df)


def test_tpch_q12_conditional_agg_one_pass(spark):
    """Both priority measures must be branches of one aggregate over the
    single fact-fact join — adding a measure must not add a scan."""
    fn, _ = REGISTRY["tpch_q12"]
    df = fn(spark, SF_DIR)
    assert len(read_schemas(df)) == 2, read_schemas(df)  # lineitem + orders, once each
    plan = physical_plan(df)
    assert plan.count("HashAggregate") <= 4, plan  # partial+final, one agg pair (+AQE variants)


def test_tpch_q15_argmax_no_sort_merge(spark):
    """The scalar-max argmax must broadcast the 1-row max back onto the
    supplier-level aggregate; no SortMergeJoin anywhere (every join side
    except the fact scan is aggregate- or dimension-sized)."""
    fn, _ = REGISTRY["tpch_q15"]
    plan = physical_plan(fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_disjunction_pushes_to_both_scans(spark):
    """The OR-of-conjunctions must leave derivable residuals on BOTH
    parquet scans (brand IN-list on part, quantity bounds on lineitem)
    and evaluate the full disjunction once after a single broadcast
    join — no plan blow-up into a union of joins."""
    fn, _ = REGISTRY["tpch_q19"]
    df = fn(spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("p_brand" in p for p in pushed), pushed
    assert any("l_quantity" in p for p in pushed), pushed
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}, strategies
    assert len(read_schemas(df)) == 2, "one scan each side, no OR-distribution blow-up"


def test_semantic_dedup_one_shuffle_codegen_assign(spark):
    """semantic_dedup's plan: the argmax-cosine ASSIGN is pure codegen
    (codebook folded into the expression — no Python, no join), the only
    exchange is the per-cluster groupBy feeding the Arrow PRUNE kernel
    (FlatMapGroupsInPandas), and nothing is row-at-a-time."""
    from epic_pandas_spark.extensions.similarity import semantic_dedup

    emb = load_table(spark, SF_DIR, "embeddings")
    out = semantic_dedup(emb, k=4, threshold=0.4)
    plan = physical_plan(out)
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert count_shuffles(out) == 1  # hashpartitioning(cluster) only


def _filters_below_exchange(plan: str, marker: str) -> list[str]:
    """Filter nodes whose condition contains ``marker`` that sit anywhere
    under a round-robin ``Repartition`` in an optimized-plan tree string
    (a descendant is every following line indented deeper)."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        node = line.lstrip(" :+-")
        if node.startswith("Repartition") or "RoundRobinPartitioning" in node:
            for sub in lines[i + 1:]:
                if depth(sub) <= depth(line):
                    break
                if sub.lstrip(" :+-").startswith("Filter") and marker in sub:
                    bad.append(sub.strip()[:160])
    return bad


# shingle site -> its arguments after (df, text_col, id_col)
_SHINGLE_SITES = {
    "jaccard_pairs": (0.8,),
    "jaccard_pairs_prefix": (0.8,),
    "minhash_lsh_pairs": (0.8,),
    "minhash_index": (),
}


@pytest.mark.parametrize("site", list(_SHINGLE_SITES))
def test_shingle_filter_stays_above_exchange(spark, monkeypatch, site):
    """ensure_parallelism fans a narrow scan out before the n-gram
    expression. A deterministic filter on the n-gram column placed after
    it is pushed below the exchange by the optimizer, so the expression
    runs in the single scan task and again after the fan-out. Every plan
    the operator materializes must keep such filters above the exchange."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from epic_pandas_spark.extensions import dedup

    plans: list[str] = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", spy)
    # one partition, so ensure_parallelism's exchange is always planned
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").coalesce(1)
    out = getattr(dedup, site)(docs, "text", "doc_id", *_SHINGLE_SITES[site])
    for df in out if isinstance(out, tuple) else (out,):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
    assert any("Repartition" in p for p in plans), "no fan-out planned"
    bad = [f for p in plans for f in _filters_below_exchange(p, "zip_with")]
    assert not bad, bad
