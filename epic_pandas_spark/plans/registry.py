"""Query registry: every implemented operator exposed as a
(spark_callable, oracle_sql) pair — the driver contract of
``__spark_entry__.py`` and the local correctness harness both read this.

Conventions (SURVEY.md §5, §7.3):
- every computed column is aliased identically in Spark and SQL;
- double-valued aggregates are rounded to 6 decimals on BOTH sides;
- money-like sums go through DECIMAL so both engines sum exactly, then the
  final division/rounding happens in double on identical inputs —
  eliminating accumulation-order fp drift between Spark and DuckDB;
- sampling queries compare per-stratum COUNTS, not row identity.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from epic_pandas_spark.functions.text import normalized_text_expr, words_expr
from epic_pandas_spark.operators import (
    value_counts,
    value_counts_binned,
    upsert,
    drop_duplicates_by_key,
    unique_row_ids,
    column_stats,
    weighted_average,
    sample_at_most,
    sample_with_distribution,
    cumsum,
    diff,
    symmetric_difference,
    smooth_with_gaussian,
    split_with_overlap,
)
from epic_pandas_spark.operators.dedup import n_distinct_rows  # noqa: F401 (public registry surface)
from epic_pandas_spark.operators.sketches import md5_hash60
from epic_pandas_spark.session import load_table

# name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}


def _dec(col, scale: int = 4):
    """Exact-sum staging: cast to a wide decimal so Spark and DuckDB both
    sum exactly (fp-order-proof oracle comparison)."""
    return F.col(col).cast(f"decimal(30,{scale})") if isinstance(col, str) else col.cast(f"decimal(30,{scale})")


# ---------------------------------------------------------------------------
# §2.4 value_counts family
# ---------------------------------------------------------------------------

@register(
    "value_counts",
    """
    SELECT l_returnflag AS value, COUNT(*) AS count,
           ROUND(COUNT(*) / (SELECT COUNT(*) FROM lineitem WHERE l_returnflag IS NOT NULL), 6) AS fraction
    FROM lineitem WHERE l_returnflag IS NOT NULL
    GROUP BY l_returnflag
    """,
)
def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return value_counts(li, "l_returnflag").select(
        "value", "count", F.round("fraction", 6).alias("fraction")
    )


@register(
    "value_counts_binned",
    """
    WITH b AS (
      SELECT LEAST(10, GREATEST(1, CAST(FLOOR(l_quantity / 5.0) AS INT) + 1)) AS bin
      FROM lineitem WHERE l_quantity IS NOT NULL
    )
    SELECT bin, (bin-1)*5.0 AS bin_lo, bin*5.0 AS bin_hi, COUNT(*) AS count,
           ROUND(COUNT(*) / (SELECT COUNT(*) FROM b), 6) AS fraction
    FROM b GROUP BY bin
    """,
)
def q_value_counts_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return value_counts_binned(li, "l_quantity", lo=0.0, hi=50.0, n_bins=10).select(
        "bin", "bin_lo", "bin_hi", "count", F.round("fraction", 6).alias("fraction")
    )


@register(
    "weighted_average",
    """
    SELECT ROUND(
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)
      / CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE), 6) AS wavg
    FROM lineitem
    """,
)
def q_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        _dec("l_extendedprice").alias("x"), _dec("l_quantity").alias("w")
    )
    return weighted_average(li, "x", "w").select(F.round(F.col("wavg").cast("double"), 6).alias("wavg"))


# ---------------------------------------------------------------------------
# §2.3 joins: upsert / reindex / set ops
# ---------------------------------------------------------------------------

@register(
    "upsert",
    """
    WITH delta AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM delta)
    UNION ALL SELECT * FROM delta
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    delta = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    return upsert(cust, delta, key="c_custkey")


@register(
    "reindex_align",
    """
    SELECT c.c_custkey, o.n_orders
    FROM customer c LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def q_reindex_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reindex: left-join aggregated orders onto the customer key set —
    missing keys null-filled (SURVEY.md §2.3 reindex row)."""
    from epic_pandas_spark.keyed import reindex

    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return reindex(per_cust, cust, key="c_custkey").select("c_custkey", "n_orders")


@register(
    "symmetric_difference",
    """
    SELECT c_custkey FROM (
      SELECT DISTINCT c_custkey FROM customer
      EXCEPT SELECT DISTINCT o_custkey FROM orders
    ) UNION ALL
    SELECT o_custkey FROM (
      SELECT DISTINCT o_custkey FROM orders
      EXCEPT SELECT DISTINCT c_custkey FROM customer
    )
    """,
)
def q_symmetric_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey"))
    ords = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return symmetric_difference(cust, ords, key="c_custkey")


# ---------------------------------------------------------------------------
# §2.2 dedup by key
# ---------------------------------------------------------------------------

@register(
    "drop_duplicates_keep_first",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q_drop_duplicates_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return drop_duplicates_by_key(
        li, key="l_orderkey", keep="first", order_by=["l_linenumber", "l_quantity"]
    )


@register(
    "drop_duplicates_keep_none",
    """
    SELECT l_orderkey, l_linenumber FROM (
      SELECT l_orderkey, l_linenumber, COUNT(*) OVER (PARTITION BY l_orderkey) AS n
      FROM lineitem
    ) WHERE n = 1
    """,
)
def q_drop_duplicates_keep_none(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return drop_duplicates_by_key(li, key="l_orderkey", keep=False)


@register(
    "unique_row_ids_dense",
    """
    SELECT l_returnflag, l_linestatus,
           DENSE_RANK() OVER (ORDER BY l_returnflag, l_linestatus) - 1 AS row_id
    FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
    """,
)
def q_unique_row_ids_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    return unique_row_ids(li, ["l_returnflag", "l_linestatus"], strategy="dense")


@register(
    "n_distinct_hash",
    """
    SELECT COUNT(*) AS n_distinct FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    """,
)
def q_n_distinct_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-strategy row ids: the count of distinct xxhash64 ids must equal
    the count of distinct column combos (collision-free at this scale) —
    an oracle-checkable proxy for id correctness."""
    li = load_table(spark, sf_dir, "lineitem")
    with_ids = unique_row_ids(li, ["l_partkey", "l_suppkey"], strategy="hash")
    return with_ids.agg(F.count_distinct("row_id").alias("n_distinct"))


@register(
    "n_distinct_approx",
    # contract oracle (round 12, VERDICT r11 item 8): the HLL sketch VALUE
    # is engine-specific, so — like the ANN recall witnesses — the query
    # returns the facts an oracle CAN state: the exact pair count (computed
    # on the raw columns, identical in both engines) and the witnessed
    # error-bound check, which must hold. A sketch regression past the
    # bound flips within_bound and hash-mismatches.
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS within_bound
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    """,
)
def q_n_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_count_distinct` (HyperLogLog++) twin of `n_distinct_hash` —
    the 100 TB path: constant memory per partition, partial-merge
    aggregation, no shuffle of distinct values. The witnessed form
    computes the approx AND exact counts in one aggregate and returns the
    ORACLE-EXPRESSIBLE contract row ``(n_exact, within_bound)`` — the
    exact count plus the check that the HLL landed within 3x the
    requested 2% rsd — so the driver's correctness run now has a real
    gate (FULL witness oracle since round 12; previously rows-only
    because the output carried the engine-specific sketch value). The
    pair is encoded as xxhash64(cols) -- an 8-byte key, never a
    concatenated string. The exact witness costs far more than the HLL
    itself, so ``EPS_SKIP_WITNESS=1`` (set by bench.py for the headline
    number) returns the scale path alone; bench reports the witness run
    separately."""
    li = load_table(spark, sf_dir, "lineitem")
    pair = F.xxhash64("l_partkey", "l_suppkey")
    approx = F.approx_count_distinct(pair, 0.02).alias("n_approx")
    if os.environ.get("EPS_SKIP_WITNESS") == "1":
        return li.agg(approx)
    row = li.agg(
        approx,
        F.count_distinct("l_partkey", "l_suppkey").alias("n_exact"),
    )
    rel_err = F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact")
    return row.select(
        "n_exact",
        (rel_err <= F.lit(0.06)).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------

@register(
    "cumsum_diff",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(SUM(l_quantity) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_quantity, l_extendedprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS qty_running,
           ROUND(l_extendedprice - LAG(l_extendedprice) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_quantity, l_extendedprice), 6) AS price_diff
    FROM lineitem
    """,
)
def q_cumsum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordering includes every projected value column: tie rows become
    # interchangeable, so the windowed output is deterministic even though
    # (l_orderkey, l_linenumber) is not unique in the synthetic data
    order = ["l_linenumber", "l_quantity", "l_extendedprice"]
    li = load_table(spark, sf_dir, "lineitem")
    out = cumsum(li, "l_quantity", order_by=order, partition_by=["l_orderkey"], out_col="qty_running")
    out = diff(out, "l_extendedprice", order_by=order, partition_by=["l_orderkey"], out_col="price_diff")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("qty_running", 6).alias("qty_running"),
        F.round("price_diff", 6).alias("price_diff"),
    )


@register(
    "grouped_transform",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity / SUM(l_quantity) OVER (PARTITION BY l_orderkey), 6) AS qty_share
    FROM lineitem
    """,
)
def q_grouped_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grp.transform('sum') broadcast-agg-back-to-rows (plot.py:223,226) as
    a partitioned window — no join."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") / F.sum("l_quantity").over(w), 6).alias("qty_share"),
    )


# ---------------------------------------------------------------------------
# §2.6 top-k
# ---------------------------------------------------------------------------

@register(
    "topk_customers",
    """
    SELECT c_custkey, total_spent FROM (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_spent
      FROM orders GROUP BY o_custkey
    ) ORDER BY total_spent DESC, c_custkey ASC LIMIT 10
    """,
)
def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders")
    return (
        ords.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("total_spent"))
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.4 column_stats
# ---------------------------------------------------------------------------

@register(
    "column_stats",
    """
    WITH t AS (
      SELECT CAST(c_mktsegment AS VARCHAR) AS v FROM customer WHERE c_mktsegment IS NOT NULL
    ), vc AS (
      SELECT v, COUNT(*) AS cnt, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, v ASC) AS rn
      FROM t GROUP BY v
    )
    SELECT 'c_mktsegment' AS "column",
           (SELECT COUNT(DISTINCT c_mktsegment) FROM customer) AS n_unique,
           (SELECT COUNT(*) FROM customer WHERE c_mktsegment IS NULL) AS n_null,
           (SELECT v FROM vc WHERE rn = 1) AS top_value,
           (SELECT cnt FROM vc WHERE rn = 1) AS top_count,
           (SELECT v FROM vc WHERE rn = 2) AS second_value
    """,
)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # single-column profile: the per-column strategy avoids melt's
    # row-explosion (melt wins only on wide tables)
    return column_stats(cust, ["c_mktsegment"], strategy="per-column").drop("dtype")


# ---------------------------------------------------------------------------
# §2.9 sampling (count-based oracle)
# ---------------------------------------------------------------------------

@register(
    "sample_at_most_n",
    "SELECT LEAST(500, (SELECT COUNT(*) FROM orders)) AS n_sampled",
)
def q_sample_at_most_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders")
    return sample_at_most(ords, n=500, seed=42).agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "sample_with_replacement_n",
    """
    SELECT CAST(2000 AS BIGINT) AS n_draws, CAST(0 AS BIGINT) AS n_invalid,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_population
    """,
)
def q_sample_with_replacement_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap sampling (`sample_at_most(replace=True)`, reference
    utils.py:558-608): 2000 multinomial draws from customer — MORE rows
    than the sf0.001/0.01 population, which only replacement allows.
    Oracle checks the count contract (exactly n draws, every draw a real
    customer row, population untouched); the draw distribution itself is
    hash-dependent and covered by expectation pytests."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    drawn = sample_at_most(cust, n=2000, replace=True, seed=42)
    n_draws = drawn.agg(F.count(F.lit(1)).alias("n_draws"))
    n_invalid = (
        drawn.select("c_custkey", "c_nationkey")
        .join(cust, on=["c_custkey", "c_nationkey"], how="left_anti")
        .agg(F.count(F.lit(1)).alias("n_invalid"))
    )
    n_pop = cust.agg(F.count(F.lit(1)).alias("n_population"))
    return n_draws.crossJoin(n_invalid).crossJoin(n_pop)


@register(
    "stratified_sample_counts",
    """
    WITH dist(stratum, p) AS (VALUES ('O', 0.5), ('F', 0.3), ('P', 0.2)),
    alloc AS (
      SELECT stratum,
             CAST(ROUND(SUM(p) OVER (ORDER BY stratum ROWS UNBOUNDED PRECEDING) * 300, 0)
               - COALESCE(ROUND(SUM(p) OVER (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) * 300, 0), 0)
             AS BIGINT) AS n_sampled
      FROM dist
    )
    SELECT stratum AS o_orderstatus, n_sampled FROM alloc
    """,
)
def q_stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling, checked on per-stratum counts: the
    largest-remainder allocation is deterministic, so the sampled counts
    must equal the oracle's windowed cumsum-round-diff allocation.
    NOTE: strata iterate in sorted order so Spark and SQL allocate
    identically."""
    ords = load_table(spark, sf_dir, "orders")
    dist = {"F": 0.3, "O": 0.5, "P": 0.2}  # sorted keys == ORDER BY stratum
    sampled = sample_with_distribution(ords, "o_orderstatus", 300, dist, seed=42)
    return sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_sampled"))


# ---------------------------------------------------------------------------
# headline TPC-H-style plans (plans/tpch.py)
# ---------------------------------------------------------------------------

from epic_pandas_spark.plans import tpch as _tpch  # noqa: E402

register("tpch_q1", _tpch.TPCH_Q1_SQL)(_tpch.tpch_q1)
register("tpch_q2", _tpch.TPCH_Q2_SQL)(_tpch.tpch_q2)
register("tpch_q3", _tpch.TPCH_Q3_SQL)(_tpch.tpch_q3)
register("tpch_q4", _tpch.TPCH_Q4_SQL)(_tpch.tpch_q4)
register("tpch_q5", _tpch.TPCH_Q5_SQL)(_tpch.tpch_q5)
register("tpch_q7", _tpch.TPCH_Q7_SQL)(_tpch.tpch_q7)
register("tpch_q8", _tpch.TPCH_Q8_SQL)(_tpch.tpch_q8)
register("tpch_q9", _tpch.TPCH_Q9_SQL)(_tpch.tpch_q9)
register("tpch_q10", _tpch.TPCH_Q10_SQL)(_tpch.tpch_q10)
register("tpch_q11", _tpch.TPCH_Q11_SQL)(_tpch.tpch_q11)
register("tpch_q12", _tpch.TPCH_Q12_SQL)(_tpch.tpch_q12)
register("tpch_q13", _tpch.TPCH_Q13_SQL)(_tpch.tpch_q13)
register("tpch_q14", _tpch.TPCH_Q14_SQL)(_tpch.tpch_q14)
register("tpch_q15", _tpch.TPCH_Q15_SQL)(_tpch.tpch_q15)
register("tpch_q16", _tpch.TPCH_Q16_SQL)(_tpch.tpch_q16)
register("tpch_q17", _tpch.TPCH_Q17_SQL)(_tpch.tpch_q17)
register("tpch_q18", _tpch.TPCH_Q18_SQL)(_tpch.tpch_q18)
register("tpch_q19", _tpch.TPCH_Q19_SQL)(_tpch.tpch_q19)
register("tpch_q20", _tpch.TPCH_Q20_SQL)(_tpch.tpch_q20)
register("tpch_q21", _tpch.TPCH_Q21_SQL)(_tpch.tpch_q21)
register("tpch_q22", _tpch.TPCH_Q22_SQL)(_tpch.tpch_q22)


# ---------------------------------------------------------------------------
# algorithm tier: entropy / KL / smoothing / segmentation (SURVEY.md §2.4-2.5)
# ---------------------------------------------------------------------------

@register(
    "entropy_per_doc",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS chr FROM documents
    ), hist AS (
      SELECT doc_id, chr, COUNT(*) AS cnt FROM chars GROUP BY doc_id, chr
    ), tot AS (
      SELECT doc_id, SUM(cnt) AS n FROM hist GROUP BY doc_id
    )
    SELECT h.doc_id, ROUND(SUM(-(cnt/n) * log2(cnt/n)), 6) AS entropy
    FROM hist h JOIN tot USING (doc_id) GROUP BY h.doc_id
    """,
)
def q_entropy_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epic_pandas_spark.functions.entropy import shannon_entropy

    docs = load_table(spark, sf_dir, "documents")
    return shannon_entropy(docs, "text", by=["doc_id"]).select(
        "doc_id", F.round("entropy", 6).alias("entropy")
    )


@register(
    "kl_divergence",
    """
    WITH c1 AS (
      SELECT unnest(string_split(text, '')) AS sym FROM documents WHERE lang = 'en'
    ), c2 AS (
      SELECT unnest(string_split(text, '')) AS sym FROM documents WHERE lang <> 'en'
    ), h1 AS (SELECT sym, COUNT(*) AS c1 FROM c1 GROUP BY sym),
       h2 AS (SELECT sym, COUNT(*) AS c2 FROM c2 GROUP BY sym),
       j AS (
      SELECT COALESCE(h1.c1, 0) / (SELECT SUM(c1) FROM h1) AS p1,
             COALESCE(h2.c2, 0) / (SELECT SUM(c2) FROM h2) AS p2
      FROM h1 FULL OUTER JOIN h2 USING (sym)
    )
    SELECT ROUND(SUM(CASE WHEN p1 > 0 THEN p1 * log2(p1 / (p2 + 1e-7)) ELSE 0 END), 6) AS kl_divergence
    FROM j
    """,
)
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(en-docs ‖ other-docs) over char distributions
    (algorithm.py:47-68 with the same 1e-7 smoothing)."""
    from epic_pandas_spark.functions.entropy import char_histogram, kullback_leibler

    docs = load_table(spark, sf_dir, "documents")
    h1 = char_histogram(docs.filter(F.col("lang") == "en"), "text")
    h2 = char_histogram(docs.filter(F.col("lang") != "en"), "text")
    return kullback_leibler(h1, h2).select(F.round("kl_divergence", 6).alias("kl_divergence"))


def _gaussian_sql_terms(sigma: float, truncate: float) -> tuple[str, str]:
    from epic_pandas_spark.operators.windows import gaussian_kernel

    kernel = gaussian_kernel(sigma, truncate)
    radius = len(kernel) // 2
    num_terms, den_terms = [], []
    for i, wt in enumerate(kernel):
        off = i - radius
        if off < 0:
            nb = f"LAG(value, {-off}) OVER w"
        elif off > 0:
            nb = f"LEAD(value, {off}) OVER w"
        else:
            nb = "value"
        num_terms.append(f"COALESCE({nb} * {wt!r}, 0.0)")
        den_terms.append(f"CASE WHEN {nb} IS NOT NULL THEN {wt!r} ELSE 0.0 END")
    return " + ".join(num_terms), " + ".join(den_terms)


_SM_NUM, _SM_DEN = _gaussian_sql_terms(1.0, 2.0)

@register(
    "smooth_gaussian",
    f"""
    SELECT event_id, ROUND(({_SM_NUM}) / ({_SM_DEN}), 6) AS value_smooth
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_smooth_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian smoothing of each user's event-value series
    (algorithm.py:71-92): truncated-kernel normalization at the edges;
    event_id breaks ts ties deterministically."""
    ev = load_table(spark, sf_dir, "events")
    out = smooth_with_gaussian(
        ev, "value", order_by=["ts", "event_id"], partition_by=["user_id"],
        sigma=1.0, truncate=2.0, out_col="value_smooth",
    )
    return out.select("event_id", F.round("value_smooth", 6).alias("value_smooth"))


@register(
    "split_with_overlap",
    """
    WITH seg AS (
      SELECT vec_id, embedding, unnest(generate_series(1, len(embedding), 8)) AS s
      FROM embeddings
    ), sl AS (
      SELECT vec_id, s, list_slice(embedding, s, s + 15) AS segment
      FROM seg
    )
    SELECT vec_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s) - 1 AS seg_idx,
           segment[1] AS seg_first, len(segment) AS seg_len
    FROM sl WHERE len(segment) = 16
    """,
)
def q_split_with_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping segmentation (length 16, overlap 8) of the embedding
    arrays (numpy.py:185-241). Compared on (seg_idx, first element, len) —
    exact float equality, no accumulation."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    segs = split_with_overlap(emb, "embedding", length=16, overlap=8, partials=False)
    return segs.select(
        "vec_id",
        "seg_idx",
        F.col("segment")[0].alias("seg_first"),
        F.size("segment").alias("seg_len"),
    )


# ---------------------------------------------------------------------------
# events: time windows + semi-structured JSON props (§2.8, §2.10 batch shape)
# ---------------------------------------------------------------------------

@register(
    "events_hourly",
    r"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation with JSON-prop extraction — the batch
    twin of the streaming window (streaming/ runs the same plan on
    readStream; F.window('1 hour').start == date_trunc for aligned
    tumbling windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
            F.sum(F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")).alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# null tier (§2.2): deterministic injected nulls, fill + drop
# ---------------------------------------------------------------------------

@register(
    "fillna_mapped",
    """
    SELECT c_custkey,
           COALESCE(CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END, 0.0) AS acctbal_filled,
           COALESCE(CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END, 'UNKNOWN') AS segment_filled
    FROM customer
    """,
)
def q_fillna_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epic_pandas_spark.operators import fillna

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_acctbal")).alias("acctbal_filled"),
        F.when(F.col("c_custkey") % 11 == 0, None).otherwise(F.col("c_mktsegment")).alias("segment_filled"),
    )
    return fillna(cust, {"acctbal_filled": 0.0, "segment_filled": "UNKNOWN"})


@register(
    "dropna_any",
    """
    SELECT COUNT(*) AS n_kept FROM (
      SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS a,
             CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS s
      FROM customer
    ) WHERE a IS NOT NULL AND s IS NOT NULL
    """,
)
def q_dropna_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epic_pandas_spark.operators import dropna

    cust = load_table(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_acctbal")).alias("a"),
        F.when(F.col("c_custkey") % 11 == 0, None).otherwise(F.col("c_mktsegment")).alias("s"),
    )
    return dropna(cust, how="any").agg(F.count(F.lit(1)).alias("n_kept"))


# ---------------------------------------------------------------------------
# grouped value_counts + pivot, Others-collapse (§2.4, plot.py pipelines)
# ---------------------------------------------------------------------------

@register(
    "grouped_vc_pivot",
    """
    SELECT o_orderpriority,
           ROUND(100.0 * COUNT(*) FILTER (o_orderstatus = 'F')
             / (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'), 6) AS F,
           ROUND(100.0 * COUNT(*) FILTER (o_orderstatus = 'O')
             / (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O'), 6) AS O,
           ROUND(100.0 * COUNT(*) FILTER (o_orderstatus = 'P')
             / (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'P'), 6) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_grouped_vc_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plot.py:485 pipeline — groupby(by)[col].value_counts(normalize)
    .mul(100).unstack(level=0) — as groupBy + pivot + per-column window
    normalization. Pivot values passed explicitly so no extra pass to
    discover them."""
    from epic_pandas_spark.operators.pivots import grouped_value_counts_pivot

    ords = load_table(spark, sf_dir, "orders")
    out = grouped_value_counts_pivot(
        ords, by="o_orderstatus", col="o_orderpriority",
        by_values=["F", "O", "P"], normalize=True, mul=100.0,
    )
    return out.select(
        "o_orderpriority",
        *[F.round(F.col(c), 6).alias(c) for c in ("F", "O", "P")],
    )


@register(
    "others_collapse",
    """
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT o_orderstatus, SUM(cnt) AS grp_total FROM counts GROUP BY 1
    ), keyed AS (
      SELECT c.o_orderstatus,
             CASE WHEN cnt / grp_total <= 0.2 THEN 'Others' ELSE o_orderpriority END AS o_orderpriority,
             cnt
      FROM counts c JOIN tot USING (o_orderstatus)
    )
    SELECT o_orderstatus, o_orderpriority, CAST(SUM(cnt) AS BIGINT) AS count
    FROM keyed GROUP BY 1, 2
    """,
)
def q_others_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise Others-collapse (plot.py:208-218): subcategories whose
    within-group ratio ≤ threshold re-keyed to 'Others' and re-aggregated —
    a when/otherwise re-key, zero per-group Python."""
    from epic_pandas_spark.operators.pivots import collapse_small_categories

    ords = load_table(spark, sf_dir, "orders")
    return collapse_small_categories(
        ords, group="o_orderstatus", subcat="o_orderpriority", threshold=0.2
    )


# ---------------------------------------------------------------------------
# COO sparse tier (§1.1, sparse.py)
# ---------------------------------------------------------------------------

_COO_SQL_BASE = """
      SELECT o_custkey % 10 AS row_key, o_orderkey % 10 AS col_key,
             COUNT(*) AS value
      FROM orders GROUP BY 1, 2
"""


def _coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders")
    return (
        ords.groupBy(
            (F.col("o_custkey") % 10).alias("row_key"),
            (F.col("o_orderkey") % 10).alias("col_key"),
        )
        .agg(F.count(F.lit(1)).alias("value"))
    )


@register("dfdiag", f"WITH coo AS ({_COO_SQL_BASE}) SELECT * FROM coo WHERE row_key = col_key")
def q_dfdiag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epic_pandas_spark.operators import dfdiag

    return dfdiag(_coo(spark, sf_dir))


@register(
    "coo_density",
    f"""
    WITH coo AS ({_COO_SQL_BASE})
    SELECT ROUND(COUNT(*) / (COUNT(DISTINCT row_key) * COUNT(DISTINCT col_key)), 6) AS density
    FROM coo
    """,
)
def q_coo_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epic_pandas_spark.operators import coo_density

    return coo_density(_coo(spark, sf_dir)).select(F.round("density", 6).alias("density"))


@register(
    "coo_matmul",
    f"""
    WITH coo AS ({_COO_SQL_BASE})
    SELECT a.row_key AS row_key, b.col_key AS col_key,
           CAST(SUM(a.value * b.value) AS BIGINT) AS value
    FROM coo a
    JOIN (SELECT col_key AS row_key, row_key AS col_key, value FROM coo) b
      ON a.col_key = b.row_key
    GROUP BY 1, 2
    """,
)
def q_coo_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse Gram matrix A @ A^T on the COO tier (operators.sparse.spmm):
    distributed SpGEMM as join-on-inner-key + per-cell sum — the matmul
    the reference's SparseDataFrame inherits from csr_matrix
    (sparse.py:22). Integer count values keep the oracle sum exact."""
    from epic_pandas_spark.operators.sparse import spmm, coo_transpose

    coo = _coo(spark, sf_dir).localCheckpoint(eager=False)  # A and A^T share one scan
    return spmm(coo, coo_transpose(coo))


# ---------------------------------------------------------------------------
# alignment predicate (§2.3 alignable)
# ---------------------------------------------------------------------------

@register(
    "alignable",
    """
    SELECT
      ((SELECT COUNT(*) = COUNT(DISTINCT c_custkey) FROM customer)
       AND (SELECT COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders)
       AND NOT EXISTS (
         SELECT 1 FROM (SELECT DISTINCT c_custkey FROM customer) c
         FULL OUTER JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON c.c_custkey = o.o_orderkey
         WHERE c.c_custkey IS NULL OR o.o_orderkey IS NULL
       )) AS cust_vs_orders,
      (SELECT COUNT(*) = COUNT(DISTINCT c_custkey) FROM customer) AS cust_vs_self
    """,
)
def q_alignable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`alignable` (utils.py:492-513) as a data-driven predicate: customer
    is 1:1-joinable with itself but not with the orders key set."""
    from epic_pandas_spark.keyed import alignable_frame

    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey"))
    ords = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("c_custkey"))
    a = alignable_frame(cust, ords, key="c_custkey").withColumnRenamed("alignable", "cust_vs_orders")
    b = alignable_frame(cust, cust, key="c_custkey").withColumnRenamed("alignable", "cust_vs_self")
    return a.crossJoin(b)


# ---------------------------------------------------------------------------
# extension tier: dedup family (extensions/dedup.py)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM unioned
    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a corpus with injected duplicates (every 5th doc
    re-appended under a shifted id): keep the min-id row per normalized
    text. Shuffle key is the 64-bit fingerprint, not the text."""
    from epic_pandas_spark.extensions.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    unioned = docs.unionByName(dups)
    return exact_dedup(unioned, "text", "doc_id").select("doc_id")


@register(
    "dedup_keep_longest",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, upper(text) || '  ' AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                   ORDER BY length(text) DESC, doc_id ASC) AS rn
          FROM unioned)
    SELECT doc_id FROM r WHERE rn = 1
    """,
)
def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a RETENTION POLICY (exact_dedup(keep_by=...)):
    the injected duplicates are case/whitespace variants CARRYING MORE
    RAW TEXT (uppercased + padded), and the keep rule prefers the
    longest raw variant instead of the smallest id — deduplication
    should discard the worse variant, not whichever happened to get a
    larger id. Same O(ids) fingerprint-keyed shuffle as `dedup_exact`;
    only the window order changes. Every injected variant must win its
    group, so the output's id set (vs `dedup_exact`'s) proves the
    policy executed."""
    from epic_pandas_spark.extensions.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    unioned = docs.unionByName(dups)
    out = exact_dedup(unioned, "text", "doc_id", keep_by=[F.length("text").desc()])
    return out.select("doc_id")


@register(
    "soft_dedup_weights",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           CAST(COUNT(*) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS BIGINT) AS n_dups,
           ROUND(1.0 / COUNT(*) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 6) AS weight
    FROM unioned
    """,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup on the injected-duplicate corpus: every row kept, each
    weighted 1/|its exact-dup group| — the reweighting alternative to
    hard dedup (duplicated boilerplate down-sampled, not censored). One
    window count over the fingerprint key; weights feed weighted
    sampling or a loss weight downstream."""
    from epic_pandas_spark.extensions.dedup import soft_dedup_weights

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    out = soft_dedup_weights(docs.unionByName(dups), "text", "doc_id")
    return out.select("doc_id", "n_dups", F.round("weight", 6).alias("weight"))


_JACCARD_PAIRS_SQL = """
    WITH ws AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
            FROM documents)
    ), inv AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM ws WHERE len(sh) > 0
    )
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*)::DOUBLE / (a.n + b.n - COUNT(*)) AS jaccard
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n, b.n
    ) WHERE jaccard >= 0.8
"""

@register("dedup_jaccard", _JACCARD_PAIRS_SQL)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram-shingle Jaccard near-dup pairs (τ=0.8) via the
    inverted-index self-join. Trigram shingles stay discriminative on this
    corpus's small vocabulary (unigram word sets collide: 35k degenerate
    pairs at sf0.1)."""
    from epic_pandas_spark.extensions.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register("dedup_minhash_lsh", _JACCARD_PAIRS_SQL)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard (same oracle as
    dedup_jaccard, different physical plan: banded bucket join instead of
    the inverted-index join). 16 bands × r=2 gives miss probability
    (1-j²)^16 ≤ 1.4e-7 at j=0.8 — recall is 1 up to that epsilon, and the
    exact-jaccard verification removes all false positives."""
    from epic_pandas_spark.extensions.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8, n_hashes=32, bands=16)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "near_dedup_curation",
    """
    WITH RECURSIVE ws AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
            FROM documents)
    ), inv AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM ws WHERE len(sh) > 0
    ), pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*)::DOUBLE / (a.n + b.n - COUNT(*)) AS jaccard
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
      ) WHERE jaccard >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), labels AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM labels) AS BIGINT) AS n_dup_members,
           CAST((SELECT COUNT(DISTINCT cluster) FROM labels) AS BIGINT) AS n_clusters,
           CAST((SELECT COUNT(*) FROM documents)
                - (SELECT COUNT(*) FROM labels)
                + (SELECT COUNT(DISTINCT cluster) FROM labels) AS BIGINT) AS n_surviving
    """,
)
def q_near_dedup_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup curation — the flagship 100 TB pipeline in
    one lazy plan: MinHash-LSH candidates → exact-Jaccard verification
    (τ=0.8) → connected components → keep the min-id doc per cluster →
    survivor accounting. Every stage is the bucketed/scale-safe variant
    (banded LSH join, pointer-doubled CC); the oracle replays identical
    semantics in DuckDB with exact all-pairs Jaccard and a recursive-CTE
    transitive closure — so the approximate candidate generation is held
    to the exact answer end-to-end, not just per stage. The band count
    is DERIVED from the threshold (bands_for_recall: fewest bands with
    ≥99.9% S-curve collision at τ — which resolves to the 16 the
    pipeline previously hand-pinned), so changing τ re-tunes the
    candidate join instead of silently degrading recall."""
    from epic_pandas_spark.extensions.dedup import (
        bands_for_recall,
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, n_hashes=32,
        bands=bands_for_recall(0.8, 32),
    )
    # one bounded collect picks the tier: driver union-find up to 100k
    # edges — min-label's per-round job latency dominates tiny graphs —
    # and pointer-doubled min-label above it (the 100 TB path); see
    # connected_components' docstring for the measured crossover
    labels = connected_components(pairs)
    stats = labels.agg(
        F.count(F.lit(1)).alias("n_dup_members"),
        F.count_distinct("cluster").alias("n_clusters"),
    )
    totals = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.crossJoin(stats).select(
        "n_docs",
        "n_dup_members",
        "n_clusters",
        (F.col("n_docs") - F.col("n_dup_members") + F.col("n_clusters")).alias("n_surviving"),
    )


@register(
    "papply_batch",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(LN(1 + l_extendedprice), 6) AS log_price
    FROM lineitem
    """,
)
def q_papply_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`papply` (mapInPandas batch apply, parallel.py §2.11) oracle-checked:
    a numpy-vectorized kernel per Arrow batch must equal the SQL
    expression — proving the chunked-parallel-apply surface is
    value-faithful, like `grouped_demean` does for applyInPandas."""
    import numpy as np
    import pandas as pd

    from epic_pandas_spark.parallel import papply

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "log_price": np.log1p(pdf["l_extendedprice"].to_numpy()),
            }
        )

    out = papply(li, kernel, "l_orderkey long, l_linenumber int, log_price double")
    return out.select("l_orderkey", "l_linenumber", F.round("log_price", 6).alias("log_price"))


@register(
    "even_slices_sharded",
    """
    SELECT c_custkey,
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1 AS INT)
             AS slice_id
    FROM customer
    """,
)
def q_even_slices_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gen_slices` parity (operators.windows.even_slices) in its
    scale-out form: remainder-balanced contiguous slices computed per
    market-segment shard — the window partitions on the shard key, so no
    single-partition funnel."""
    from epic_pandas_spark.operators import even_slices

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = even_slices(
        cust, 4, order_by=["c_custkey"], partition_by=["c_mktsegment"]
    )
    return out.select("c_custkey", "slice_id")


@register(
    "coo_add",
    f"""
    WITH coo AS ({_COO_SQL_BASE}),
    coo2 AS (
      SELECT o_custkey % 10 AS row_key, o_orderkey % 7 AS col_key,
             COUNT(*) AS value
      FROM orders GROUP BY 1, 2
    )
    SELECT COALESCE(a.row_key, b.row_key) AS row_key,
           COALESCE(a.col_key, b.col_key) AS col_key,
           ROUND(COALESCE(a.value, 0) + COALESCE(b.value, 0), 6) AS value
    FROM coo a FULL OUTER JOIN coo2 b
      ON a.row_key = b.row_key AND a.col_key = b.col_key
    """,
)
def q_coo_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise COO addition over the union of supports
    (operators.sparse.coo_elementwise, csr `+` parity): full-outer cell
    join with absent cells as zero."""
    from epic_pandas_spark.operators.sparse import coo_elementwise

    ords = load_table(spark, sf_dir, "orders")
    a = _coo(spark, sf_dir)
    b = ords.groupBy(
        (F.col("o_custkey") % 10).alias("row_key"),
        (F.col("o_orderkey") % 7).alias("col_key"),
    ).agg(F.count(F.lit(1)).alias("value"))
    out = coo_elementwise(a, b, op="add")
    return out.select("row_key", "col_key", F.round("value", 6).alias("value"))


@register(
    "unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM vocab)
    SELECT doc_id, ROUND(AVG(LN(CAST(c AS DOUBLE) / (SELECT t FROM tot))), 6) AS avg_logprob
    FROM tok JOIN vocab USING (token)
    GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-document mean unigram
    log-probability under the corpus's own unigram LM — the classic
    cheap filter for rare-token soup / corrupted text. Two-pass plan:
    token counts (map-side partial agg) then a token-keyed join back;
    the token table is checkpointed once and scanned for both passes.
    Fully SQL-expressible, so the oracle is exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(words_expr(F.col("text"))).alias("token"),
        )
        .filter(F.col("token") != "")
        .localCheckpoint(eager=False)  # scanned for the vocab AND the join
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    vocab_p = vocab.crossJoin(F.broadcast(total)).select(
        "token", (F.log(F.col("c") / F.col("t"))).alias("lp")
    )
    return (
        toks.join(vocab_p, on="token")
        .groupBy("doc_id")
        .agg(F.round(F.avg("lp"), 6).alias("avg_logprob"))
    )


@register("compression_quality", None)  # zlib has no DuckDB analog → rows-only
def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal
    (functions.text.compression_ratio_udf): repetitive/templated text
    compresses far below organic prose. Arrow-batched stdlib-zlib kernel;
    monotonicity and bounds are pytest-verified (no DuckDB zlib)."""
    from epic_pandas_spark.functions.text import compression_ratio_udf

    docs = load_table(spark, sf_dir, "documents")
    ratio = compression_ratio_udf()
    return docs.select(
        "doc_id", F.round(ratio(F.col("text")), 6).alias("compression_ratio")
    )


@register(
    "vocab_topk",
    """
    WITH toks AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), counted AS (
      SELECT token, COUNT(*) AS count FROM toks WHERE token <> '' GROUP BY token
    )
    SELECT token, CAST(count AS BIGINT) AS count, token_id FROM (
      SELECT token, count,
             CAST(ROW_NUMBER() OVER (ORDER BY count DESC, token ASC) - 1 AS INT) AS token_id
      FROM counted
    ) WHERE token_id < 50
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction (functions.text.build_vocab): top-50
    whitespace tokens by corpus frequency with contiguous ids — the
    tokenizer-training workhorse. Map-side partial counts collapse the
    Zipf head before the shuffle; the rank window only ever sees the
    k surviving rows."""
    from epic_pandas_spark.functions.text import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", top_k=50)


@register(
    "train_val_split",
    """
    SELECT CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_leaky_groups,
           TRUE AS partitioned_completely
    """,
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware deterministic train/val split
    (operators.sampling.split_train_val, by=nation → no entity straddles
    the split boundary). The oracle checks the split CONTRACT — every row
    tagged, zero leaky groups — since the membership itself is
    hash-defined; the fraction expectation is property-tested."""
    from epic_pandas_spark.operators.sampling import split_train_val

    cust = load_table(spark, sf_dir, "customer")
    tagged = split_train_val(cust, 0.2, by=["c_nationkey"], seed=7)
    per_group = tagged.groupBy("c_nationkey").agg(
        F.count_distinct("split").alias("n_splits")
    )
    leaky = per_group.agg(
        F.coalesce(
            F.sum((F.col("n_splits") > 1).cast("long")), F.lit(0)
        ).alias("n_leaky_groups")
    )
    totals = tagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.col("split").isin("train", "val").cast("long"))
            == F.count(F.lit(1))
        ).alias("partitioned_completely"),
    )
    return totals.crossJoin(leaky).select(
        "n_rows", "n_leaky_groups", "partitioned_completely"
    )


@register(
    "dedup_simhash",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
      FROM documents),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
    bits AS (SELECT unnest(range(60)) AS b),
    votes AS (
      SELECT doc_id, bits.b,
             SUM(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN bits GROUP BY doc_id, bits.b),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
      FROM votes GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over 60-bit bag-of-words
    fingerprints), EXACT via 4-band blocking (pigeonhole guarantees every
    hamming≤3 pair shares a band). The per-token hash here is the
    md5-arithmetic 60-bit hash (the KMV-oracle trick), so DuckDB rebuilds
    the exact fingerprints and brute-forces all pairs — the oracle
    independently proves both the bit-majority fingerprint AND the band
    join's exactness. Production default stays xxhash64/64-bit (cheaper);
    the banded-vs-brute-force pytest covers that path."""
    from epic_pandas_spark.extensions.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, n_bits=60, token_hash=md5_hash60
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# extension tier: similarity search (extensions/similarity.py)
# ---------------------------------------------------------------------------

_KNN_ORACLE_SQL = """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_sum(list_transform(list_zip(q.qe, c.e), x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(q.qe, x -> x*x)))
                  * sqrt(list_sum(list_transform(c.e, x -> x*x)))) AS cosine
      FROM c, q WHERE c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine FROM ranked WHERE rn <= 5
"""

@register("knn_bruteforce", _KNN_ORACLE_SQL)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id<5 — broadcast
    queries, single corpus scan, per-query top-k window."""
    from epic_pandas_spark.extensions.similarity import knn_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"))


@register("knn_bruteforce_pandas", _KNN_ORACLE_SQL)
def q_knn_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer through the Arrow/numpy matmul path (mapInPandas with
    per-batch local top-k) — proves the vectorized fast path returns
    byte-identical results to the expression plan."""
    from epic_pandas_spark.extensions.similarity import knn_bruteforce_pandas

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    }
    out = knn_bruteforce_pandas(emb, qvecs, k=5)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"))


def _ann_witness_sql(k: int, floor: float) -> str:
    """Contract oracle for a self-witnessing ANN query (round 11,
    VERDICT r10 item 7): the Spark side recomputes every stated fact
    from its ACTUAL output — structural counts, exact-cosine
    verification of returned scores, and recall@k against the in-plan
    brute-force top-k — and the oracle states the expected contract.
    A recall regression below the floor, a wrong cosine, or a
    short-changed query flips a value and hash-mismatches."""
    nq = "(SELECT COUNT(*) FROM embeddings WHERE vec_id < 5)"
    return f"""
    SELECT CAST({nq} AS BIGINT) AS n_queries,
           CAST({k} * {nq} AS BIGINT) AS n_results,
           TRUE AS per_query_k_ok,
           CAST(0 AS BIGINT) AS n_cosine_mismatch,
           CAST({floor} AS DOUBLE) AS recall_floor,
           TRUE AS recall_ge_floor
    """


def _ann_recall_witness(
    spark: SparkSession, sf_dir: str, ann_fn, k: int, floor: float
) -> DataFrame:
    """One-row witness over an ANN operator's real output: structural
    counts, per-query k completeness, |reported - recomputed| cosine
    mismatches (1e-9), and recall@k vs the exact brute-force top-k on
    the same (corpus, queries). All component aggregates are one-row
    frames cross-joined together; the ANN result and the exact top-k
    are tiny (|queries| * k rows), so the witness costs one extra
    brute-force pass over the query set — nothing corpus-quadratic."""
    from epic_pandas_spark.extensions.similarity import knn_bruteforce
    from epic_pandas_spark.functions.vectors import dot_expr, norm_expr

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    ann = ann_fn(emb, qs).localCheckpoint(eager=False)  # 4 witnesses reuse it
    exact = knn_bruteforce(emb, qs, k=k).select("query_id", "vec_id")

    s_counts = ann.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_results"),
    )
    s_perq = (
        ann.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            ((F.min("c") == F.lit(k)) & (F.max("c") == F.lit(k))).alias(
                "per_query_k_ok"
            )
        )
    )
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("__qv"),
    )
    cv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__cv")
    )
    true_cos = dot_expr(F.col("__qv"), F.col("__cv")) / (
        norm_expr(F.col("__qv")) * norm_expr(F.col("__cv"))
    )
    s_cos = (
        ann.join(F.broadcast(qv), "query_id")
        .join(cv, "vec_id")
        .agg(
            F.sum(
                (F.abs(F.col("cosine") - true_cos) > 1e-9).cast("long")
            ).alias("n_cosine_mismatch")
        )
    )
    s_recall = exact.join(ann, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("__hits")
    ).crossJoin(exact.agg(F.count(F.lit(1)).alias("__n_exact"))).select(
        F.lit(float(floor)).alias("recall_floor"),
        (F.col("__hits") / F.col("__n_exact") >= F.lit(floor)).alias(
            "recall_ge_floor"
        ),
    )
    return s_counts.crossJoin(s_perq).crossJoin(s_cos).crossJoin(s_recall)


# floors sit under the measured recall band across sf0.001/0.01/0.1
# (ivf 0.68-0.76, lsh@5probes 0.56-0.60, ivf-pq 0.60-0.72) — tight
# enough that a bucketing/rank/rerank regression trips them, loose
# enough that corpus regeneration noise does not
@register("lsh_bucketed_knn", _ann_witness_sql(5, 0.5))
def q_lsh_bucketed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane buckets with
    query-directed multi-probe (n_probes=5 of 16 buckets — the single
    -probe point has ~0.2 recall on this corpus, a useless operating
    point to pin). FULL witness oracle since round 11: structure,
    exact-cosine verification of reported scores, and recall@5 >= 0.5
    vs in-plan brute force (measured 0.56-0.60 across tiers); recall
    band details remain unit-tested."""
    from epic_pandas_spark.extensions.similarity import lsh_bucketed_knn

    return _ann_recall_witness(
        spark,
        sf_dir,
        lambda emb, qs: lsh_bucketed_knn(emb, qs, dim=64, k=5, n_planes=4, n_probes=5),
        k=5,
        floor=0.5,
    )


@register(
    "embedding_neardup",
    """
    WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(list_zip(a.e, b.e), x -> x[1]*x[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 6) AS cosine
    FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.e, b.e), x -> x[1]*x[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))) >= 0.4
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked on label (the quadratic
    cross-join is confined to each label block — the scale pattern).
    kernel='blas' scores each block with chunked numpy GEMMs instead of
    a per-pair codegen expression: the in-block PAIR COUNT is quadratic
    in block size either way (that's the label-blocking semantics the
    oracle states), but the per-pair cost drops ~36× — measured 140s →
    3.9s at sf1 where blocks reach 2k vectors."""
    from epic_pandas_spark.extensions.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(
        emb, block_col="label", threshold=0.4, kernel="blas"
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@register(
    "semantic_dedup",
    """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cb AS (SELECT vec_id AS cid, e AS ce FROM c ORDER BY vec_id LIMIT 8),
    cbn AS (SELECT ROW_NUMBER() OVER (ORDER BY cid) - 1 AS ci, ce FROM cb),
    scored AS (
      SELECT c.vec_id, cbn.ci,
             list_sum(list_transform(list_zip(c.e, cbn.ce), x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(c.e, x -> x*x)))
                  * sqrt(list_sum(list_transform(cbn.ce, x -> x*x)))) AS cosine
      FROM c, cbn
    ),
    assigned AS (
      SELECT vec_id, ci AS cluster FROM (
        SELECT vec_id, ci,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, ci ASC) AS rn
        FROM scored) t WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM assigned a
      JOIN assigned b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
      JOIN c ca ON ca.vec_id = a.vec_id
      JOIN c cb2 ON cb2.vec_id = b.vec_id
      WHERE list_sum(list_transform(list_zip(ca.e, cb2.e), x -> x[1]*x[2]))
            / (sqrt(list_sum(list_transform(ca.e, x -> x*x)))
               * sqrt(list_sum(list_transform(cb2.e, x -> x*x)))) >= 0.4
    )
    SELECT a.vec_id, a.cluster FROM assigned a
    WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune semantic dedup (Abbas et al. 2303.09540)
    with the deterministic init-only codebook (k=8 lowest-id embeddings)
    so the full pipeline — broadcast-codebook argmax assign, per-cluster
    GEMM prune, keep-lowest-id rule — is exactly replayable in SQL. The
    only embedding operator family whose END-TO-END keep set is
    hash-checked by the DuckDB oracle (the pair variants check pairs)."""
    from epic_pandas_spark.extensions.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, threshold=0.4)


# ---------------------------------------------------------------------------
# extension tier: text analysis (functions/text.py)
# ---------------------------------------------------------------------------

@register(
    "text_quality",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / GREATEST(length(text), 1), 6) AS alpha_ratio,
           ROUND((length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  - length(regexp_replace(text, '[^0-9]', '', 'g'))
                  - length(regexp_replace(text, '[^ \t\n]', '', 'g')))::DOUBLE
             / GREATEST(length(text), 1), 6) AS punct_ratio
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epic_pandas_spark.functions.text import quality_score_exprs

    docs = load_table(spark, sf_dir, "documents")
    ex = quality_score_exprs(F.col("text"))
    return docs.select(
        "doc_id",
        ex["n_chars"].alias("n_chars"),
        ex["n_tokens"].alias("n_tokens"),
        F.round(ex["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(ex["punct_ratio"], 6).alias("punct_ratio"),
    )


_LANG_SQL_SCORES = {
    "en": [" the ", " and ", " of ", " to "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " la ", " et ", " les "],
    "es": [" el ", " de ", " que ", " los "],
}

def _lang_score_sql(markers):
    padded = "(' ' || lower(text) || ' ')"
    terms = [
        f"(length({padded}) - length(replace({padded}, '{m}', ''))) / {len(m)}.0"
        for m in markers
    ]
    return "(" + " + ".join(terms) + ")"

_LANG_SQL = (
    "SELECT doc_id, CASE "
    + " WHEN greatest("
    + ", ".join(_lang_score_sql(m) for m in _LANG_SQL_SCORES.values())
    + ") <= 0 THEN 'und' "
    + " ".join(
        f"WHEN {_lang_score_sql(m)} = greatest("
        + ", ".join(_lang_score_sql(mm) for mm in _LANG_SQL_SCORES.values())
        + f") THEN '{lang}'"
        for lang, m in _LANG_SQL_SCORES.items()
    )
    + " END AS lang_guess FROM documents"
)

@register("lang_id", _LANG_SQL)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID; the oracle replicates the same
    replace-length arithmetic, with WHEN-order = first-language-wins on
    ties matching the expression's argmax-first semantics."""
    from epic_pandas_spark.functions.text import lang_id_expr

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_expr(F.col("text")).alias("lang_guess"))


@register(
    "doc_fingerprint",
    """
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS n_distinct_fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 fingerprint cardinality == distinct normalized texts
    (collision-free at this scale) — the oracle-checkable fingerprint
    property."""
    from epic_pandas_spark.functions.text import fingerprint_expr

    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(fingerprint_expr(F.col("text"))).alias("n_distinct_fp"),
    )


# ---------------------------------------------------------------------------
# extension tier: multimodal plumbing (extensions/multimodal.py)
# ---------------------------------------------------------------------------

@register(
    "multimodal_features",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ), sums AS (
      SELECT doc_id, SUM(ascii(c)) AS s FROM chars GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           CAST(length(d.text) AS DOUBLE) AS f_len,
           CAST(ascii(substr(d.text, 1, 1)) AS DOUBLE) AS f_first,
           CAST(ascii(substr(d.text, length(d.text), 1)) AS DOUBLE) AS f_last,
           CAST(s % 256 AS DOUBLE) AS f_sum
    FROM documents d JOIN sums USING (doc_id)
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal feature-extraction pipeline driven end-to-end with
    the deterministic fake kernel: text bytes stand in for an opaque
    payload; mapInPandas computes (len, first, last, byte-sum%256). The
    oracle recomputes the same features in SQL — verifying the Arrow
    batch plumbing, not just the math."""
    from epic_pandas_spark.extensions.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("payload")
    )
    feats = extract_features(docs, n_features=4)
    return feats.select(
        "id",
        F.col("features")[0].alias("f_len"),
        F.col("features")[1].alias("f_first"),
        F.col("features")[2].alias("f_last"),
        F.col("features")[3].alias("f_sum"),
    )


# ---------------------------------------------------------------------------
# streaming twins, batch-checked (streaming/windows.py)
# ---------------------------------------------------------------------------

@register(
    "sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via the lag/cumsum plan — one
    shuffle on user_id, two windows over it. The streaming twin
    (streaming.windows.sessionize) uses native session_window state and is
    equivalence-tested in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events")
    ).drop("session_id")


@register(
    "sliding_window",
    """
    WITH s AS (
      SELECT event_type, time_bucket(INTERVAL '30 minutes', ts) AS w FROM events
      UNION ALL
      SELECT event_type, time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
    )
    SELECT w AS window_start, event_type, COUNT(*) AS n_events
    FROM s GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min event-time window counts — the batch twin of
    streaming.windows.sliding_agg (each event lands in exactly 2 windows;
    the oracle materializes both grid-aligned starts)."""
    from epic_pandas_spark.streaming.windows import sliding_agg

    ev = load_table(spark, sf_dir, "events")
    return sliding_agg(ev)


@register(
    "windowed_topk",
    """
    WITH c AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             CAST(event_type AS VARCHAR) AS value, COUNT(*) AS count_est
      FROM events WHERE event_type IS NOT NULL
      GROUP BY 1, 2
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY count_est DESC, value) AS rank
      FROM c
    )
    SELECT window_start, CAST(rank AS INT) AS rank, value, count_est,
           CAST(0 AS BIGINT) AS err
    FROM r WHERE rank <= 5
    """,
)
def q_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k heavy hitters — the exact batch twin
    (streaming.stateful.batch_windowed_topk) of the streaming
    Space-Saving sketch (streaming.stateful.windowed_topk, Metwally et
    al. ICDT'05: m bounded counters per open window, every value with
    true count > N/m guaranteed present, per-counter error carried in
    the ``err`` column). The stream==batch equivalence below
    saturation and the past-saturation count/coverage guarantees are
    pytest witnesses (tests/test_streaming.py); this entry anchors the
    emission semantics — (count desc, value) tie-break, per-window
    rank — against SQL. Plan: one (window, value) aggregate with
    map-side partials, one |windows|-partitioned rank window; the
    event payload never shuffles."""
    from epic_pandas_spark.streaming.stateful import batch_windowed_topk

    ev = load_table(spark, sf_dir, "events")
    return batch_windowed_topk(ev, k=5)


@register(
    "windowed_quantiles",
    """
    WITH s AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                      value::DOUBLE AS v
               FROM events WHERE value IS NOT NULL),
    r AS (SELECT window_start, v,
                 ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY v) AS rn,
                 COUNT(*) OVER (PARTITION BY window_start) AS n
          FROM s),
    p AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) t(prob))
    SELECT r.window_start, p.prob AS prob,
           ROUND(MIN(CASE WHEN r.rn >= CEIL(p.prob * r.n - 1e-9) THEN r.v END), 6)
             AS quantile_est,
           CAST(MAX(r.n) AS BIGINT) AS n_seen
    FROM r, p GROUP BY r.window_start, p.prob
    """,
)
def q_windowed_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window exact quantiles — the batch twin
    (streaming.stateful.batch_windowed_quantiles) of the streaming
    numeric-distribution drift monitor (streaming.stateful.
    windowed_quantiles: bounded q-anchor state per open window, the
    streaming form of the quantile-anchor store). This entry anchors
    the emission semantics — type-1 lower quantile per (event-time
    window, prob), n_seen alongside — against SQL; the stream==batch
    equivalence below q values/window and the anchor-compression error
    bound are pytest witnesses. Plan: one shuffle on the window key,
    per-window rank + count share its partitioning, |windows| x
    |probs| output rows; the value column is the only payload."""
    from epic_pandas_spark.streaming.stateful import batch_windowed_quantiles

    ev = load_table(spark, sf_dir, "events")
    out = batch_windowed_quantiles(ev, probs=(0.5, 0.9, 0.99))
    return out.select(
        "window_start", "prob",
        F.round("quantile_est", 6).alias("quantile_est"), "n_seen",
    )


@register(
    "grouped_histogram",
    """
    WITH b AS (
      SELECT o_orderstatus,
             LEAST(20, GREATEST(1, CAST(FLOOR(o_totalprice / 30000.0) AS INT) + 1)) AS bin
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderstatus, bin, COUNT(*) AS count,
           (bin-1)*30000.0 AS bin_lo, bin*30000.0 AS bin_hi
    FROM b GROUP BY o_orderstatus, bin
    """,
)
def q_grouped_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group histogram over global shared bin edges (the
    group_bar_hist pipeline, plot.py:410-418): one (group, bucket)
    hash-agg pass."""
    from epic_pandas_spark.operators.value_counts import grouped_histogram

    ords = load_table(spark, sf_dir, "orders")
    return grouped_histogram(ords, "o_totalprice", by="o_orderstatus", lo=0.0, hi=600000.0, n_bins=20)


@register(
    "byte_histogram",
    """
    WITH chars AS (SELECT unnest(string_split(text, '')) AS c FROM documents)
    SELECT ascii(c) AS byte, COUNT(*) AS count
    FROM chars GROUP BY 1
    """,
)
def q_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global byte histogram over the corpus — `byte_histogram`
    (algorithm.py:13-27) at column scale: explode to one row per char,
    single hash-agg (ASCII corpus ⇒ char == byte)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy(F.ascii("c").alias("byte"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


@register(
    "ingest_from_iterable",
    """
    SELECT * FROM (VALUES
      ('k1', 1.0, NULL, 2.0, 3.0),
      ('k2', 4.0, 5.0, NULL, NULL)
    ) AS t(__key, a, b, sub_x, sub_y)
    """,
)
def q_ingest_from_iterable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df_from_iterable parity (create.py:48-172): heterogeneous records
    with sub-dict collapse, None-field dropping, and null backfill — the
    oracle is the literal expected table."""
    from epic_pandas_spark.sources.ingest import df_from_iterable

    records = [
        ("k1", {"a": 1.0, "sub": {"x": 2.0, "y": 3.0}}),
        ("k2", {"a": 4.0, "b": 5.0, "dropme": None}),
    ]
    return df_from_iterable(
        spark, records, schema="__key string, a double, b double, sub_x double, sub_y double"
    )


@register(
    "coo_stack_roundtrip",
    """
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent,
             CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS DOUBLE) AS low
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus AS row_key, col_key, value FROM (
      SELECT o_orderstatus, 'urgent' AS col_key, urgent AS value FROM wide
      UNION ALL
      SELECT o_orderstatus, 'low', low FROM wide
    ) WHERE value IS NOT NULL
    """,
)
def q_coo_stack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → COO long (`stack`, sparse.py:153-167) on a pivoted counts
    table — unpivot via the stack() SQL generator."""
    from epic_pandas_spark.operators.sparse import stack

    ords = load_table(spark, sf_dir, "orders")
    wide = ords.groupBy("o_orderstatus").agg(
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).cast("double").alias("urgent"),
        F.count(F.when(F.col("o_orderpriority") == "5-LOW", 1)).cast("double").alias("low"),
    )
    return stack(wide, "o_orderstatus", ["urgent", "low"])


@register(
    "json_flatten",
    r"""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON props → typed columns via from_json (§2.8 map
    handling): schema-on-read parse, then plain aggregation. The oracle
    extracts the same field with regexp (DuckDB-portable)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("p.k")).alias("sum_k"),
        F.max(F.col("p.k")).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "dedup_clusters",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    ), grouped AS (
      SELECT doc_id, MIN(doc_id) OVER (
        PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
      ) AS cluster, COUNT(*) OVER (
        PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
      ) AS sz
      FROM unioned
    )
    SELECT CAST(doc_id AS BIGINT) AS id, CAST(cluster AS BIGINT) AS cluster
    FROM grouped WHERE sz > 1
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-duplicate pair graph of the
    injected-duplicates corpus. The oracle derives the same clusters
    directly (min id per identical normalized text) — components of a
    same-text graph are exactly the text groups, which validates the
    generic iterative CC against a closed form."""
    from epic_pandas_spark.extensions.dedup import connected_components
    from epic_pandas_spark.functions.text import fingerprint_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    unioned = docs.unionByName(dups).withColumn("fp", fingerprint_expr(F.col("text")))
    # star edges (group-min ↔ member), not all-pairs: same components,
    # linear edge count even for huge duplicate groups
    mins = unioned.groupBy("fp").agg(F.min("doc_id").alias("id_a"))
    pairs = (
        unioned.join(mins, "fp")
        .filter(F.col("doc_id") != F.col("id_a"))
        .select("id_a", F.col("doc_id").alias("id_b"))
    )
    return connected_components(pairs).select(F.col("id"), F.col("cluster"))


@register(
    "token_count_bpe",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]', 0)) AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count: letter runs / digit runs / single
    punctuation (the GPT-2-style split, simplified to a portable regex) —
    one regexp_extract_all expression, identical RE semantics both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]"), 0)).alias(
            "n_bpe_tokens"
        ),
    )


@register(
    "corpus_curation",
    """
    WITH scored AS (
      SELECT doc_id, text, lang,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
               / GREATEST(length(text), 1) AS alpha_ratio,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    ), filtered AS (
      SELECT * FROM scored WHERE n_tokens >= 20 AND alpha_ratio >= 0.7
    ), deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
          ORDER BY doc_id) AS rn
        FROM filtered
      ) WHERE rn = 1
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM deduped GROUP BY lang
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the composability showcase: quality
    filter → exact dedup → per-language token accounting, one lazy plan
    (filters push into the scan, dedup shuffles on the fingerprint, final
    agg is map-side partial). This is the shape of a real pretraining-data
    job at 100 TB."""
    from epic_pandas_spark.extensions.dedup import exact_dedup
    from epic_pandas_spark.functions.text import quality_score_exprs

    docs = load_table(spark, sf_dir, "documents")
    ex = quality_score_exprs(F.col("text"))
    scored = docs.select(
        "doc_id", "text", "lang",
        ex["alpha_ratio"].alias("alpha_ratio"),
        ex["n_tokens"].alias("n_tokens"),
    )
    filtered = scored.filter((F.col("n_tokens") >= 20) & (F.col("alpha_ratio") >= 0.7))
    deduped = exact_dedup(filtered, "text", "doc_id")
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register("ivf_knn", _ann_witness_sql(5, 0.6))
def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantization ANN (extensions.similarity.ivf_knn).
    FULL witness oracle since round 11: structural counts, exact-cosine
    verification of the reported scores, and recall@5 >= 0.6 vs the
    in-plan brute-force top-k (measured 0.68-0.76 across tiers);
    full-probe equals exact search (oracle-proven by
    `ivf_knn_fullprobe`) and recall bands remain unit-tested."""
    from epic_pandas_spark.extensions.similarity import ivf_knn

    return _ann_recall_witness(
        spark,
        sf_dir,
        lambda emb, qs: ivf_knn(emb, qs, n_centroids=8, n_probe=4, k=5),
        k=5,
        floor=0.6,
    )


@register("ivf_pq_knn", _ann_witness_sql(5, 0.5))
def q_ivf_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (extensions.similarity.ivf_pq_knn, Jégou et al. 2011):
    product-quantized corpus codes + asymmetric-distance ranking + exact
    re-rank of the bounded candidate set. Codes (n_sub small ints), not
    raw vectors, are what the candidate join shuffles — the 100 TB
    representation. No SQL oracle exists for a trained-codebook lossy
    quantizer's RANKING, but the refined output's exact-cosine property
    and its recall ARE oracle-expressible as a contract — FULL witness
    oracle since round 11: structure, |reported - recomputed| cosine
    == 0 (the refine step returns true cosines), recall@5 >= 0.5 vs
    in-plan brute force (measured 0.60-0.72 across tiers). ADC
    replication stays verified in pure-numpy unit tests."""
    from epic_pandas_spark.extensions.similarity import ivf_pq_knn

    return _ann_recall_witness(
        spark,
        sf_dir,
        lambda emb, qs: ivf_pq_knn(
            emb,
            qs,
            n_centroids=8,
            n_probe=4,
            n_sub=16,
            n_codes=64,
            k=5,
            refine_factor=4,
            sample_max=4096,
        ),
        k=5,
        floor=0.5,
    )


@register("ivf_knn_fullprobe", _KNN_ORACLE_SQL)
def q_ivf_knn_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe == n_centroids degenerates to exact search — the
    oracle-checkable correctness anchor for the IVF machinery (list
    assignment, probe join, final top-k) against the same DuckDB exact-knn
    oracle as `knn_bruteforce`. The approximate operating point
    (`ivf_knn`, n_probe < n_centroids) differs only in the probe count.
    Uses the Lloyd-trained codebook so the kmeans_fit → IVF path is the
    one under oracle (full probe is exact for ANY codebook, so training
    cannot mask a wrong answer — only a broken plan)."""
    from epic_pandas_spark.extensions.similarity import ivf_knn

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_knn(
        emb, emb.filter(F.col("vec_id") < 5), n_centroids=8, n_probe=8, k=5,
        # 2 Lloyd iterations: enough to exercise the trained-codebook path;
        # full probe is exact for ANY codebook, so more training only adds
        # bench time, not correctness
        codebook="kmeans", kmeans_iterations=2,
    )
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"))


@register(
    "value_counts_total",
    """
    WITH vc AS (
      SELECT c_mktsegment AS value, COUNT(*) AS count FROM customer
      WHERE c_mktsegment IS NOT NULL GROUP BY c_mktsegment
    ), tot AS (SELECT CAST(SUM(count) AS BIGINT) AS t FROM vc)
    SELECT value, count, ROUND(count / (SELECT t FROM tot), 6) AS fraction FROM vc
    UNION ALL
    SELECT 'TOTAL', (SELECT t FROM tot), 1.0
    """,
)
def q_value_counts_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts with the TOTAL row (utils.py:316-318)."""
    cust = load_table(spark, sf_dir, "customer")
    out = value_counts(cust, "c_mktsegment", total=True)
    return out.select("value", "count", F.round("fraction", 6).alias("fraction"))


@register(
    "tpch_q6",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * CAST(l_discount AS DECIMAL(30,4))) AS DOUBLE), 6) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate pushes to the parquet scan, then a
    single global aggregate — the pure scan-efficiency benchmark."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(30,4)") * F.col("l_discount").cast("decimal(30,4)")).cast("double"),
            6,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "asof_join",
    """
    WITH marks AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, m.purchase_value, m.ts AS matched_ts
    FROM events e ASOF LEFT JOIN marks m
      ON e.user_id = m.user_id AND e.ts >= m.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (pandas merge_asof semantics): every event picks up the
    user's most recent purchase value. Spark lacks the operator; this is
    the union+carry-forward-window composition (operators.temporal) —
    one shuffle on the key. The oracle is DuckDB's native ASOF JOIN."""
    from epic_pandas_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    marks = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(left, marks, key="user_id", ts_col="ts", value_cols=["purchase_value"])


@register(
    "range_join",
    """
    WITH iv AS (
      SELECT o_orderkey, o_orderdate AS start_ts,
             o_orderdate + INTERVAL 3 DAY AS end_ts
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderkey, COUNT(*) AS n
    FROM iv JOIN lineitem ON l_shipdate BETWEEN start_ts AND end_ts
    GROUP BY o_orderkey
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join via time-bucket pruning
    (operators.temporal.range_join): lineitem shipments falling inside
    3-day windows around sampled order dates. The oracle runs the plain
    theta-join; the Spark plan is the bucketized equi-join."""
    from epic_pandas_spark.operators.temporal import range_join

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    iv = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").alias("start_ts"),
        F.expr("o_orderdate + INTERVAL 3 DAY").alias("end_ts"),
    )
    joined = range_join(li, iv, left_ts="l_shipdate", start_col="start_ts", end_col="end_ts")
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "quantiles",
    """
    SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS q75
    FROM lineitem
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated quantiles (F.percentile == DuckDB
    quantile_cont). `percentile_approx` is the constant-memory variant at
    scale (see `quantiles_approx`); the exact form is oracle-comparable."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
    return li.agg(
        F.round(p[0], 6).alias("q25"),
        F.round(p[1], 6).alias("q50"),
        F.round(p[2], 6).alias("q75"),
    )


@register("quantiles_approx", None)  # sketch output is engine-specific → rows-only
def q_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`percentile_approx` (Greenwald-Khanna sketch, accuracy 10000) twin
    of the exact `quantiles` — the 100 TB path: bounded memory, mergeable
    partials, no global sort. Computes approx AND exact in one aggregate
    pass and returns the observed max relative error plus `within_bound`
    (1% tolerance, far looser than the ~1e-4 rank guarantee), so every
    bench/correctness run witnesses the bound. ``EPS_SKIP_WITNESS=1``
    (set by bench.py for the headline number) skips the exact-percentile
    witness — which needs a global sort and dwarfs the GK sketch — and
    returns the scale path alone; bench reports the witness run
    separately."""
    li = load_table(spark, sf_dir, "lineitem")
    probs = F.lit([0.25, 0.5, 0.75])
    if os.environ.get("EPS_SKIP_WITNESS") == "1":
        qa = F.percentile_approx("l_extendedprice", probs, F.lit(10000))
        return li.agg(
            F.round(qa[0], 6).alias("q25_approx"),
            F.round(qa[1], 6).alias("q50_approx"),
            F.round(qa[2], 6).alias("q75_approx"),
        )
    row = li.agg(
        F.percentile_approx("l_extendedprice", probs, F.lit(10000)).alias("qa"),
        F.percentile("l_extendedprice", probs).alias("qe"),
    )
    rel = F.zip_with(
        F.col("qa").cast("array<double>"),
        F.col("qe"),
        lambda a, e: F.abs(a - e) / F.abs(e),
    )
    max_rel = F.array_max(rel)
    return row.select(
        F.round(F.col("qa")[0], 6).alias("q25_approx"),
        F.round(F.col("qa")[1], 6).alias("q50_approx"),
        F.round(F.col("qa")[2], 6).alias("q75_approx"),
        F.round(max_rel, 6).alias("max_rel_err"),
        (max_rel <= F.lit(0.01)).alias("within_bound"),
    )


@register(
    "quantiles_auto",
    """
    SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS q75
    FROM lineitem
    """,
)
def q_quantiles_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-routed quantiles (operators.stats.quantiles, mode="auto"):
    the exact F.percentile plan under the plan-stat crossover — bit-equal
    to the DuckDB oracle at sf0.01, which is why this query CAN carry an
    oracle — and the mergeable GK sketch above it, so the same call is
    the 100 TB path. The exact/approx twins stay registered for the
    explicitly-pinned forms."""
    from epic_pandas_spark.operators.stats import quantiles

    li = load_table(spark, sf_dir, "lineitem")
    q = quantiles(li, "l_extendedprice", [0.25, 0.5, 0.75], names=["a", "b", "c"])
    return q.select(
        F.round("a", 6).alias("q25"),
        F.round("b", 6).alias("q50"),
        F.round("c", 6).alias("q75"),
    )


@register(
    "rollup_revenue",
    """
    SELECT COALESCE(l_returnflag, '__ALL__') AS l_returnflag,
           COALESCE(l_linestatus, '__ALL__') AS l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — grouping-sets machinery the
    reference can't express (single-node pandas has no grouping sets;
    SURVEY.md §2.4 'not present'); Catalyst expands it into one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(30,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("__ALL__")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("__ALL__")).alias("l_linestatus"),
            "revenue",
            "n",
        )
    )


@register(
    "doc_chunking",
    """
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ), starts AS (
      SELECT doc_id, len(w) AS n, unnest(generate_series(1, len(w), 40)) AS s FROM toks
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
    FROM starts WHERE s + 49 <= n OR s = 1
    GROUP BY doc_id
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training data: split each doc's token
    sequence into 50-token windows with 10-token overlap (stride 40),
    keeping partial windows only when they are the document's only chunk.
    Reuses split_with_overlap on the token array — chunking IS the
    strided-segmentation operator at token granularity."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        words_expr(F.col("text")).alias("tokens"),
    )
    chunks = split_with_overlap(toks, "tokens", length=50, overlap=10, partials=False)
    full = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    # docs shorter than one window contribute their single partial chunk
    singles = (
        toks.filter(F.size("tokens") < 50)
        .select("doc_id", F.lit(1).cast("long").alias("n_chunks"))
    )
    return full.unionByName(singles)


@register(
    "sequence_packing",
    """
    WITH toks AS (
      SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    ), packed AS (
      SELECT shard, doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT shard, bin_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY shard, bin_id
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-aware greedy sequence packing (operators.windows.
    pack_sequences): within each of 8 shards, documents in stable doc_id
    order are packed into 512-token training bins via a running token
    total — bin id = floor(preceding-total / budget). Packing is only ever
    required within a shard, so the window partitions on the shard key:
    one shuffle, linear scale-out, no single-partition window. (The
    global single-sequence form is `partition_by=None`, covered by a
    shard-vs-global equivalence pytest.)"""
    from epic_pandas_spark.functions.text import token_count_expr
    from epic_pandas_spark.operators.windows import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        token_count_expr(F.col("text")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        toks, "n_tokens", 512, order_by=["doc_id"], partition_by=["shard"]
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Fixed-iteration Lloyd replay for DuckDB: seeds = the k vectors
    with smallest portable md5 hash of vec_id (cluster index = seed
    order), each round = argmin assignment (squared euclidean, ties to
    the lowest cluster index — ROW_NUMBER ordered by (dist, cluster))
    then per-(cluster, dim) SUM/COUNT means with empty clusters keeping
    their previous centroid, exactly like kmeans_fit."""

    def assign(i: int, cent: str) -> str:
        return f"""
    a{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vd.vec_id, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY vd.vec_id
                 ORDER BY SUM((vd.val - c.val) * (vd.val - c.val)), c.cluster
               ) AS rnk
        FROM vd JOIN {cent} c ON vd.pos = c.pos
        GROUP BY vd.vec_id, c.cluster
      ) WHERE rnk = 1
    ),"""

    def update(i: int, prev: str) -> str:
        return f"""
    c{i} AS (
      SELECT p.cluster, p.pos, COALESCE(u.val, p.val) AS val
      FROM {prev} p LEFT JOIN (
        SELECT a.cluster, vd.pos, SUM(vd.val) / COUNT(*) AS val
        FROM a{i} a JOIN vd ON a.vec_id = vd.vec_id
        GROUP BY a.cluster, vd.pos
      ) u ON p.cluster = u.cluster AND p.pos = u.pos
    ),"""

    rounds = "".join(
        assign(i, f"c{i - 1}") + update(i, f"c{i - 1}") for i in range(1, iters + 1)
    )
    return f"""
    WITH vd AS (
      SELECT vec_id, p.i AS pos, CAST(p.v AS DOUBLE) AS val
      FROM (SELECT vec_id,
                   unnest(list_transform(generate_series(1, len(embedding)),
                                         i -> struct_pack(i := i, v := embedding[i]))) AS p
            FROM embeddings)
    ),
    seeds AS (
      SELECT vec_id, CAST(rn - 1 AS INTEGER) AS cluster FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                               AS BIGINT), vec_id
               ) AS rn
        FROM embeddings
      ) WHERE rn <= {k}
    ),
    c0 AS (
      SELECT s.cluster, vd.pos, vd.val FROM seeds s JOIN vd ON s.vec_id = vd.vec_id
    ),{rounds}
    fin AS (
      SELECT vec_id, cluster FROM (
        SELECT vd.vec_id, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY vd.vec_id
                 ORDER BY SUM((vd.val - c.val) * (vd.val - c.val)), c.cluster
               ) AS rnk
        FROM vd JOIN c{iters} c ON vd.pos = c.pos
        GROUP BY vd.vec_id, c.cluster
      ) WHERE rnk = 1
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM fin GROUP BY cluster
    """


@register("kmeans_clusters", _kmeans_oracle_sql(4, 2))
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings (extensions.
    clustering): cluster sizes for k=4 after 2 iterations. Full DuckDB
    oracle since round 10: the fixed Lloyd rounds unroll as chained CTEs
    (_kmeans_oracle_sql) and the seeds come from the portable
    md5-arithmetic hash of vec_id via kmeans_fit's initial_centroids, so
    both engines start and step identically (assignment boundaries are
    fp-exact in both engines; only a point equidistant to two centroids
    within ~1e-15 could diverge). Convergence and separation properties
    are unit-tested beyond this fixed replay."""
    from epic_pandas_spark.extensions.clustering import kmeans_fit, assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    init = (
        emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
        .orderBy(
            md5_hash60(F.col("vec_id").cast("string")).asc(),
            F.col("vec_id").asc(),
        )
        .limit(4)
        .collect()
    )
    centroids, _ = kmeans_fit(
        emb, k=4, max_iterations=2, initial_centroids=[list(r["v"]) for r in init]
    )
    return assign_clusters(emb, centroids).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "rolling_mean",
    """
    SELECT event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS value_rolling_avg
    FROM events
    """,
)
def q_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 4-row rolling mean of each user's event values
    (operators.windows.rolling_agg) — the pandas rolling surface."""
    from epic_pandas_spark.operators.windows import rolling_agg

    ev = load_table(spark, sf_dir, "events")
    out = rolling_agg(
        ev, "value", order_by=["ts", "event_id"], window=4,
        partition_by=["user_id"], agg="avg", out_col="value_rolling_avg",
    )
    return out.select("event_id", F.round("value_rolling_avg", 6).alias("value_rolling_avg"))


@register(
    "ffill_values",
    """
    SELECT event_id,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
          FROM events)
    """,
)
def q_ffill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill over deterministically-injected nulls (every 3rd
    event) — operators.windows.ffill."""
    from epic_pandas_spark.operators.windows import ffill

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    out = ffill(ev, "v", order_by=["ts", "event_id"], partition_by=["user_id"], out_col="v_filled")
    return out.select("event_id", F.round("v_filled", 6).alias("v_filled"))


@register(
    "intersect_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT on key sets (§2.7, index.intersection at utils.py:338):
    nations having both customers and suppliers."""
    from epic_pandas_spark.operators import intersect_keys

    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return intersect_keys(cust, supp, key="nationkey")


@register(
    "grouped_demean",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity - AVG(l_quantity) OVER (PARTITION BY l_returnflag, l_linestatus), 6)
               AS qty_demeaned
    FROM lineitem
    """,
)
def q_grouped_demean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby().apply(fn) through the applyInPandas escape hatch
    (parallel.grouped_papply), oracle-checked: per-(returnflag, linestatus)
    demeaning done by a pandas function per group must equal the SQL window
    formulation — proving the Python-UDF path is value-faithful, not just
    runnable.

    The grouping key is bounded-cardinality (6 flag/status combos) so the
    bench measures Arrow batch transfer + pandas kernel cost, not the
    per-tiny-group scheduling worst case (which is an anti-pattern: a window
    computes the same answer ~300x faster — see `grouped_transform`)."""
    import pandas as pd

    from epic_pandas_spark.parallel import grouped_papply

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber", "l_quantity"
    )

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["qty_demeaned"] = pdf["l_quantity"] - pdf["l_quantity"].mean()
        return pdf.drop(columns=["l_returnflag", "l_linestatus", "l_quantity"])

    out = grouped_papply(
        li, ["l_returnflag", "l_linestatus"], demean,
        "l_orderkey long, l_linenumber int, qty_demeaned double",
    )
    return out.select("l_orderkey", "l_linenumber", F.round("qty_demeaned", 6).alias("qty_demeaned"))


# ---------------------------------------------------------------------------
# corpus-curation tier (extensions/curation.py): decontamination, Gopher
# repetition rules, mixture resampling, global shuffle, PII scrub
# ---------------------------------------------------------------------------

@register(
    "decontamination",
    """
    WITH ws AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, greatest(len(w)-7, 0)),
                       i -> array_to_string(w[i:i+7], ' '))) AS sh
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
            FROM documents)
    ),
    tr AS (SELECT doc_id, unnest(sh) AS g FROM ws),
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM ws
           WHERE doc_id % 25 = 0 AND doc_id < 12500)
    SELECT t.doc_id, CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_eval_hits
    FROM tr t JOIN ev ON t.g = ev.g
    GROUP BY t.doc_id
    """,
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C recipe, word-8-grams
    here): the eval set is every 25th document — simulating benchmark
    text leaked into the corpus — and every training doc sharing >=1
    distinct 8-gram with it is reported with its overlap count. The eval
    gram-hash table is broadcast; the corpus is never shuffled. The
    doc_id < 12500 bound pins the eval set to a FIXED size once the
    corpus outgrows it (a real benchmark suite does not grow with the
    training corpus; without the bound the broadcast table scales with
    the data and the probe cost drifts superlinear). No-op at the
    oracle/bench sfs ≤ 0.1."""
    from epic_pandas_spark.extensions.curation import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = docs.filter((F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 12500))
    out = decontaminate(docs, eval_df, "text", "doc_id", n=8, min_hits=1)
    return out.filter(F.col("contaminated")).select("doc_id", "n_eval_hits")


@register(
    "gopher_repetition",
    """
    WITH docs_w AS (
      SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    g1 AS (SELECT doc_id, 1 AS n, unnest(w) AS g FROM docs_w),
    g2 AS (SELECT doc_id, 2 AS n,
                  unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                                        i -> w[i] || ' ' || w[i+1])) AS g
           FROM docs_w),
    g3 AS (SELECT doc_id, 3 AS n,
                  unnest(list_transform(generate_series(1, greatest(len(w)-2, 0)),
                                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM docs_w),
    allg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
    cnts AS (SELECT doc_id, n, g, COUNT(*) AS cnt, length(g) AS chars
             FROM allg GROUP BY doc_id, n, g),
    pern AS (SELECT doc_id, n, SUM(cnt * chars) AS total, MAX(cnt * chars) AS top,
                    SUM(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS dup
             FROM cnts GROUP BY doc_id, n),
    piv AS (SELECT doc_id,
      ROUND(MAX(CASE WHEN n = 1 THEN top END)::DOUBLE / NULLIF(MAX(CASE WHEN n = 1 THEN total END), 0), 6) AS top1_frac,
      ROUND(MAX(CASE WHEN n = 2 THEN top END)::DOUBLE / NULLIF(MAX(CASE WHEN n = 2 THEN total END), 0), 6) AS top2_frac,
      ROUND(MAX(CASE WHEN n = 3 THEN dup END)::DOUBLE / NULLIF(MAX(CASE WHEN n = 3 THEN total END), 0), 6) AS dup3_frac
      FROM pern GROUP BY doc_id)
    SELECT doc_id, top1_frac, top2_frac, dup3_frac,
           (top1_frac <= 0.20 AND top2_frac <= 0.18 AND dup3_frac <= 0.60) AS keep
    FROM piv
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate per document: fraction of word
    characters in the heaviest 1-gram / 2-gram and in duplicated 3-grams,
    plus the keep verdict at Gopher-band thresholds. One tagged gram
    stream, two keyed aggregations, gram text hashed before the shuffle."""
    from epic_pandas_spark.extensions.curation import repetition_filter

    docs = load_table(spark, sf_dir, "documents")
    out = repetition_filter(docs, "text", "doc_id")
    return out.select("doc_id", "top1_frac", "top2_frac", "dup3_frac", "keep")


@register(
    "mixture_resample",
    """
    WITH dist(lang, p) AS (VALUES ('de', 0.15), ('en', 0.40), ('es', 0.15), ('fr', 0.15), ('zh', 0.15)),
    alloc AS (
      SELECT lang,
             CAST(ROUND(SUM(p) OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) * 300, 0)
               - COALESCE(ROUND(SUM(p) OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) * 300, 0), 0)
             AS BIGINT) AS n_sampled
      FROM dist
    )
    SELECT lang, n_sampled FROM alloc
    """,
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling to target language proportions: the
    largest-remainder allocation is deterministic, so per-domain sampled
    counts must equal the oracle's windowed cumsum-round-diff allocation
    (same count contract as `stratified_sample_counts`). Upsampling of
    rare domains is exercised in pytest (hash-dependent draws have no SQL
    twin)."""
    from epic_pandas_spark.extensions.curation import resample_mixture

    docs = load_table(spark, sf_dir, "documents")
    weights = {"de": 0.15, "en": 0.40, "es": 0.15, "fr": 0.15, "zh": 0.15}
    out = resample_mixture(docs, "lang", weights, 300, seed=42)
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "global_shuffle",
    """
    SELECT doc_id, lang, source FROM documents
    """,
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: a range-partitioned sort on
    xxhash64(row, seed). The oracle proves the permutation contract (the
    multiset of rows is untouched — nothing dropped or duplicated); order
    determinism and seed sensitivity are pytest properties, since the hash
    order has no SQL twin."""
    from epic_pandas_spark.extensions.curation import shuffle_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return shuffle_rows(docs, seed=7)


@register(
    "pii_scrub",
    """
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'
             || (doc_id % 256)::VARCHAR || '.7 call +1 415-555-01'
             || lpad((doc_id % 100)::VARCHAR, 2, '0')
             || ' ref 90071234' || (doc_id % 10)::VARCHAR || ' end',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g'),
        '\\+\\d[\\d ().-]{6,}\\d', '<PHONE>', 'g'),
        '\\b\\d{7,}\\b', '<NUM>', 'g') AS scrubbed
    FROM documents
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrubbing as a pure codegen regexp chain. Synthetic
    PII (email, IPv4, phone, long id) is injected deterministically from
    doc_id, then scrubbed; the oracle replays the identical injection and
    RE2-compatible regexes, so every placeholder substitution is
    value-checked."""
    from epic_pandas_spark.extensions.curation import scrub_pii_expr

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 415-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" ref 90071234"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(" end"),
        ).alias("t"),
    )
    return injected.select("doc_id", scrub_pii_expr(F.col("t")).alias("scrubbed"))


@register(
    "dedup_exact_incremental",
    """
    WITH store AS (
      SELECT DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents WHERE doc_id % 2 = 0
    ),
    newb AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 1
    ),
    canon AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM newb GROUP BY 2
    )
    SELECT doc_id FROM canon WHERE t NOT IN (SELECT t FROM store)
    """,
)
def q_dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: the even docs are the existing corpus
    (persisted as an 8-byte-per-doc fingerprint store); the new batch is
    the odd docs plus injected duplicates of BOTH sides (copies of store
    docs under +1M ids, copies of batch docs under +2M ids). Survivors
    must be exactly the batch canonicals whose text the store has never
    seen — the corpus itself is never re-read."""
    from epic_pandas_spark.extensions.dedup import exact_dedup_incremental
    from epic_pandas_spark.functions.text import fingerprint_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint_expr(F.col("text")).alias("fp"))
        .distinct()
    )
    newb = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1000000)
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1).withColumn(
                "doc_id", F.col("doc_id") + F.lit(2000000)
            )
        )
    )
    survivors, _updated = exact_dedup_incremental(
        newb, "text", "doc_id", store=store, reuse=False
    )
    return survivors.select("doc_id")


@register(
    "dedup_minhash_incremental",
    """
    WITH ws AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
            FROM documents)
    ), inv AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM ws WHERE len(sh) > 0
    )
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*)::DOUBLE / (a.n + b.n - COUNT(*)) AS jaccard
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n, b.n
    ) WHERE jaccard >= 0.8 AND (id_a % 2 = 1 OR id_b % 2 = 1)
    """,
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash+LSH near-dup: the even docs' persisted index
    (banded signatures + hashed shingle sets) stands for the corpus; the
    odd docs arrive as a new batch. All verified pairs involving the
    batch — new-vs-new AND new-vs-corpus — must equal the exact all-pairs
    Jaccard answer restricted to odd-involving pairs, while the plan
    never re-pairs the corpus against itself."""
    from epic_pandas_spark.extensions.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_index = minhash_index(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id")
    newb = docs.filter(F.col("doc_id") % 2 == 1)
    pairs, _updated = minhash_lsh_pairs_incremental(
        newb, "text", "doc_id", threshold=0.8, index=corpus_index
    )
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    scored AS (
      SELECT doc_id, token,
             tf * (LN((1 + (SELECT n FROM n)) / (1 + df)) + 1) AS score
      FROM tf JOIN dfreq USING (token)
    ),
    ranked AS (
      SELECT doc_id, token, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
      FROM scored
    )
    SELECT doc_id, token, CAST(rank AS INT) AS rank, ROUND(score, 6) AS score
    FROM ranked WHERE rank <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (functions.text.tfidf_top_terms):
    ranking happens on the unrounded double on both sides (identical
    IEEE ln/mul inputs), rounding only at output, so the deterministic
    (score desc, token asc) tie-break agrees exactly with the oracle."""
    from epic_pandas_spark.functions.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "text", "doc_id", k=3)
    return out.select("doc_id", "token", "rank", F.round("score", 6).alias("score"))


@register(
    "blocklist_filter",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents WHERE source NOT IN ('src3', 'src7', 'src11')
    GROUP BY source
    """,
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering (C4/RefinedWeb drop-by-source): a broadcast
    anti-join against the (tiny) blocklist — the corpus scans once and
    never shuffles for the membership test."""
    from epic_pandas_spark.extensions.curation import filter_by_blocklist

    docs = load_table(spark, sf_dir, "documents")
    bl = spark.createDataFrame([("src3",), ("src7",), ("src11",)], "source string")
    kept = filter_by_blocklist(docs, "source", bl)
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


@register(
    "quality_classifier",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    b AS (
      SELECT doc_id,
             (ascii(substr(token, 1, 1)) * 131 + length(token) * 17) % 64 AS bucket
      FROM tok
    ),
    z AS (
      SELECT doc_id, AVG(((bucket % 11) - 5) / 10.0) AS z FROM b GROUP BY doc_id
    )
    SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score FROM z
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (CCNet/fasttext shape): a linear
    classifier over hashed token features, weight table broadcast to the
    token stream, one per-doc mean + sigmoid. The demo weight table is
    synthesized deterministically from the bucket id (w = ((b % 11) - 5)
    / 10) and the bucket hash is an arithmetic one so the DuckDB oracle
    replays the identical model — the plumbing (hashed features,
    broadcast weights, single keyed agg) is exactly what a trained
    weight table would use."""
    from epic_pandas_spark.extensions.curation import hashed_feature_scores

    docs = load_table(spark, sf_dir, "documents")
    n_buckets = 64
    weights = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        (((F.col("id") % 11) - 5) / 10.0).alias("w"),
    )
    bucket_expr = lambda tok: (
        (F.ascii(F.substring(tok, 1, 1)) * 131 + F.length(tok) * 17) % 64
    )
    out = hashed_feature_scores(
        docs, "text", "doc_id", weights, n_buckets=n_buckets, bucket_expr=bucket_expr
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


@register(
    "dsir_select",
    """
    WITH words AS (
      SELECT doc_id, lang,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_concat(w, list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1]))) AS g
      FROM words
    ),
    b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bucket
      FROM grams
    ),
    sc AS (SELECT bucket, COUNT(*) AS cs FROM b GROUP BY bucket),
    tc AS (SELECT bucket, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY bucket),
    ns AS (SELECT COUNT(*)::DOUBLE AS n FROM b),
    nt AS (SELECT COUNT(*)::DOUBLE AS n FROM b WHERE lang = 'en'),
    ratio AS (
      SELECT sc.bucket,
             CAST(ROUND((LN((COALESCE(tc.ct, 0) + 1.0) / ((SELECT n FROM nt) + 4096.0))
                       - LN((sc.cs + 1.0) / ((SELECT n FROM ns) + 4096.0))) * 1000000, 0) AS BIGINT) AS r
      FROM sc LEFT JOIN tc USING (bucket)
    ),
    dw AS (
      SELECT b.doc_id, SUM(r.r) AS s
      FROM b JOIN ratio r USING (bucket)
      GROUP BY b.doc_id
    )
    SELECT doc_id, ROUND(s / 1000000.0, 6) AS logw
    FROM dw ORDER BY s DESC, doc_id ASC LIMIT 100
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169,
    extensions.curation.dsir_select): fit hashed unigram+bigram
    bag-of-words models for the target domain (English docs) vs the raw
    corpus, weight every document by the summed log-likelihood ratio,
    keep the top 100. Oracle-exact end to end: the bucket hash is the
    md5-arithmetic one DuckDB replays, and the log-ratio table is
    quantized to integer micro-nats BEFORE the per-doc sum, so the
    ranking key is an exact integer sum — no fp-accumulation-order
    drift on either engine. The production default (xxhash64 buckets,
    mode="gumbel" true importance resampling) rides the identical plan."""
    from epic_pandas_spark.extensions.curation import dsir_select, md5_bucket_expr

    docs = load_table(spark, sf_dir, "documents")
    # target = the English subset of the corpus: the labeled-subset shape,
    # so the flag form fits the ratio table in ONE gram scan (round 11)
    # instead of separate source/target passes — same counts, same table,
    # same selection (oracle unchanged and still hash-matching)
    out = dsir_select(
        docs,
        None,
        "text",
        "doc_id",
        k=100,
        n_buckets=4096,
        alpha=1.0,
        mode="top",
        bucket_expr=md5_bucket_expr(4096),
        target_flag=F.col("lang") == "en",
    )
    return out.select("doc_id", F.round("logw", 6).alias("logw"))


@register(
    "ngram_perplexity",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS w
      FROM documents
    ),
    t2 AS (
      SELECT doc_id, p.v AS v, p.u AS u
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                                         i -> struct_pack(v := w[i], u := w[i-1]))) AS p
            FROM d)
    ),
    tr AS (SELECT v, u FROM t2 WHERE doc_id % 10 = 0 AND doc_id < 50000),
    uni AS (SELECT v, COUNT(*) AS c FROM tr GROUP BY v),
    tot AS (SELECT SUM(c)::DOUBLE AS n, COUNT(*)::DOUBLE AS vs FROM uni),
    bi AS (SELECT u, v, COUNT(*) AS c FROM tr WHERE u IS NOT NULL GROUP BY u, v),
    scored AS (
      SELECT t2.doc_id,
             CASE WHEN t2.u IS NULL
                    THEN ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
                  WHEN b.c IS NOT NULL
                    THEN ln(b.c::DOUBLE / cu.c)
                  ELSE ln(0.4) + ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
             END AS logp
      FROM t2
      CROSS JOIN tot
      LEFT JOIN uni cv ON t2.v = cv.v
      LEFT JOIN uni cu ON t2.u = cu.v
      LEFT JOIN bi b ON t2.u = b.u AND t2.v = b.v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(logp), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering signal (functions.ngram_lm): train
    a bigram Stupid-Backoff LM (Brants et al. 2007) on a FIXED reference
    slice (every 10th doc, capped at doc_id < 50000 — the CCNet shape: a
    Wikipedia-like reference corpus that does NOT grow with the scored
    data), then score every document's per-token average log-prob. Count
    tables broadcast because the cap bounds them; the scored corpus never
    shuffles its text — only the (v, u) token stream moves through three
    broadcast-hash joins in one codegen stage. The oracle compares
    n_tokens + avg_logprob (6dp); `perplexity = exp(-avg)` is an API
    output but amplifies fp-order drift ~|ppl|×, so it stays out of the
    hash (same drift discipline as the money-DECIMAL convention above)."""
    from epic_pandas_spark.functions.ngram_lm import ngram_lm_score, ngram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 50000))
    model = ngram_lm_train(train, "text", order=2)
    out = ngram_lm_score(docs, "text", "doc_id", model, strategy="broadcast")
    return out.select("doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob"))


@register(
    "ngram_perplexity_o3",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS w
      FROM documents
    ),
    t3 AS (
      SELECT doc_id, p.v AS v, p.u1 AS u1, p.u2 AS u2
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                          i -> struct_pack(v := w[i],
                                           u1 := w[i-1],
                                           u2 := CASE WHEN i >= 3 THEN w[i-2] END))) AS p
            FROM d)
    ),
    tr AS (SELECT v, u1, u2 FROM t3 WHERE doc_id % 10 = 0 AND doc_id < 50000),
    uni AS (SELECT v, COUNT(*) AS c FROM tr GROUP BY v),
    tot AS (SELECT SUM(c)::DOUBLE AS n, COUNT(*)::DOUBLE AS vs FROM uni),
    bi AS (SELECT u1, v, COUNT(*) AS c FROM tr WHERE u1 IS NOT NULL GROUP BY u1, v),
    tri AS (SELECT u2, u1, v, COUNT(*) AS c FROM tr WHERE u2 IS NOT NULL GROUP BY u2, u1, v),
    scored AS (
      SELECT t3.doc_id,
             CASE WHEN t3.u2 IS NOT NULL AND g3.c IS NOT NULL
                    THEN ln(g3.c::DOUBLE / bctx.c)
                  WHEN t3.u1 IS NOT NULL AND g2.c IS NOT NULL
                    THEN (CASE WHEN t3.u2 IS NOT NULL THEN ln(0.4) ELSE 0.0 END)
                         + ln(g2.c::DOUBLE / cu.c)
                  ELSE (CASE WHEN t3.u2 IS NOT NULL THEN 2.0
                             WHEN t3.u1 IS NOT NULL THEN 1.0 ELSE 0.0 END) * ln(0.4)
                       + ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
             END AS logp
      FROM t3
      CROSS JOIN tot
      LEFT JOIN uni cv ON t3.v = cv.v
      LEFT JOIN uni cu ON t3.u1 = cu.v
      LEFT JOIN bi g2 ON t3.u1 = g2.u1 AND t3.v = g2.v
      LEFT JOIN bi bctx ON t3.u2 = bctx.u1 AND t3.u1 = bctx.v
      LEFT JOIN tri g3 ON t3.u2 = g3.u2 AND t3.u1 = g3.u1 AND t3.v = g3.v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(logp), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_ngram_perplexity_o3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Stupid-Backoff perplexity (functions.ngram_lm at
    order=3) — the same CCNet recipe as `ngram_perplexity` but with the
    higher-order chain CCNet actually uses (its production model is a
    5-gram; order 3 keeps the oracle SQL tractable while exercising the
    full multi-order machinery: per-order count tables, train-time
    context-count annotation, alpha^(m-j) fall-through, and the
    shorter-available-context start at document heads). Each k-gram
    table carries its context's count from a MODEL-sized train-time
    join, so scoring is exactly one broadcast-hash join per order —
    three probes in one codegen stage; the corpus never shuffles.
    The oracle restates the chain with explicit numerator/denominator
    joins (tractable at sf0.01's vocabulary; the annotated-table form
    is the scale path, not a semantics change)."""
    from epic_pandas_spark.functions.ngram_lm import ngram_lm_score, ngram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 50000))
    model = ngram_lm_train(train, "text", order=3)
    out = ngram_lm_score(docs, "text", "doc_id", model, strategy="broadcast")
    return out.select("doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob"))


@register(
    "ngram_perplexity_o5",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS w
      FROM documents
    ),
    t5 AS (
      SELECT doc_id, p.v AS v, p.u1 AS u1, p.u2 AS u2, p.u3 AS u3,
             p.u4 AS u4, p.m AS m
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                          i -> struct_pack(v := w[i],
                                           u1 := w[i-1],
                                           u2 := CASE WHEN i >= 3 THEN w[i-2] END,
                                           u3 := CASE WHEN i >= 4 THEN w[i-3] END,
                                           u4 := CASE WHEN i >= 5 THEN w[i-4] END,
                                           m := LEAST(i, 5)))) AS p
            FROM d)
    ),
    tr AS (SELECT v, u1, u2, u3, u4 FROM t5 WHERE doc_id % 10 = 0 AND doc_id < 50000),
    uni AS (SELECT v, COUNT(*) AS c FROM tr GROUP BY v),
    tot AS (SELECT SUM(c)::DOUBLE AS n, COUNT(*)::DOUBLE AS vs FROM uni),
    g2t AS (SELECT u1, v, COUNT(*) AS c FROM tr WHERE u1 IS NOT NULL GROUP BY u1, v),
    g3t AS (SELECT u2, u1, v, COUNT(*) AS c FROM tr WHERE u2 IS NOT NULL
            GROUP BY u2, u1, v),
    g4t AS (SELECT u3, u2, u1, v, COUNT(*) AS c FROM tr WHERE u3 IS NOT NULL
            GROUP BY u3, u2, u1, v),
    g5t AS (SELECT u4, u3, u2, u1, v, COUNT(*) AS c FROM tr WHERE u4 IS NOT NULL
            GROUP BY u4, u3, u2, u1, v),
    scored AS (
      SELECT t5.doc_id,
             CASE WHEN t5.u4 IS NOT NULL AND g5.c IS NOT NULL
                    THEN ln(g5.c::DOUBLE / x4.c)
                  WHEN t5.u3 IS NOT NULL AND g4.c IS NOT NULL
                    THEN (t5.m - 4) * ln(0.4) + ln(g4.c::DOUBLE / x3.c)
                  WHEN t5.u2 IS NOT NULL AND g3.c IS NOT NULL
                    THEN (t5.m - 3) * ln(0.4) + ln(g3.c::DOUBLE / x2.c)
                  WHEN t5.u1 IS NOT NULL AND g2.c IS NOT NULL
                    THEN (t5.m - 2) * ln(0.4) + ln(g2.c::DOUBLE / cu.c)
                  ELSE (t5.m - 1) * ln(0.4)
                       + ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
             END AS logp
      FROM t5
      CROSS JOIN tot
      LEFT JOIN uni cv ON t5.v = cv.v
      LEFT JOIN uni cu ON t5.u1 = cu.v
      LEFT JOIN g2t g2 ON t5.u1 = g2.u1 AND t5.v = g2.v
      LEFT JOIN g2t x2 ON t5.u2 = x2.u1 AND t5.u1 = x2.v
      LEFT JOIN g3t g3 ON t5.u2 = g3.u2 AND t5.u1 = g3.u1 AND t5.v = g3.v
      LEFT JOIN g3t x3 ON t5.u3 = x3.u2 AND t5.u2 = x3.u1 AND t5.u1 = x3.v
      LEFT JOIN g4t g4 ON t5.u3 = g4.u3 AND t5.u2 = g4.u2 AND t5.u1 = g4.u1
                      AND t5.v = g4.v
      LEFT JOIN g4t x4 ON t5.u4 = x4.u3 AND t5.u3 = x4.u2 AND t5.u2 = x4.u1
                      AND t5.u1 = x4.v
      LEFT JOIN g5t g5 ON t5.u4 = g5.u4 AND t5.u3 = g5.u3 AND t5.u2 = g5.u2
                      AND t5.u1 = g5.u1 AND t5.v = g5.v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(logp), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q_ngram_perplexity_o5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram Stupid-Backoff perplexity (functions.ngram_lm at order=5)
    — the order CCNet's production recipe actually cites (a 5-gram
    KenLM-style model). Exercises the full backoff chain: five count
    tables, train-time context-count annotation on each, and up to four
    alpha fall-throughs per token (``m = LEAST(position, 5)`` is the
    highest order the position PROVIDES; scoring at order j carries
    alpha^(m-j)). Scoring is exactly ONE broadcast-hash join per order —
    five probes in one codegen stage; the corpus never shuffles. The
    oracle restates the chain with explicit numerator/denominator joins
    (g_k for the gram count, x_{k-1} for its context's count — total
    whenever g_k matched, since a gram's context occurs wherever the
    gram does)."""
    from epic_pandas_spark.functions.ngram_lm import ngram_lm_score, ngram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 50000))
    model = ngram_lm_train(train, "text", order=5)
    out = ngram_lm_score(docs, "text", "doc_id", model, strategy="broadcast")
    return out.select("doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob"))


@register(
    "kmv_corpus_jaccard",
    """
    WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
               FROM documents WHERE text IS NOT NULL),
    ha AS (SELECT DISTINCT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM n),
    hb AS (SELECT DISTINCT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM n
           WHERE doc_id % 2 = 0),
    sa AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    sb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    u AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT 256),
    c AS (SELECT u.h FROM u
          WHERE u.h IN (SELECT h FROM sa) AND u.h IN (SELECT h FROM sb))
    SELECT (SELECT COUNT(*) FROM u)::BIGINT AS k_used,
           (SELECT COUNT(*) FROM c)::BIGINT AS n_common,
           ROUND((SELECT COUNT(*) FROM c)::DOUBLE / (SELECT COUNT(*) FROM u), 6) AS jaccard_est
    """,
)
def q_kmv_corpus_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-pair overlap from BOUNDED sketches (operators.sketches
    kmv_sketch/kmv_jaccard, Beyer et al. SIGMOD'07): estimate the
    Jaccard between the full corpus and its even-doc_id half from two
    256-value bottom-k sketches — the persisted-summary answer to "how
    much of crawl B is already in crawl A" that never joins the corpora
    (each sketch build is one 8-byte-hash shuffle; the estimate runs on
    ≤512 rows). Hashes use the md5-arithmetic form so the DuckDB oracle
    replays the EXACT sketch: same bottom-k integers, same counts, same
    estimate — the sketch itself is hash-compared, not a tolerance
    band. True Jaccard here is |B|/|A| ≈ 0.5 (B ⊆ A); the estimator's
    accuracy band is pytest-witnessed separately."""
    from epic_pandas_spark.operators.sketches import kmv_jaccard, kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text_expr(F.col("text"))
    a = kmv_sketch(docs.filter(F.col("text").isNotNull()), norm, k=256, hash_expr=md5_hash60)
    b = kmv_sketch(
        docs.filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0)),
        norm, k=256, hash_expr=md5_hash60,
    )
    return kmv_jaccard(a, b, 256).select(
        "k_used", "n_common", F.round("jaccard_est", 6).alias("jaccard_est")
    )


@register(
    "kmv_rollup",
    """
    WITH n AS (SELECT lang,
                      CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
               FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
    s AS (SELECT lang, h FROM (
            SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
            FROM (SELECT DISTINCT lang, h FROM n))
          WHERE rn <= 128),
    g AS (SELECT DISTINCT h FROM s ORDER BY h LIMIT 128)
    SELECT h FROM g
    """,
)
def q_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch-store rollup (operators.sketches kmv_sketches ->
    kmv_rollup): build one bottom-128 sketch PER LANGUAGE (the store's
    write path — one sketch table per corpus/shard/day), then roll the
    per-language sketches up to ONE global sketch without touching raw
    data — correct because bottom-k is a semilattice (bottom_k(A∪B) =
    bottom_k(bottom_k(A) ∪ bottom_k(B)); merge-order associativity is
    pytest-witnessed). The md5-arithmetic hash lets DuckDB replay the
    EXACT store: same per-lang bottom-k integers, same rolled-up global
    sketch, hash-compared row for row — a sketch-content oracle, not a
    tolerance band."""
    from epic_pandas_spark.operators.sketches import kmv_rollup, kmv_sketches

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    norm = normalized_text_expr(F.col("text"))
    store = kmv_sketches(docs, ["lang"], norm, k=128, hash_expr=md5_hash60)
    return kmv_rollup(store, [], 128)


@register(
    "kmv_jaccard_matrix",
    """
    WITH n AS (SELECT lang,
                      CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
               FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
    s AS (SELECT lang, h FROM (
            SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
            FROM (SELECT DISTINCT lang, h FROM n))
          WHERE rn <= 128),
    langs AS (SELECT DISTINCT lang FROM s),
    pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
              FROM langs a JOIN langs b ON a.lang < b.lang),
    u AS (SELECT p.lang_a, p.lang_b, s.h,
                 MAX(CASE WHEN s.lang = p.lang_a THEN 1 ELSE 0 END) AS in_a,
                 MAX(CASE WHEN s.lang = p.lang_b THEN 1 ELSE 0 END) AS in_b
          FROM pairs p JOIN s ON s.lang IN (p.lang_a, p.lang_b)
          GROUP BY p.lang_a, p.lang_b, s.h),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b ORDER BY h) AS rn
          FROM u)
    SELECT lang_a, lang_b,
           CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(SUM(in_a) AS BIGINT) AS n_a,
           CAST(SUM(in_b) AS BIGINT) AS n_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
           ROUND(SUM(in_a * in_b)::DOUBLE / COUNT(*), 6) AS jaccard_est
    FROM r WHERE rn <= 128
    GROUP BY lang_a, lang_b
    """,
)
def q_kmv_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs corpus overlap from the KMV store (operators.sketches.
    kmv_jaccard_matrix): every language pair's Jaccard/containment
    estimated from the persisted per-language bottom-128 sketches — the
    turnkey "how much of each crawl is already in each other crawl"
    matrix, |pairs| × 2k hash rows end to end, raw data untouched after
    the store build. Deterministic estimator on replayable md5-hash
    integers, so the oracle recomputes the identical matrix (languages
    are disjoint text sets here, so true overlaps are ~0 — the ESTIMATOR
    path is what's being hash-checked; its accuracy band on overlapping
    sets is the kmv_jaccard pytest witness)."""
    from epic_pandas_spark.operators.sketches import kmv_jaccard_matrix, kmv_sketches

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    norm = normalized_text_expr(F.col("text"))
    store = kmv_sketches(docs, ["lang"], norm, k=128, hash_expr=md5_hash60)
    out = kmv_jaccard_matrix(store, ["lang"], 128)
    return out.select(
        "lang_a", "lang_b", "k_used", "n_a", "n_b", "n_common",
        F.round("jaccard_est", 6).alias("jaccard_est"),
    )


@register(
    "kmv_set_cardinalities",
    """
    WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
               FROM documents WHERE text IS NOT NULL),
    ha AS (SELECT DISTINCT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM n),
    hb AS (SELECT DISTINCT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM n
           WHERE doc_id % 2 = 0),
    sa AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    sb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    u AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT 256),
    counts AS (SELECT
        (SELECT COUNT(*) FROM u) AS k_used,
        (SELECT COUNT(*) FROM u WHERE h IN (SELECT h FROM sa)) AS n_a,
        (SELECT COUNT(*) FROM u WHERE h IN (SELECT h FROM sb)) AS n_b,
        (SELECT COUNT(*) FROM u
         WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS n_common,
        CASE WHEN (SELECT COUNT(*) FROM u) < 256
             THEN (SELECT COUNT(*) FROM u)::DOUBLE
             ELSE ((SELECT COUNT(*) FROM u) - 1)
                  / GREATEST((SELECT MAX(h) FROM u)::DOUBLE / 1152921504606846976.0,
                             1.0 / 1152921504606846976.0)
        END AS union_est)
    SELECT k_used::BIGINT AS k_used, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           n_common::BIGINT AS n_common,
           ROUND(union_est, 6) AS union_est,
           ROUND(n_common::DOUBLE / k_used * union_est, 6) AS intersection_est,
           ROUND((n_a - n_common)::DOUBLE / k_used * union_est, 6) AS a_minus_b_est,
           ROUND((n_b - n_common)::DOUBLE / k_used * union_est, 6) AS b_minus_a_est
    FROM counts
    """,
)
def q_kmv_set_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation cardinalities between two persisted corpus
    sketches (operators.sketches.kmv_set_cardinalities — the
    theta-sketch-family composition over the KMV store): estimate
    |A∪B|, |A∩B|, |A\\B|, |B\\A| between the full corpus and its
    even-doc_id half from two bottom-256 sketches. This is the
    sketch-store answer to "how many NEW documents does crawl B add" /
    "how many would dedup remove" — corpus-pair set arithmetic from
    <= 2k persisted hash rows, raw data untouched after the store
    build. The md5-arithmetic 60-bit hash lets DuckDB replay the EXACT
    estimate: same bottom-k integers, same k-th-minimum normalization,
    same IEEE-double products, hash-compared to 6 decimals. Truth here:
    B ⊆ A, so intersection ≈ |B|, b_minus_a ≈ 0; the estimator's
    accuracy band on general overlaps is the pytest witness."""
    from epic_pandas_spark.operators.sketches import (
        kmv_set_cardinalities,
        kmv_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text_expr(F.col("text"))
    a = kmv_sketch(docs.filter(F.col("text").isNotNull()), norm, k=256, hash_expr=md5_hash60)
    b = kmv_sketch(
        docs.filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0)),
        norm, k=256, hash_expr=md5_hash60,
    )
    out = kmv_set_cardinalities(a, b, 256, hash_bits=60)
    return out.select(
        "k_used", "n_a", "n_b", "n_common",
        F.round("union_est", 6).alias("union_est"),
        F.round("intersection_est", 6).alias("intersection_est"),
        F.round("a_minus_b_est", 6).alias("a_minus_b_est"),
        F.round("b_minus_a_est", 6).alias("b_minus_a_est"),
    )


@register(
    "kmv_setops_matrix",
    """
    WITH n AS (SELECT lang,
                      CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15) AS BIGINT) AS h
               FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
    s AS (SELECT lang, h FROM (
            SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
            FROM (SELECT DISTINCT lang, h FROM n))
          WHERE rn <= 128),
    langs AS (SELECT DISTINCT lang FROM s),
    pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
              FROM langs a JOIN langs b ON a.lang < b.lang),
    u AS (SELECT p.lang_a, p.lang_b, s.h,
                 MAX(CASE WHEN s.lang = p.lang_a THEN 1 ELSE 0 END) AS in_a,
                 MAX(CASE WHEN s.lang = p.lang_b THEN 1 ELSE 0 END) AS in_b
          FROM pairs p JOIN s ON s.lang IN (p.lang_a, p.lang_b)
          GROUP BY p.lang_a, p.lang_b, s.h),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b ORDER BY h) AS rn
          FROM u),
    a AS (SELECT lang_a, lang_b,
                 COUNT(*) AS k_used, SUM(in_a) AS n_a, SUM(in_b) AS n_b,
                 SUM(in_a * in_b) AS n_common,
                 CASE WHEN COUNT(*) < 128 THEN COUNT(*)::DOUBLE
                      ELSE (COUNT(*) - 1)
                           / GREATEST(MAX(h)::DOUBLE / 1152921504606846976.0,
                                      1.0 / 1152921504606846976.0)
                 END AS union_est
          FROM r WHERE rn <= 128
          GROUP BY lang_a, lang_b)
    SELECT lang_a, lang_b,
           CAST(k_used AS BIGINT) AS k_used, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(union_est, 6) AS union_est,
           ROUND(n_common::DOUBLE / k_used * union_est, 6) AS intersection_est,
           ROUND((n_a - n_common)::DOUBLE / k_used * union_est, 6) AS a_minus_b_est,
           ROUND((n_b - n_common)::DOUBLE / k_used * union_est, 6) AS b_minus_a_est
    FROM a
    """,
)
def q_kmv_setops_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs set-operation cardinalities from the KMV store
    (operators.sketches.kmv_setops_matrix): every language pair's
    |A∪B| / |A∩B| / |A\\B| estimates from the persisted per-language
    bottom-128 sketches — the crawl-merge planning matrix ("how big is
    each pairwise merge, how much is new") bounded by |pairs| x 2k
    hash rows, raw data untouched after the store build. Same
    deterministic md5-arithmetic 60-bit hash as the Jaccard matrix, so
    DuckDB replays the identical union-theta estimates to 6dp
    (languages are disjoint text sets here — intersections ~0, unions
    ~ n_a-plus-n_b-scale; the estimator's accuracy band on overlapping
    sets is the kmv_set_cardinalities pytest witness)."""
    from epic_pandas_spark.operators.sketches import (
        kmv_setops_matrix,
        kmv_sketches,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    norm = normalized_text_expr(F.col("text"))
    store = kmv_sketches(docs, ["lang"], norm, k=128, hash_expr=md5_hash60)
    out = kmv_setops_matrix(store, ["lang"], 128, hash_bits=60)
    return out.select(
        "lang_a", "lang_b", "k_used", "n_a", "n_b", "n_common",
        F.round("union_est", 6).alias("union_est"),
        F.round("intersection_est", 6).alias("intersection_est"),
        F.round("a_minus_b_est", 6).alias("a_minus_b_est"),
        F.round("b_minus_a_est", 6).alias("b_minus_a_est"),
    )


@register(
    "quantile_anchor_rollup",
    """
    WITH d AS (SELECT lang, n_chars::DOUBLE AS v FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    r AS (SELECT lang, v, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM d),
    js AS (SELECT UNNEST(generate_series(1, 64)) AS j),
    a AS (SELECT r.lang, js.j, r.v, r.n
          FROM r JOIN js ON r.rn = CAST(CEIL(js.j * r.n / 64.0) AS BIGINT)),
    c AS (SELECT v, SUM(n / 64.0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(n / 64.0) OVER () AS total
          FROM a),
    p AS (SELECT * FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(prob))
    SELECT p.prob AS prob,
           MIN(CASE WHEN c.cum >= p.prob * c.total - 1e-9 THEN c.v END) AS quantile_est
    FROM c, p GROUP BY p.prob
    """,
)
def q_quantile_anchor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-free mergeable quantile store (operators.sketches.
    quantile_anchor_sketches -> quantile_anchor_rollup): build one
    64-anchor sketch PER LANGUAGE of the document length distribution
    (exact values at 64 evenly spaced ranks + the group count — q rows
    per group however large the group, no a-priori [lo, hi] unlike the
    histogram store), then answer GLOBAL quantiles from the merged
    step function without re-reading data — the per-shard/per-day
    percentile question ("p99 length across all crawls") from
    |groups| x 64 persisted rows. Anchors are a pure function of the
    sorted data and q=64 keeps every mass n/64 exact in binary, so
    DuckDB replays the identical store and the identical merged
    quantiles — hash-compared, not a tolerance band. Rank error of the
    merge is <= N/q (pytest-witnessed against exact quantiles)."""
    from epic_pandas_spark.operators.sketches import (
        quantile_anchor_rollup,
        quantile_anchor_sketches,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    store = quantile_anchor_sketches(docs, ["lang"], "n_chars", q=64)
    return quantile_anchor_rollup(store, [], [0.25, 0.5, 0.75, 0.9, 0.99], q=64)


@register(
    "classifier_metrics",
    """
    WITH d AS (SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    t AS (SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY s),
    c AS (SELECT s, np, nn,
                 COALESCE(SUM(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
          FROM t),
    a AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
                 SUM(np * nn_below) AS u_wins, SUM(np * nn) AS u_ties,
                 CAST(SUM(CASE WHEN s >= 300 THEN np ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN s >= 300 THEN nn ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN s < 300 THEN nn ELSE 0 END) AS BIGINT) AS tn,
                 CAST(SUM(CASE WHEN s < 300 THEN np ELSE 0 END) AS BIGINT) AS fn
          FROM c)
    SELECT n_pos, n_neg,
           ROUND((u_wins + 0.5 * u_ties) / (n_pos * n_neg), 6) AS auc,
           tp, fp, tn, fn,
           ROUND((tp + tn)::DOUBLE / (n_pos + n_neg), 6) AS accuracy,
           ROUND(tp::DOUBLE / (tp + fp), 6) AS precision,
           ROUND(tp::DOUBLE / (tp + fn), 6) AS recall,
           ROUND(2 * (tp::DOUBLE / (tp + fp)) * (tp::DOUBLE / (tp + fn))
                 / ((tp::DOUBLE / (tp + fp)) + (tp::DOUBLE / (tp + fn))), 6) AS f1
    FROM a
    """,
)
def q_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale classifier evaluation
    (operators.stats.binary_classification_metrics): exact tie-corrected
    AUC (Mann-Whitney U — integer products over the distinct-score
    table, zero fp-accumulation drift) plus thresholded confusion
    metrics, for the deterministic scorer "n_chars predicts lang=='en'"
    at threshold 300. One corpus pass builds the distinct-score table;
    the cumulative-negatives prefix runs through global_cumsum (range
    partition + broadcast offsets — never a single-partition window);
    the oracle recomputes the identical formulas with a window prefix
    sum. Both sides keep integer scores, so score-equality grouping is
    exact across engines."""
    from epic_pandas_spark.operators.stats import binary_classification_metrics

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"), (F.col("lang") == "en").cast("int").alias("y")
    )
    out = binary_classification_metrics(docs, "s", "y", threshold=300.0)
    return out.select(
        "n_pos", "n_neg", F.round("auc", 6).alias("auc"),
        "tp", "fp", "tn", "fn",
        F.round("accuracy", 6).alias("accuracy"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


@register(
    "roc_curve",
    """
    WITH d AS (SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    t AS (SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY s),
    c AS (SELECT s, np, nn,
                 COALESCE(SUM(np) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np_below,
                 COALESCE(SUM(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
          FROM t),
    tot AS (SELECT SUM(np) AS p, SUM(nn) AS n FROM t)
    SELECT c.s AS score,
           CAST(tot.p - c.np_below AS BIGINT) AS tp,
           CAST(tot.n - c.nn_below AS BIGINT) AS fp,
           CAST(c.np_below AS BIGINT) AS fn,
           CAST(c.nn_below AS BIGINT) AS tn,
           ROUND((tot.p - c.np_below)::DOUBLE / tot.p, 6) AS tpr,
           ROUND((tot.n - c.nn_below)::DOUBLE / tot.n, 6) AS fpr,
           ROUND((tot.p - c.np_below)::DOUBLE
                 / ((tot.p - c.np_below) + (tot.n - c.nn_below)), 6) AS precision
    FROM c CROSS JOIN tot
    """,
)
def q_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC operating points (operators.stats.roc_curve) for the
    deterministic "n_chars predicts lang=='en'" scorer: one row per
    distinct threshold, every count an exact integer — the oracle
    recomputes the identical cumulative arithmetic with window prefix
    sums, so tpr/fpr/precision hash-match at 6dp. Same
    one-corpus-pass + tiny-table plan as `classifier_metrics`, with two
    global_cumsum prefixes instead of one."""
    from epic_pandas_spark.operators.stats import roc_curve

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"), (F.col("lang") == "en").cast("int").alias("y")
    )
    out = roc_curve(docs, "s", "y")
    return out.select(
        F.col("score"), "tp", "fp", "fn", "tn",
        F.round("tpr", 6).alias("tpr"),
        F.round("fpr", 6).alias("fpr"),
        F.round("precision", 6).alias("precision"),
    )


@register(
    "grouped_auc",
    """
    WITH d AS (SELECT source AS g, n_chars AS s,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
    t AS (SELECT g, s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY g, s),
    c AS (SELECT g, s, np, nn,
                 COALESCE(SUM(nn) OVER (PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
          FROM t),
    a AS (SELECT g, CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
                 SUM(np * nn_below) AS u_wins, SUM(np * nn) AS u_ties
          FROM c GROUP BY g)
    SELECT g AS source, n_pos, n_neg,
           ROUND((u_wins + 0.5 * u_ties) / (n_pos * n_neg), 6) AS auc
    FROM a
    """,
)
def q_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE exact AUC (operators.stats.grouped_auc) of the
    deterministic "n_chars predicts lang=='en'" scorer — the per-domain
    fairness cut of classifier evaluation. The cumulative prefix is a
    window PARTITIONED BY source (each group sorts within its own
    partition — scalable without global_cumsum, which exists for the
    ungrouped case that lacks a partition key). Integer U statistic, so
    the per-group AUCs hash-match the oracle at 6dp."""
    from epic_pandas_spark.operators.stats import grouped_auc

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    ).select(
        "source", F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    out = grouped_auc(docs, "s", "y", "source")
    return out.select("source", "n_pos", "n_neg", F.round("auc", 6).alias("auc"))


@register(
    "grouped_roc",
    """
    WITH d AS (SELECT source AS g, n_chars AS s,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
    t AS (SELECT g, s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY g, s),
    c AS (SELECT g, s, np, nn,
                 COALESCE(SUM(np) OVER (PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np_below,
                 COALESCE(SUM(nn) OVER (PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below,
                 SUM(np) OVER (PARTITION BY g) AS p,
                 SUM(nn) OVER (PARTITION BY g) AS n
          FROM t)
    SELECT g AS source, s AS score,
           CAST(p - np_below AS BIGINT) AS tp,
           CAST(n - nn_below AS BIGINT) AS fp,
           CAST(np_below AS BIGINT) AS fn,
           CAST(nn_below AS BIGINT) AS tn,
           ROUND((p - np_below)::DOUBLE / p, 6) AS tpr,
           ROUND((n - nn_below)::DOUBLE / n, 6) AS fpr,
           ROUND((p - np_below)::DOUBLE
                 / ((p - np_below) + (n - nn_below)), 6) AS precision
    FROM c
    """,
)
def q_grouped_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE exact ROC operating points (operators.stats.
    grouped_roc) of the deterministic "n_chars predicts lang=='en'"
    scorer — per-domain threshold selection, the companion to
    `grouped_auc`'s per-domain fairness grade (a global cutoff misfires
    when score distributions shift across sources). Cumulative class
    counts AND per-group totals run through windows partitioned by
    source over the (source, score) aggregate — one (group) shuffle of
    the distinct-score table, no global funnel, every count an exact
    integer so the ratios hash-match at 6dp."""
    from epic_pandas_spark.operators.stats import grouped_roc

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    ).select(
        "source", F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    out = grouped_roc(docs, "s", "y", "source")
    return out.select(
        "source", F.col("score"), "tp", "fp", "fn", "tn",
        F.round("tpr", 6).alias("tpr"),
        F.round("fpr", 6).alias("fpr"),
        F.round("precision", 6).alias("precision"),
    )


@register(
    "calibration_bins",
    """
    WITH d AS (SELECT n_chars::DOUBLE / (n_chars + 300.0) AS s,
                      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
               FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    t AS (SELECT LEAST(CAST(FLOOR(s * 10.0) AS INT), 9) AS bin,
                 COUNT(*) AS n, SUM(s) AS sum_s, SUM(y) AS sum_y
          FROM d GROUP BY 1)
    SELECT bin, CAST(n AS BIGINT) AS n,
           ROUND(sum_s / n, 6) AS conf,
           ROUND(sum_y / n, 6) AS acc,
           ROUND((sum_y - sum_s) / n, 6) AS gap
    FROM t ORDER BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (operators.stats.calibration_bins) for
    the deterministic probability scorer s = n_chars/(n_chars+300) vs
    the lang=='en' label — AUC grades ranking, THIS grades whether a
    0.8 means 80%, which is what matters when classifier scores become
    downstream weights (soft-dedup, mixture resampling, quality
    cutoffs). ONE corpus pass into a 10-row hash aggregate (map-side
    partials; constant-size shuffle at any corpus size). The score is a
    single IEEE double division computed identically by both engines,
    so bin assignment is exact and the per-bin means hash-match at
    6dp."""
    from epic_pandas_spark.operators.stats import calibration_bins

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / (F.col("n_chars") + F.lit(300.0))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    out = calibration_bins(docs, "s", "y", n_bins=10)
    return out.select(
        "bin", "n",
        F.round("conf", 6).alias("conf"),
        F.round("acc", 6).alias("acc"),
        F.round("gap", 6).alias("gap"),
    )


@register(
    "calibration_summary",
    """
    WITH d AS (SELECT n_chars::DOUBLE / (n_chars + 300.0) AS s,
                      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
               FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    e AS (SELECT s, y, GREATEST(LEAST(s, 1.0 - 1e-15), 1e-15) AS sc,
                 LEAST(CAST(FLOOR(s * 10.0) AS INT), 9) AS bin
          FROM d),
    t AS (SELECT bin, COUNT(*) AS n, SUM(s) AS sum_s, SUM(y) AS sum_y,
                 SUM((s - y) * (s - y)) AS sum_sq,
                 SUM(-(y * LN(sc) + (1.0 - y) * LN(1.0 - sc))) AS sum_ll
          FROM e GROUP BY 1)
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           ROUND(SUM(ABS(sum_y - sum_s)) / SUM(n), 6) AS ece,
           ROUND(MAX(ABS(sum_y - sum_s) / n), 6) AS mce,
           ROUND(SUM(sum_sq) / SUM(n), 6) AS brier,
           ROUND(SUM(sum_ll) / SUM(n), 6) AS log_loss
    FROM t
    """,
)
def q_calibration_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row calibration scorecard (operators.stats.
    calibration_summary): ECE + worst-bin MCE over 10 equal-width bins,
    plus the PROPER scores — Brier (mean squared probability error) and
    log-loss (the loss `train_quality_classifier` optimizes, sklearn's
    eps-clamp convention) — for the same deterministic scorer as
    `calibration_bins`. Everything folds into ONE corpus pass -> 10-row
    bin aggregate -> 1-row reduction; the shuffle is constant-size at
    any corpus scale. The oracle recomputes the identical per-bin sums
    and reductions, hash-matching at 6dp."""
    from epic_pandas_spark.operators.stats import calibration_summary

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / (F.col("n_chars") + F.lit(300.0))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    out = calibration_summary(docs, "s", "y", n_bins=10)
    return out.select(
        "n",
        F.round("ece", 6).alias("ece"),
        F.round("mce", 6).alias("mce"),
        F.round("brier", 6).alias("brier"),
        F.round("log_loss", 6).alias("log_loss"),
    )


@register(
    "average_precision",
    """
    WITH d AS (SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    t AS (SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY s),
    c AS (SELECT s, np, nn,
                 COALESCE(SUM(np) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np_below,
                 COALESCE(SUM(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
          FROM t),
    tot AS (SELECT SUM(np) AS p, SUM(nn) AS n FROM t)
    SELECT CAST(tot.p AS BIGINT) AS n_pos, CAST(tot.n AS BIGINT) AS n_neg,
           ROUND(SUM(CASE WHEN c.np > 0 THEN
             (c.np::DOUBLE / tot.p)
             * ((tot.p - c.np_below)::DOUBLE
                / ((tot.p - c.np_below) + (tot.n - c.nn_below)))
             ELSE 0 END), 6) AS ap
    FROM c CROSS JOIN tot GROUP BY tot.p, tot.n
    """,
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (operators.stats.average_precision) for
    the deterministic "n_chars predicts lang=='en'" scorer — the
    PR-side companion to `classifier_metrics`' ROC-AUC; on imbalanced
    corpora (quality filtering: a few percent positives) ROC saturates
    while AP keeps discriminating. Same one-corpus-pass +
    distinct-score-table plan as the AUC/ROC family; every step term is
    an exact integer ratio (sklearn's step-wise definition, ties as one
    threshold), so the oracle's window-prefix replay hash-matches at
    6dp."""
    from epic_pandas_spark.operators.stats import average_precision

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"), (F.col("lang") == "en").cast("int").alias("y")
    )
    out = average_precision(docs, "s", "y")
    return out.select("n_pos", "n_neg", F.round("ap", 6).alias("ap"))


@register(
    "grouped_average_precision",
    """
    WITH d AS (SELECT source AS g, n_chars AS s,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
    t AS (SELECT g, s, SUM(y) AS np, SUM(1 - y) AS nn FROM d GROUP BY g, s),
    c AS (SELECT g, s, np, nn,
                 COALESCE(SUM(np) OVER (PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np_below,
                 COALESCE(SUM(nn) OVER (PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below,
                 SUM(np) OVER (PARTITION BY g) AS p,
                 SUM(nn) OVER (PARTITION BY g) AS n
          FROM t)
    SELECT g AS source,
           CAST(MAX(p) AS BIGINT) AS n_pos, CAST(MAX(n) AS BIGINT) AS n_neg,
           CASE WHEN MAX(p) > 0 THEN
             ROUND(SUM(CASE WHEN np > 0 THEN
               (np::DOUBLE / p) * ((p - np_below)::DOUBLE
                 / ((p - np_below) + (n - nn_below)))
               ELSE 0 END), 6)
           END AS ap
    FROM c GROUP BY g
    """,
)
def q_grouped_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE exact average precision (operators.stats.
    grouped_average_precision) — the imbalance-robust per-domain
    ranking grade completing the grouped eval matrix (AUC/ROC/
    calibration/AP, global and per-group). Same (source, distinct
    score) aggregate and group-partitioned windows as `grouped_auc`;
    every step term an exact integer ratio, so the per-source APs
    hash-match the oracle's window-prefix replay at 6dp."""
    from epic_pandas_spark.operators.stats import grouped_average_precision

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    ).select(
        "source", F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    out = grouped_average_precision(docs, "s", "y", "source")
    return out.select("source", "n_pos", "n_neg", F.round("ap", 6).alias("ap"))


@register(
    "grouped_ece",
    """
    WITH d AS (SELECT source AS g, n_chars::DOUBLE / (n_chars + 300.0) AS s,
                      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
               FROM documents
               WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
    e AS (SELECT g, s, y, GREATEST(LEAST(s, 1.0 - 1e-15), 1e-15) AS sc,
                 LEAST(CAST(FLOOR(s * 10.0) AS INT), 9) AS bin
          FROM d),
    t AS (SELECT g, bin, COUNT(*) AS n, SUM(s) AS sum_s, SUM(y) AS sum_y,
                 SUM((s - y) * (s - y)) AS sum_sq,
                 SUM(-(y * LN(sc) + (1.0 - y) * LN(1.0 - sc))) AS sum_ll
          FROM e GROUP BY 1, 2)
    SELECT g AS source, CAST(SUM(n) AS BIGINT) AS n,
           ROUND(SUM(ABS(sum_y - sum_s)) / SUM(n), 6) AS ece,
           ROUND(MAX(ABS(sum_y - sum_s) / n), 6) AS mce,
           ROUND(SUM(sum_sq) / SUM(n), 6) AS brier,
           ROUND(SUM(sum_ll) / SUM(n), 6) AS log_loss
    FROM t GROUP BY g
    """,
)
def q_grouped_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE calibration scorecard (operators.stats.
    grouped_calibration_summary) — the per-domain cut that completes
    the grouped eval family (grouped_auc grades per-domain ranking,
    grouped_roc picks per-domain thresholds, this grades whether each
    domain's probabilities mean what they say; a model calibrated in
    aggregate can be badly off on one source, silently skewing that
    source's sampling weights). ONE corpus pass into a (source, bin)
    hash aggregate, then a per-source reduction on the same key prefix
    — no windows, no global funnel, |sources| x 10 rows of state."""
    from epic_pandas_spark.operators.stats import grouped_calibration_summary

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    ).select(
        "source",
        (F.col("n_chars") / (F.col("n_chars") + F.lit(300.0))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    out = grouped_calibration_summary(docs, "s", "y", "source", n_bins=10)
    return out.select(
        "source", "n",
        F.round("ece", 6).alias("ece"),
        F.round("mce", 6).alias("mce"),
        F.round("brier", 6).alias("brier"),
        F.round("log_loss", 6).alias("log_loss"),
    )


@register("platt_recalibration")
def q_platt_recalibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt-scale the miscalibrated deterministic scorer and measure
    the repair (extensions.curation.fit_platt_scaling +
    operators.stats.calibration_summary): one row ``(a, b, ece_raw,
    ece_calibrated)``. The fit is exact Newton on the 2-parameter
    logistic log-loss over the DISTINCT-SCORE compression of the corpus
    (one pass + per-iteration 5-double aggregates; iteration cost
    independent of corpus size). Iterative (Newton steps chain through
    the driver's (a, b)) — not SQL-expressible, so rows-only here; the
    numpy-Newton parity, planted-(a,b) recovery, and ece-improvement
    pytest witnesses carry correctness."""
    from epic_pandas_spark.extensions.curation import (
        fit_platt_scaling,
        platt_calibrated_expr,
    )
    from epic_pandas_spark.operators.stats import calibration_summary

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / (F.col("n_chars") + F.lit(300.0))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    ).localCheckpoint(eager=False)  # fit + two ECE passes share the scan
    a, b = fit_platt_scaling(docs, "s", "y")
    raw = calibration_summary(docs, "s", "y").select(
        F.col("ece").alias("ece_raw")
    )
    cal = calibration_summary(
        docs.select(platt_calibrated_expr(F.col("s"), a, b).alias("s"), "y"),
        "s", "y",
    ).select(F.col("ece").alias("ece_calibrated"))
    return (
        raw.crossJoin(cal)
        .select(
            F.lit(round(a, 6)).alias("a"),
            F.lit(round(b, 6)).alias("b"),
            F.round("ece_raw", 6).alias("ece_raw"),
            F.round("ece_calibrated", 6).alias("ece_calibrated"),
        )
    )


@register("isotonic_recalibration")
def q_isotonic_recalibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric recalibration of the miscalibrated deterministic
    scorer (extensions.curation.fit_isotonic_calibration — distributed
    parallel-PAV via Spark ML) and the measured repair: one row
    ``(n_blocks, ece_raw, ece_calibrated)``. Isotonic is the monotone
    MLE, so unlike the two-parameter Platt fit it can flatten ANY shape
    of reliability curve; the block table is the model. Iterative
    ML fit — not SQL-expressible, rows-only; correctness rides the
    numpy-PAV parity, monotonicity, and ece-improvement pytest
    witnesses."""
    from epic_pandas_spark.extensions.curation import fit_isotonic_calibration
    from epic_pandas_spark.operators.stats import calibration_summary

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / (F.col("n_chars") + F.lit(300.0))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    ).localCheckpoint(eager=False)  # fit + two ECE passes share the scan
    model, model_df = fit_isotonic_calibration(docs, "s", "y")
    n_blocks = model_df.count()
    raw = calibration_summary(docs, "s", "y").select(
        F.col("ece").alias("ece_raw")
    )
    cal_in = model.transform(
        docs.select(F.col("s").alias("__iso_s"), "y")
    ).select(F.col("prediction").alias("s"), "y")
    cal = calibration_summary(cal_in, "s", "y").select(
        F.col("ece").alias("ece_calibrated")
    )
    return (
        raw.crossJoin(cal)
        .select(
            F.lit(int(n_blocks)).alias("n_blocks"),
            F.round("ece_raw", 6).alias("ece_raw"),
            F.round("ece_calibrated", 6).alias("ece_calibrated"),
        )
    )


@register("recalibrate_auto")
def q_recalibrate_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recalibrator MODEL SELECTION (extensions.curation.recalibrate_auto
    — VERDICT r7 item 6): fit BOTH Platt and isotonic on a hash-
    deterministic train split of the miscalibrated scorer, score each by
    holdout log-loss (the proper rule), apply the winner. One row
    ``(method, ll_platt, ll_isotonic, ece_raw, ece_calibrated)``.
    Iterative fits (Newton / PAV) — not SQL-expressible, rows-only;
    correctness rides the staircase-warp-isotonic-wins,
    scarce-labels-platt-wins, and input-validation pytest witnesses."""
    from epic_pandas_spark.extensions.curation import recalibrate_auto
    from epic_pandas_spark.operators.stats import calibration_summary

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        (F.col("n_chars") / (F.col("n_chars") + F.lit(300.0))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    ).localCheckpoint(eager=False)  # split + fits + two ECE passes share it
    choice = recalibrate_auto(docs, "s", "y", "doc_id", holdout_frac=0.25, seed=42)
    raw = calibration_summary(docs, "s", "y").select(F.col("ece").alias("ece_raw"))
    cal_in = choice["transform"](docs).select(F.col("calibrated").alias("s"), "y")
    cal = calibration_summary(cal_in, "s", "y").select(
        F.col("ece").alias("ece_calibrated")
    )
    ll = choice["holdout_logloss"]
    return (
        raw.crossJoin(cal)
        .select(
            F.lit(choice["method"]).alias("method"),
            F.lit(round(ll["platt"], 6)).alias("ll_platt"),
            F.lit(round(ll["isotonic"], 6)).alias("ll_isotonic"),
            F.round("ece_raw", 6).alias("ece_raw"),
            F.round("ece_calibrated", 6).alias("ece_calibrated"),
        )
    )


def _classifier_train_oracle_sql(iters: int, n_buckets: int) -> str:
    """Fixed-iteration full-batch logistic-GD replay for DuckDB: the
    hashed mean-pooled feature table (tokens -> portable md5 bucket ->
    per-doc count / token total, plus the bias pseudo-bucket -1 with
    x = 1) builds once; each GD step is z = sum(x*w) per doc, residual
    (sigmoid(z) - y) / n_docs, gradient per bucket, w -= lr * g —
    unrolled one CTE chain per iteration, exactly train_quality_
    classifier's update with l2 = 0. Output rounds to 4dp (not 6):
    cross-engine summation order drifts the 6-step-compounded weights
    at ~1e-11, far inside 4dp but occasionally at a 6dp boundary."""
    it = ""
    for i in range(1, iters + 1):
        it += f"""
    z{i} AS (
      SELECT f.did, f.y, SUM(f.x * COALESCE(w.w, CAST(0 AS DOUBLE))) AS z
      FROM feat f LEFT JOIN w{i - 1} w USING (bucket) GROUP BY f.did, f.y
    ),
    r{i} AS (
      SELECT did,
             (CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + EXP(-z)) - y)
               / (SELECT nd FROM ndocs) AS r
      FROM z{i}
    ),
    g{i} AS (
      SELECT f.bucket, SUM(f.x * r.r) AS g
      FROM feat f JOIN r{i} r USING (did) GROUP BY f.bucket
    ),
    w{i} AS (
      SELECT g.bucket,
             COALESCE(w.w, CAST(0 AS DOUBLE)) - CAST(5 AS DOUBLE) * g.g AS w
      FROM g{i} g LEFT JOIN w{i - 1} w USING (bucket)
    ),"""
    return f"""
    WITH tok AS (
      SELECT doc_id AS did,
             CAST(lang = 'en' AS INT)::DOUBLE AS y,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                                 ' ')) AS token
      FROM documents WHERE lang IS NOT NULL
    ),
    cnt AS (
      SELECT did, y,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % {n_buckets} AS bucket,
             COUNT(*) AS c
      FROM tok WHERE token <> '' GROUP BY did, y, bucket
    ),
    feat AS (
      SELECT did, y, bucket,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY did) AS x
      FROM cnt
      UNION ALL
      SELECT doc_id AS did, CAST(lang = 'en' AS INT)::DOUBLE AS y,
             CAST(-1 AS BIGINT) AS bucket, CAST(1 AS DOUBLE) AS x
      FROM documents WHERE lang IS NOT NULL
    ),
    -- null-lang docs carry no label: the trainer filters them and divides
    -- by the LABELED count, so the oracle must too (matches regardless of
    -- whether the corpus generator ever emits null lang)
    ndocs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd
              FROM documents WHERE lang IS NOT NULL),
    w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS DOUBLE) AS w
           WHERE FALSE),{it}
    fin AS (SELECT * FROM w{iters})
    SELECT bucket, ROUND(w, 4) AS w FROM fin WHERE bucket <> -1
    """


@register("quality_classifier_train", _classifier_train_oracle_sql(6, 512))
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRAINING of the fastText-style quality classifier
    (extensions.curation.train_quality_classifier) — the wiki-vs-crawl
    model-fitting step that `quality_classifier` then serves. Labels:
    lang == 'en' as the stand-in target domain. Full-batch logistic GD:
    the hashed mean-pooled feature table builds once (pinned doc-id
    partitioning, persisted); each of the 6 iterations is one broadcast
    model join + co-partitioned residual join + ONE bucket-key gradient
    shuffle; weight state (≤512+1 rows) never leaves the cluster. Full
    DuckDB oracle since round 10: the 6 GD steps unroll as chained CTEs
    (_classifier_train_oracle_sql) over the portable md5-arithmetic
    bucket hash; weights round to 4dp because cross-engine fp summation
    order compounds ~1e-11 over 6 steps. The exact numpy-GD parity +
    planted-separation pytest witnesses cover the trainer beyond this
    fixed replay. Output is the deterministic trained weight table
    (bucket set = buckets present in the corpus)."""
    from epic_pandas_spark.extensions.curation import train_quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("label")
    )
    w_df, bias, _n = train_quality_classifier(
        labeled, "text", "label", "doc_id", n_buckets=512, iters=6, lr=5.0,
        # portable bucket hash so the DuckDB oracle replays the identical
        # feature table (default is xxhash64, which DuckDB lacks)
        bucket_expr=lambda tok: F.pmod(md5_hash60(tok), F.lit(512)),
    )
    return w_df.select("bucket", F.round("w", 4).alias("w")).orderBy("bucket")


@register(
    "perplexity_buckets",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS w
      FROM documents
    ),
    t2 AS (
      SELECT doc_id, p.v AS v, p.u AS u
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                                         i -> struct_pack(v := w[i], u := w[i-1]))) AS p
            FROM d)
    ),
    tr AS (SELECT v, u FROM t2 WHERE doc_id % 10 = 0 AND doc_id < 50000),
    uni AS (SELECT v, COUNT(*) AS c FROM tr GROUP BY v),
    tot AS (SELECT SUM(c)::DOUBLE AS n, COUNT(*)::DOUBLE AS vs FROM uni),
    bi AS (SELECT u, v, COUNT(*) AS c FROM tr WHERE u IS NOT NULL GROUP BY u, v),
    scored AS (
      SELECT t2.doc_id,
             AVG(CASE WHEN t2.u IS NULL
                        THEN ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
                      WHEN b.c IS NOT NULL
                        THEN ln(b.c::DOUBLE / cu.c)
                      ELSE ln(0.4) + ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
                 END) AS a
      FROM t2
      CROSS JOIN tot
      LEFT JOIN uni cv ON t2.v = cv.v
      LEFT JOIN uni cu ON t2.u = cu.v
      LEFT JOIN bi b ON t2.u = b.u AND t2.v = b.v
      GROUP BY t2.doc_id
    ),
    sl AS (SELECT s.doc_id, doc.lang, s.a
           FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id),
    th AS (SELECT lang,
                  quantile_cont(a, 0.3333333333333333) AS t0,
                  quantile_cont(a, 0.6666666666666666) AS t1
           FROM sl GROUP BY lang)
    SELECT sl.doc_id, sl.lang,
           CASE WHEN sl.a <= th.t0 THEN 'tail'
                WHEN sl.a <= th.t1 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM sl JOIN th ON sl.lang IS NOT DISTINCT FROM th.lang
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet corpus split end to end: score every document with the
    bigram Stupid-Backoff LM (same fixed reference slice as
    `ngram_perplexity`), then label each doc head/middle/tail of ITS OWN
    language's score distribution (per-group tertiles via
    bucket_by_group_quantiles — low avg_logprob = high perplexity =
    tail). The scored (doc_id, avg_logprob, lang) frame — 3 columns per
    doc, tiny next to the text — is localCheckpointed so the LM scoring
    pass runs ONCE and feeds both the threshold aggregate and the bucket
    join. Quantile mode is pinned "exact" here because Catalyst's
    plan-stat estimate of a join-derived frame is selectivity-heuristic
    garbage (measured: 15 PB for 500 rows), which would misroute
    mode="auto"'s crossover — the documented rule: auto ONLY on
    scan-rooted inputs, computed inputs pin exact (oracle scale) or hist
    (the 100 TB path, value-bounded error). Output has no double
    columns, so the hash compare is immune to fp-order drift except for
    measure-zero threshold-boundary ties."""
    from epic_pandas_spark.extensions.curation import bucket_by_group_quantiles
    from epic_pandas_spark.functions.ngram_lm import ngram_lm_score, ngram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 50000))
    model = ngram_lm_train(train, "text", order=2)
    scored = ngram_lm_score(docs, "text", "doc_id", model).select("doc_id", "avg_logprob")
    sl = scored.join(docs.select("doc_id", "lang"), "doc_id").localCheckpoint(eager=False)
    out = bucket_by_group_quantiles(
        sl, "avg_logprob", "lang",
        labels=("tail", "middle", "head"), mode="exact",
    )
    return out.select("doc_id", "lang", "bucket")


@register(
    "semantic_decontamination",
    """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ev AS (SELECT vec_id AS eid, e AS ee FROM c
           WHERE vec_id % 100 = 1 AND vec_id < 2000),
    scored AS (
      SELECT c.vec_id,
             list_sum(list_transform(list_zip(c.e, ev.ee), x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(c.e, x -> x*x)))
                  * sqrt(list_sum(list_transform(ev.ee, x -> x*x)))) AS cos
      FROM c, ev
    )
    SELECT vec_id, ROUND(MAX(cos), 6) AS max_cosine,
           CAST(SUM(CASE WHEN cos >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_matches
    FROM scored GROUP BY vec_id HAVING MAX(cos) >= 0.8
    """,
)
def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: eval vectors (every 100th id + 1,
    simulating benchmark embeddings leaked verbatim) are broadcast; any
    corpus vector at cosine >= 0.8 to one of them is flagged with its max
    cosine and match count. Exact — so the DuckDB oracle replays it
    verbatim (the corpus's only >= 0.8 matches are the leaked vectors
    themselves at cosine 1.0; natural cross-pairs top out at ~0.45).
    The vec_id < 2000 bound pins the eval set to a fixed size once the
    corpus outgrows it — benchmark suites don't scale with the training
    corpus, and without the bound the corpus×eval FLOPs grow
    quadratically in sf. No-op at the oracle/bench sfs ≤ 0.1."""
    from epic_pandas_spark.extensions.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    eval_df = emb.filter((F.col("vec_id") % 100 == 1) & (F.col("vec_id") < 2000))
    out = semantic_decontaminate(emb, eval_df, threshold=0.8)
    return out.select(
        "vec_id", F.round("max_cosine", 6).alias("max_cosine"), "n_eval_matches"
    )


@register(
    "corpus_report",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           ROUND(quantile_cont(n_chars, 0.95), 6) AS p95_chars
    FROM documents GROUP BY lang
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card per language: doc counts, token totals, and
    exact length percentiles in ONE aggregation pass over the corpus —
    the summary a curation run emits before/after each filter stage.
    (The synthetic corpus is single-space separated, so the whitespace
    token count is a plain split on ' ' in both engines.)"""
    from epic_pandas_spark.functions.text import token_count_expr

    docs = load_table(spark, sf_dir, "documents")
    p = F.percentile("n_chars", F.lit([0.5, 0.95]))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_expr(F.col("text"))).alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(p[0], 6).alias("p50_chars"),
        F.round(p[1], 6).alias("p95_chars"),
    )


@register(
    "repeated_passages",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s FROM unioned),
    g AS (
      SELECT doc_id,
             CASE WHEN length(s) >= 50
               THEN list_distinct(list_transform(generate_series(1, length(s) - 49),
                                                 i -> substr(s, i, 50)))
               ELSE [s] END AS gs
      FROM t
    ),
    inv0 AS (SELECT doc_id, unnest(gs) AS g FROM g),
    -- replay the default hot-gram guard (_AUTO_GRAM_FREQ = 10000):
    -- grams in more docs than that are boilerplate the engine drops
    -- before the pair join; inv0 is distinct per (doc, gram), so
    -- COUNT(*) per gram IS doc frequency. A no-op on the generated
    -- corpora (500/5000 docs) — the guard's effect is priced in the
    -- planted-skew trend, its semantics pinned here.
    cold AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 10000),
    inv AS (SELECT inv0.doc_id, inv0.g FROM inv0 JOIN cold USING (g))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim repeated-passage pairs (>= 50 normalized chars shared),
    over the corpus with every 5th doc re-appended as an exact copy —
    the injected copies must surface with their full gram counts, plus
    any natural near-dups that share long runs. The char-gram inverted
    index IS the answer (k-gram sharing == k-substring sharing); no
    verification pass exists to hide recall loss. The operator's
    hot-gram guard (grams in more than _AUTO_GRAM_FREQ docs, the
    single-join-task pair bound, are dropped) always runs, and the
    oracle replays the same doc-frequency cutoff, so the registry pins
    the guarded semantics."""
    from epic_pandas_spark.extensions.dedup import repeated_passage_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    unioned = docs.unionByName(dups)
    return repeated_passage_pairs(unioned, "text", "doc_id", min_len=50).select(
        "id_a", "id_b", F.col("n_shared")
    )

@register(
    "remove_repeated_spans",
    """
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ),
    t AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS txt FROM unioned),
    pos AS (
      SELECT doc_id, unnest(range(1, GREATEST(length(txt) - 49, 1) + 1)) AS p,
             txt, LEAST(50, length(txt)) AS glen
      FROM t
    ),
    pg AS (SELECT doc_id, p, substr(txt, CAST(p AS INT), 50) AS g, glen FROM pos),
    stats AS (SELECT g, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS owner FROM pg GROUP BY g),
    hits AS (
      SELECT pg.doc_id, pg.p, pg.p + pg.glen AS e
      FROM pg JOIN stats USING (g)
      WHERE stats.df >= 2 AND pg.doc_id <> stats.owner
    ),
    isl AS (
      SELECT doc_id, p, e,
             CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS new_isl
      FROM hits
    ),
    isl2 AS (
      SELECT doc_id, p, e,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    spans AS (SELECT doc_id, island, MIN(p) AS s, MAX(e) AS se FROM isl2 GROUP BY doc_id, island),
    heads AS (
      SELECT sp.doc_id,
             COALESCE(LAG(sp.se) OVER (PARTITION BY sp.doc_id ORDER BY sp.s), 1) AS b,
             sp.s AS lim, t.txt AS txt
      FROM spans sp JOIN t USING (doc_id)
    ),
    segs AS (
      SELECT doc_id, b, substr(txt, CAST(b AS INT), CAST(lim - b AS INT)) AS seg FROM heads
      UNION ALL
      SELECT sp.doc_id, MAX(sp.se) AS b,
             substr(MIN(t.txt), CAST(MAX(sp.se) AS INT), CAST(length(MIN(t.txt)) - MAX(sp.se) + 1 AS INT)) AS seg
      FROM spans sp JOIN t USING (doc_id) GROUP BY sp.doc_id
    ),
    rebuilt AS (SELECT doc_id, string_agg(seg, '' ORDER BY b) AS clean FROM segs GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(r.clean, t.txt) AS cleaned,
           CAST(length(t.txt) - length(COALESCE(r.clean, t.txt)) AS BIGINT) AS n_removed_chars
    FROM t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REWRITE (Lee et al. 2107.06499,
    extensions.dedup.remove_repeated_spans): with every 7th doc
    re-appended as a copy, cut from each non-canonical doc every maximal
    >=50-char normalized span that another doc shares verbatim
    (keep_first: the min-id doc per gram keeps its occurrence). The
    oracle rebuilds the cleaned STRINGS relationally (position grams →
    doc-freq+owner → gaps-and-islands merge → segment reassembly), so a
    single off-by-one in any span boundary hash-mismatches — the
    strongest check a rewrite operator can carry. The engine shuffles
    8-byte gram hashes where the oracle uses gram strings; agreement is
    modulo xxhash64 collisions (~2^-64 per gram pair)."""
    from epic_pandas_spark.extensions.dedup import remove_repeated_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    unioned = docs.unionByName(dups)
    return remove_repeated_spans(
        unioned, "text", "doc_id", min_len=50, keep_first=True
    ).select("doc_id", "cleaned", "n_removed_chars")


@register(
    "repeated_passages_winnowed",
    """
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def q_repeated_passages_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint repeated-passage detection (the 100 TB path:
    ~2/(window+1) of the full gram index), on the same injected-copy
    corpus as `repeated_passages`. Output is restricted to the injected
    self-copy pairs (id_b - id_a == 1_000_000) because exactly those are
    GUARANTEED by the winnowing theorem — identical docs share their
    whole fingerprint set — giving a closed-form oracle; natural near-dup
    candidates are best-effort by design and covered by pytest."""
    from epic_pandas_spark.extensions.dedup import repeated_passage_pairs_winnowed

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    unioned = docs.unionByName(dups)
    pairs = repeated_passage_pairs_winnowed(
        unioned, "text", "doc_id", min_len=50, window=8
    )
    return pairs.filter(F.col("id_b") - F.col("id_a") == 1000000).select("id_a", "id_b")

@register(
    "salted_join_revenue",
    """
    SELECT n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))
                          * (CAST(1 AS DECIMAL(30,4)) - CAST(l.l_discount AS DECIMAL(30,4))))
                      AS DOUBLE), 6) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue through operators.skew.salted_join: the
    fact side joins the (replicated) supplier dim on (suppkey, salt), so
    a hot supplier's rows spread over 8 reducers — the manual skew guard
    for when AQE can't see the skew (first shuffle of a stage, or a
    same-keyed downstream agg wants the partitioning). Oracle is the
    plain unsalted join: salting must be invisible in the result."""
    from epic_pandas_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(
        li, sup.withColumnRenamed("s_suppkey", "l_suppkey"), "l_suppkey", n_salts=8
    )
    return (
        joined.join(F.broadcast(nat), joined.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(30,4)")
                    * (F.lit(1).cast("decimal(30,4)") - F.col("l_discount").cast("decimal(30,4)"))
                ).cast("double"),
                6,
            ).alias("revenue")
        )
    )


@register(
    "grouped_quantiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS q95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (F.percentile == DuckDB quantile_cont
    per group): one hash-aggregate keyed on the group column — no global
    sort, no window. The grouped twin of `quantiles`; swap to
    percentile_approx for the mergeable constant-memory form at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.percentile("l_extendedprice", F.lit([0.5, 0.95]))
    return li.groupBy("l_returnflag").agg(
        F.round(p[0], 6).alias("q50"), F.round(p[1], 6).alias("q95")
    )


@register(
    "grouped_quantiles_auto",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS q95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_grouped_quantiles_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-routed grouped quantiles (operators.stats.quantiles with
    by=): exact per-group F.percentile under the plan-stat crossover
    (oracle-comparable at sf0.01), mergeable per-group GK sketch above
    it — bounded executor state per group instead of buffering every
    group value, which is what made the exact twin the worst grower in
    the scale trend."""
    from epic_pandas_spark.operators.stats import quantiles

    li = load_table(spark, sf_dir, "lineitem")
    q = quantiles(
        li, "l_extendedprice", [0.5, 0.95], by=["l_returnflag"], names=["a", "b"]
    )
    return q.select(
        "l_returnflag",
        F.round("a", 6).alias("q50"),
        F.round("b", 6).alias("q95"),
    )


@register(
    "grouped_quantiles_hist",
    """
    WITH data AS (
      SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    stats AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM data),
    hist AS (
      SELECT g, lo, hi,
             LEAST(CAST(10000 AS BIGINT),
                   CAST(FLOOR((v - lo) * 10000.0 / (hi - lo)) AS BIGINT) + 1) AS bin,
             COUNT(*) AS cnt
      FROM data, stats
      GROUP BY g, lo, hi, bin
    ),
    cums AS (
      SELECT g, lo, hi, bin, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY g) AS tot
      FROM hist
    ),
    probed AS (
      SELECT g, lo, hi, bin, cnt, cum,
             1.0 + 0.5  * (CAST(tot AS DOUBLE) - 1.0) AS t50,
             1.0 + 0.95 * (CAST(tot AS DOUBLE) - 1.0) AS t95,
             CAST(cum - cnt AS DOUBLE) AS before,
             lo + CAST(bin - 1 AS DOUBLE) * ((hi - lo) / 10000.0) AS bin_lo,
             (hi - lo) / 10000.0 AS w
      FROM cums
    )
    SELECT g AS l_returnflag,
           ROUND(MIN(CASE WHEN before < t50 AND t50 <= CAST(cum AS DOUBLE)
                 THEN bin_lo + (t50 - before) / CAST(cnt AS DOUBLE) * w END), 6) AS q50,
           ROUND(MIN(CASE WHEN before < t95 AND t95 <= CAST(cum AS DOUBLE)
                 THEN bin_lo + (t95 - before) / CAST(cnt AS DOUBLE) * w END), 6) AS q95
    FROM probed GROUP BY g
    """,
)
def q_grouped_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantiles via the shared-bin histogram sketch
    (operators.stats._hist_quantiles): global min/max broadcast in-plan,
    equal-width bucket assignment inline in the scan, ONE codegen
    (group, bin) HashAggregate — fixed-width long state, no
    ObjectHashAggregate — then cumulative-rank interpolation over the
    tiny histogram. Every arithmetic step is an explicit IEEE-double
    formula, and the oracle evaluates the IDENTICAL expressions in
    DuckDB, so the sketch itself is value-hash-checked bit-for-bit (not
    merely 'close to exact'). This is the 100 TB grouped-quantile path:
    the GK twin's per-group sketch state forces ObjectHashAggregate out
    of whole-stage codegen (measured 76x wall at 1000x rows vs 13x
    ungrouped); this plan keeps the data path entirely in codegen."""
    from epic_pandas_spark.operators.stats import quantiles

    li = load_table(spark, sf_dir, "lineitem")
    q = quantiles(
        li,
        "l_extendedprice",
        [0.5, 0.95],
        by=["l_returnflag"],
        mode="hist",
        accuracy=10000,
        names=["a", "b"],
    )
    return q.select(
        "l_returnflag",
        F.round("a", 6).alias("q50"),
        F.round("b", 6).alias("q95"),
    )


@register("hll_distinct_rollup", None)  # estimate is engine-specific → rows-only
def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL distinct counting (operators.sketches): build one
    user_id sketch per event_type, union the STORED sketches to a global
    estimate — the sketch-store pattern that answers rollup distincts
    without re-reading raw data. Self-witnessing like n_distinct_approx:
    computes the exact global distinct alongside and emits the relative
    error plus `within_bound` (5% — ~3 sigma at lg_k=12), so every run
    verifies the estimate."""
    from epic_pandas_spark.operators.sketches import (
        distinct_sketches,
        rollup_distinct_sketches,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = distinct_sketches(ev, ["event_type"], "user_id", lg_k=12)
    n_groups = sk.agg(F.count(F.lit(1)).alias("n_sketches"))
    glob = rollup_distinct_sketches(sk, [])
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return (
        glob.crossJoin(exact)
        .crossJoin(n_groups)
        .select(
            "n_sketches",
            "exact_distinct",
            "approx_distinct",
            F.round(
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("within_bound"),
        )
    )

@register(
    "zorder_key_events",
    """
    WITH s AS (
      SELECT CAST(MIN(user_id) AS DOUBLE) mnu, CAST(MAX(user_id) AS DOUBLE) mxu,
             CAST(MIN(value) AS DOUBLE) mnv, CAST(MAX(value) AS DOUBLE) mxv
      FROM events
    ),
    sc AS (
      SELECT event_id,
             CAST(LEAST(15, FLOOR((CAST(user_id AS DOUBLE) - mnu) / (mxu - mnu) * 15)) AS BIGINT) AS c0,
             CAST(LEAST(15, FLOOR((CAST(value  AS DOUBLE) - mnv) / (mxv - mnv) * 15)) AS BIGINT) AS c1
      FROM events, s
    )
    SELECT event_id,
           (((c0 >> 0) & 1) << 0) | (((c1 >> 0) & 1) << 1)
         | (((c0 >> 1) & 1) << 2) | (((c1 >> 1) & 1) << 3)
         | (((c0 >> 2) & 1) << 4) | (((c1 >> 2) & 1) << 5)
         | (((c0 >> 3) & 1) << 6) | (((c1 >> 3) & 1) << 7) AS z
    FROM sc
    """,
)
def q_zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key over (user_id, value) — the layout key
    behind operators.layout.write_zordered, oracle-checked bit-for-bit:
    min/max scaling to [0,16) then bit interleaving are plain IEEE
    double and integer bit ops, identical in both engines. The writer
    itself (range partition + within-file sort + min/max pruning) is
    exercised by the file-skipping pytest."""
    from epic_pandas_spark.operators.layout import zorder_key

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return zorder_key(ev, ["user_id", "value"], bits=4, key_col="z").select(
        "event_id", "z"
    )

@register(
    "line_dedup",
    """
    WITH corpus AS (
      SELECT doc_id,
             'COOKIE BANNER' || chr(10) || text || chr(10)
               || 'SECTION ' || CAST(doc_id % 7 AS VARCHAR) || chr(10)
               || 'UNIQUE ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents
    ),
    split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
    lines AS (
      SELECT doc_id, unnest(ls) AS ln, unnest(generate_series(1, len(ls))) AS pos
      FROM split
    ),
    hot AS (
      SELECT trim(ln) AS tl FROM lines WHERE length(trim(ln)) >= 1
      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
    ),
    kept AS (
      SELECT doc_id, pos, ln FROM lines
      WHERE NOT (length(trim(ln)) >= 1 AND trim(ln) IN (SELECT tl FROM hot))
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT c.doc_id, COALESCE(r.text, '') AS text
    FROM corpus c LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (C4/RefinedWeb boilerplate removal,
    extensions.curation.dedup_lines) over documents wrapped with an
    injected cookie banner (every doc), a SECTION line (1/7 of docs
    each) and a per-doc UNIQUE line: both classes of repeated line must
    vanish from every document, unique lines must survive in order."""
    from epic_pandas_spark.extensions.curation import dedup_lines

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("COOKIE BANNER\n"),
            F.col("text"),
            F.lit("\nSECTION "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\nUNIQUE "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return dedup_lines(docs, "text", "doc_id", max_line_freq=1)

@register("random_projection_distortion", None)  # seeded-RNG output → rows-only
def q_random_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection (extensions.similarity.random_projection) of
    the embeddings table to 16 dims, self-witnessing: for every
    consecutive-id vector pair, compare Euclidean distance before and
    after projection. Emits pair count, mean/min/max distance ratio and
    `within_bound` — the projection is useless unless geometry survives,
    so every bench run checks it. All distances are zip_with/aggregate
    expressions; the only Python is the one GEMM pandas UDF."""
    from epic_pandas_spark.extensions.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = random_projection(emb, "embedding", out_dim=16, seed=7)

    def dist(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    l = proj.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("projected").alias("pa"),
    )
    r = proj.select(
        (F.col("vec_id") - 1).alias("ida"),
        F.col("embedding").alias("eb"),
        F.col("projected").alias("pb"),
    )
    pairs = l.join(r, "ida").select(
        dist(F.col("ea"), F.col("eb")).alias("d0"),
        dist(F.col("pa"), F.col("pb")).alias("d1"),
    ).filter(F.col("d0") > 0)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(F.col("d1") / F.col("d0")), 6).alias("mean_ratio"),
        F.round(F.min(F.col("d1") / F.col("d0")), 6).alias("min_ratio"),
        F.round(F.max(F.col("d1") / F.col("d0")), 6).alias("max_ratio"),
        (
            (F.avg(F.col("d1") / F.col("d0")).between(0.85, 1.15))
            & (F.min(F.col("d1") / F.col("d0")) > 0.3)
            & (F.max(F.col("d1") / F.col("d0")) < 2.0)
        ).alias("within_bound"),
    )

@register("pca_project", None)  # eigendecomposition → rows-only; self-witnessing
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (extensions.decomposition) of the embeddings table
    to 8 components — the data-adaptive width reduction beside the seeded
    JL twin above. Self-witnessing in-plan: the sample variance of each
    projected coordinate must equal that component's eigenvalue (that IS
    what PCA means), so every bench run re-checks the decomposition
    against an independent var_samp aggregate — `rel_err` ~ 0 or the
    query is wrong. Fit is one sufficient-stats pass (per-partition BLAS
    Gram partials, in-plan posexplode tree reduction, d^2+d cells
    collected); projection one GEMM pandas-UDF pass; no reference analog
    (the reference has no embedding tier)."""
    from epic_pandas_spark.extensions.decomposition import pca_fit, pca_transform

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    model = pca_fit(emb, "embedding", n_components=8)
    proj = pca_transform(emb, model, "embedding")
    ev = spark.createDataFrame(
        [
            (
                i,
                float(model["explained_variance"][i]),
                float(model["explained_variance_ratio"][i]),
            )
            for i in range(len(model["explained_variance"]))
        ],
        "component int, explained_variance double, ratio double",
    )
    comp_var = (
        proj.select(F.posexplode("pca").alias("component", "val"))
        .groupBy("component")
        .agg(F.var_samp("val").alias("projected_variance"))
    )
    return (
        ev.join(comp_var, "component")
        .select(
            "component",
            F.round("explained_variance", 6).alias("explained_variance"),
            F.round("ratio", 6).alias("ratio"),
            (
                F.abs(F.col("projected_variance") - F.col("explained_variance"))
                / F.col("explained_variance")
                < F.lit(1e-6)
            ).alias("variance_witness"),
        )
        .orderBy("component")
    )

@register(
    "url_canonicalize",
    """
    WITH urls AS (
      SELECT doc_id, source,
             (CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTPS://'
                   ELSE 'http://' END)
             || (CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END)
             || '.Example.COM'
             || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                      WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
             || '/articles/' || CAST(doc_id % 50 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 3 = 0
                      THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
                           || '&utm_campaign=x'
                      WHEN doc_id % 3 = 1
                      THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&fbclid=abc'
                      ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) AS raw
      FROM documents
    ),
    -- the oracle derives the canonical form INDEPENDENTLY from the
    -- controlled construction (RFC 3986 component algebra), not by
    -- re-running the engine's regex pipeline
    canon AS (
      SELECT doc_id,
             lower(source) || '.example.com' AS host,
             'http' || (CASE WHEN doc_id % 3 IN (0, 1) THEN 's' ELSE '' END)
             || '://' || lower(source) || '.example.com'
             || (CASE WHEN doc_id % 5 = 1 THEN ':8080'
                      WHEN doc_id % 5 = 0 AND doc_id % 3 = 2 THEN ':443'
                      ELSE '' END)
             || '/articles/' || CAST(doc_id % 50 AS VARCHAR)
             || (CASE WHEN doc_id % 3 IN (0, 1)
                      THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END)
               AS canonical
      FROM urls
    )
    SELECT host,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT canonical) AS n_urls,
           MIN(canonical) AS first_url
    FROM canon GROUP BY host
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation URL canonicalization (extensions.web) — documents
    wrapped into deterministically messy URLs (mixed-case scheme/host,
    default vs explicit ports, trailing slashes, utm_*/fbclid tracking
    params, fragments), canonicalized with the expression-only
    normalizer, then aggregated per host (URL-level dedup counts, the
    RefinedWeb-style curation key). The DuckDB oracle derives the
    expected canonical strings independently from the construction
    algebra, so every normalization rule is cross-checked, not
    mirrored. Expression-only: zero extra jobs/shuffles beyond the one
    grouped aggregate."""
    from epic_pandas_spark.extensions.web import canonicalize_url_expr, url_host_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 3 == 0, F.lit("https://"))
        .when(d % 3 == 1, F.lit("HTTPS://"))
        .otherwise(F.lit("http://")),
        F.when(d % 4 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(":443")).when(d % 5 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/articles/"),
        (d % 50).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d % 7).cast("string"), F.lit("&utm_campaign=x")),
        )
        .when(d % 3 == 1, F.concat(F.lit("?id="), (d % 7).cast("string"), F.lit("&fbclid=abc")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    urls = docs.select(F.col("doc_id"), raw.alias("raw"))
    return (
        urls.select(
            url_host_expr("raw").alias("host"),
            canonicalize_url_expr("raw").alias("canonical"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("canonical").alias("n_urls"),
            F.min("canonical").alias("first_url"),
        )
    )


@register(
    "mixture_resample_tokens",
    """
    WITH q AS (
      SELECT * FROM (VALUES ('en', 8000), ('de', 4000), ('fr', 4000),
                            ('zh', 2000), ('es', 2000)) AS t(lang, quota)
    ),
    u AS (
      SELECT doc_id, lang, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '42'), 1, 8)
                  AS BIGINT) AS u
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY u, doc_id)
               - n_chars AS before
      FROM u
    )
    SELECT c.lang, COUNT(*) AS n_docs,
           CAST(SUM(c.n_chars) AS BIGINT) AS tokens
    FROM c JOIN q ON c.lang = q.lang
    WHERE c.before < q.quota
    GROUP BY c.lang
    """,
)
def q_mixture_resample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture (extensions.curation.resample_mixture_tokens):
    fill each language's TOKEN quota (40/20/20/10/10% of 20k chars) in
    the portable seeded md5 order — training mixtures are specified in
    tokens, and row-count resampling over-serves verbose domains. The
    oracle replays the EXACT keep set in DuckDB (same md5 rank, same
    ordered cumsum, same keep-while-before<quota rule), so this is a
    full row-replay hash oracle, not a count contract. allow_short:
    a domain below quota keeps everything it has (the filter rule
    already does this; the flag only suppresses the feasibility raise,
    which matters at tiny scale factors)."""
    from epic_pandas_spark.extensions.curation import resample_mixture_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    kept = resample_mixture_tokens(
        docs,
        "lang",
        "n_chars",
        "doc_id",
        weights={"en": 0.4, "de": 0.2, "fr": 0.2, "zh": 0.1, "es": 0.1},
        n_tokens=20_000,
        seed=42,
        allow_short=True,
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("tokens")
    )


@register(
    "ccnet_curation",
    """
    WITH RECURSIVE d0 AS (
      SELECT doc_id, lang, n_chars,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '') AS w
      FROM documents
    ),
    -- stage 1: 5-gram Stupid-Backoff LM (CCNet's published order) on the
    -- fixed reference slice, per-language perplexity tertiles, drop 'tail'
    t5 AS (
      SELECT doc_id, p.v AS v, p.u1 AS u1, p.u2 AS u2, p.u3 AS u3,
             p.u4 AS u4, p.m AS m
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                          i -> struct_pack(v := w[i],
                                           u1 := w[i-1],
                                           u2 := CASE WHEN i >= 3 THEN w[i-2] END,
                                           u3 := CASE WHEN i >= 4 THEN w[i-3] END,
                                           u4 := CASE WHEN i >= 5 THEN w[i-4] END,
                                           m := LEAST(i, 5)))) AS p
            FROM d0)
    ),
    tr AS (SELECT v, u1, u2, u3, u4 FROM t5 WHERE doc_id % 10 = 0 AND doc_id < 50000),
    uni AS (SELECT v, COUNT(*) AS c FROM tr GROUP BY v),
    tot AS (SELECT SUM(c)::DOUBLE AS n, COUNT(*)::DOUBLE AS vs FROM uni),
    g2t AS (SELECT u1, v, COUNT(*) AS c FROM tr WHERE u1 IS NOT NULL GROUP BY u1, v),
    g3t AS (SELECT u2, u1, v, COUNT(*) AS c FROM tr WHERE u2 IS NOT NULL
            GROUP BY u2, u1, v),
    g4t AS (SELECT u3, u2, u1, v, COUNT(*) AS c FROM tr WHERE u3 IS NOT NULL
            GROUP BY u3, u2, u1, v),
    g5t AS (SELECT u4, u3, u2, u1, v, COUNT(*) AS c FROM tr WHERE u4 IS NOT NULL
            GROUP BY u4, u3, u2, u1, v),
    lm AS (
      SELECT t5.doc_id,
             AVG(CASE WHEN t5.u4 IS NOT NULL AND g5.c IS NOT NULL
                        THEN ln(g5.c::DOUBLE / x4.c)
                      WHEN t5.u3 IS NOT NULL AND g4.c IS NOT NULL
                        THEN (t5.m - 4) * ln(0.4) + ln(g4.c::DOUBLE / x3.c)
                      WHEN t5.u2 IS NOT NULL AND g3.c IS NOT NULL
                        THEN (t5.m - 3) * ln(0.4) + ln(g3.c::DOUBLE / x2.c)
                      WHEN t5.u1 IS NOT NULL AND g2.c IS NOT NULL
                        THEN (t5.m - 2) * ln(0.4) + ln(g2.c::DOUBLE / cu.c)
                      ELSE (t5.m - 1) * ln(0.4)
                           + ln((COALESCE(cv.c, 0) + 1) / (tot.n + tot.vs))
                 END) AS a
      FROM t5
      CROSS JOIN tot
      LEFT JOIN uni cv ON t5.v = cv.v
      LEFT JOIN uni cu ON t5.u1 = cu.v
      LEFT JOIN g2t g2 ON t5.u1 = g2.u1 AND t5.v = g2.v
      LEFT JOIN g2t x2 ON t5.u2 = x2.u1 AND t5.u1 = x2.v
      LEFT JOIN g3t g3 ON t5.u2 = g3.u2 AND t5.u1 = g3.u1 AND t5.v = g3.v
      LEFT JOIN g3t x3 ON t5.u3 = x3.u2 AND t5.u2 = x3.u1 AND t5.u1 = x3.v
      LEFT JOIN g4t g4 ON t5.u3 = g4.u3 AND t5.u2 = g4.u2 AND t5.u1 = g4.u1
                      AND t5.v = g4.v
      LEFT JOIN g4t x4 ON t5.u4 = x4.u3 AND t5.u3 = x4.u2 AND t5.u2 = x4.u1
                      AND t5.u1 = x4.v
      LEFT JOIN g5t g5 ON t5.u4 = g5.u4 AND t5.u3 = g5.u3 AND t5.u2 = g5.u2
                      AND t5.u1 = g5.u1 AND t5.v = g5.v
      GROUP BY t5.doc_id
    ),
    sl AS (SELECT lm.doc_id, d0.lang, d0.n_chars, lm.a
           FROM lm JOIN d0 ON lm.doc_id = d0.doc_id),
    th AS (SELECT lang,
                  quantile_cont(a, 0.3333333333333333) AS t0,
                  quantile_cont(a, 0.6666666666666666) AS t1
           FROM sl GROUP BY lang),
    k1 AS (
      SELECT sl.doc_id, sl.lang, sl.n_chars,
             CASE WHEN sl.a <= th.t1 THEN 'middle' ELSE 'head' END AS bucket
      FROM sl JOIN th ON sl.lang IS NOT DISTINCT FROM th.lang
      WHERE sl.a > th.t0
    ),
    -- stage 2: integer-weight hashed linear classifier, keep score>=0.5
    -- (integer weight sums are exact in both engines; min nonzero |z|
    -- is 1/n_tokens, far above libm sigmoid error, so the cut is stable)
    zz AS (
      SELECT doc_id,
             AVG(CAST((ascii(substr(t.token, 1, 1)) * 131
                       + length(t.token) * 17) % 64 % 11 - 5 AS DOUBLE)) AS z
      FROM (SELECT doc_id, unnest(w) AS token FROM d0) t
      GROUP BY doc_id
    ),
    k2 AS (
      SELECT k1.doc_id, k1.lang, k1.n_chars, k1.bucket,
             1.0 / (1.0 + EXP(-zz.z)) AS score
      FROM k1 JOIN zz ON k1.doc_id = zz.doc_id
      WHERE zz.z >= 0
    ),
    -- stage 3: near-dedup (exact Jaccard >= 0.8 over 3-shingles,
    -- transitive closure), keep the highest-score doc per cluster
    ws AS (
      SELECT d0.doc_id, list_distinct(
        list_transform(generate_series(1, greatest(len(d0.w)-2, 0)),
                       i -> d0.w[i] || ' ' || d0.w[i+1] || ' ' || d0.w[i+2])) AS sh
      FROM d0 JOIN k2 ON d0.doc_id = k2.doc_id
    ),
    inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM ws WHERE len(sh) > 0),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*)::DOUBLE / (a.n + b.n - COUNT(*)) AS jaccard
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
      ) WHERE jaccard >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ),
    labels AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
    ranked AS (
      SELECT k2.*,
             CASE WHEN l.cluster IS NULL THEN 1
                  ELSE ROW_NUMBER() OVER (PARTITION BY l.cluster
                                          ORDER BY k2.score DESC, k2.doc_id ASC)
             END AS rn
      FROM k2 LEFT JOIN labels l ON k2.doc_id = l.id
    ),
    k3 AS (SELECT doc_id, lang, n_chars, bucket FROM ranked WHERE rn = 1),
    -- stage 4: token-budget mixture resample (seeded md5 order)
    q AS (
      SELECT * FROM (VALUES ('en', 8000), ('de', 4000), ('fr', 4000),
                            ('zh', 2000), ('es', 2000)) AS t(lang, quota)
    ),
    u AS (
      SELECT k3.*,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '42'), 1, 8)
                  AS BIGINT) AS u
      FROM k3
    ),
    c AS (
      SELECT lang, bucket, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY u, doc_id)
               - n_chars AS before
      FROM u
    )
    SELECT c.lang, c.bucket, COUNT(*) AS n_docs,
           CAST(SUM(c.n_chars) AS BIGINT) AS tokens
    FROM c JOIN q ON c.lang = q.lang
    WHERE c.before < q.quota
    GROUP BY c.lang, c.bucket
    """,
)
def q_ccnet_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet curation recipe END TO END in one plan — the composed
    flagship the per-stage queries anchor individually: (1) 5-gram
    Stupid-Backoff LM perplexity (CCNet's published order — the chain
    `ngram_perplexity_o5` anchors standalone), per-language tertile
    split, drop the 'tail' third (`perplexity_buckets`); (2) hashed linear quality
    classifier, keep score >= 0.5 (`quality_classifier`, with INTEGER
    weights w = bucket%11-5 so the per-doc mean is an exact integer sum
    over one correctly-rounded division — bit-identical across engines,
    making the threshold cut and the keep-best ranking replayable);
    (3) near-dedup at Jaccard >= 0.8 via MinHash-LSH candidates + exact
    verification + connected components (`near_dedup_curation`), keeping
    the HIGHEST-CLASSIFIER-SCORE member per cluster
    (`keep_best_per_cluster` — dedup discards the worse variants, not
    whichever got a larger id); (4) token-budget mixture resample to
    the 40/20/20/10/10 language mix (`mixture_resample_tokens`). Output:
    per (lang, perplexity-bucket) survivor counts and token mass.

    Scale shape: each stage is the bucketed/broadcast form (LM tables
    broadcast, |groups|-row tertile dim, banded LSH join — never
    all-pairs, |domains|-row quota dim); document text feeds only
    tokenize/shingle scans and never shuffles; the only corpus-keyed
    shuffles are the per-doc aggregates, the LSH band join, and the
    per-language resample window. The DuckDB oracle replays all four
    stages exactly (recursive-CTE closure for the dedup graph)."""
    from epic_pandas_spark.extensions.curation import (
        bucket_by_group_quantiles,
        hashed_feature_scores,
        resample_mixture_tokens,
    )
    from epic_pandas_spark.extensions.dedup import (
        bands_for_recall,
        connected_components,
        keep_best_per_cluster,
        minhash_lsh_pairs,
    )
    from epic_pandas_spark.functions.ngram_lm import ngram_lm_score, ngram_lm_train

    docs = load_table(spark, sf_dir, "documents")

    # stage 1: 5-gram LM tertiles per language, drop 'tail'
    train = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 50000))
    model = ngram_lm_train(train, "text", order=5)
    scored = ngram_lm_score(docs, "text", "doc_id", model).select("doc_id", "avg_logprob")
    sl = scored.join(docs.select("doc_id", "lang", "n_chars"), "doc_id").localCheckpoint(
        eager=False
    )
    buckets = bucket_by_group_quantiles(
        sl, "avg_logprob", "lang", labels=("tail", "middle", "head"), mode="exact"
    )
    k1 = buckets.filter(F.col("bucket") != "tail").select(
        "doc_id", "lang", "n_chars", "bucket"
    )

    # stage 2: hashed classifier with integer weights, keep score >= 0.5
    n_buckets = 64
    weights = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") % 11) - 5).cast("double").alias("w"),
    )
    bucket_expr = lambda tok: (  # noqa: E731
        (F.ascii(F.substring(tok, 1, 1)) * 131 + F.length(tok) * 17) % 64
    )
    scores = hashed_feature_scores(
        docs, "text", "doc_id", weights, n_buckets=n_buckets, bucket_expr=bucket_expr
    )
    k2 = (
        k1.join(scores, "doc_id")
        .filter(F.col("score") >= 0.5)
        .join(docs.select("doc_id", "text"), "doc_id")
        .localCheckpoint(eager=False)
    )

    # stage 3: near-dedup keep-best (highest classifier score per cluster)
    pairs = minhash_lsh_pairs(
        k2, "text", "doc_id", threshold=0.8, n_hashes=32,
        bands=bands_for_recall(0.8, 32),
    )
    clusters = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )
    k3 = keep_best_per_cluster(
        k2.select("doc_id", "lang", "n_chars", "bucket", "score"),
        clusters,
        "doc_id",
        [F.col("score").desc()],
    )

    # stage 4: token-budget mixture to the target language mix
    kept = resample_mixture_tokens(
        k3.select("doc_id", "lang", "n_chars", "bucket"),
        "lang",
        "n_chars",
        "doc_id",
        weights={"en": 0.4, "de": 0.2, "fr": 0.2, "zh": 0.1, "es": 0.1},
        n_tokens=20_000,
        seed=42,
        allow_short=True,
    )
    return kept.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("tokens")
    )


@register(
    "group_quantile_filter",
    """
    WITH th AS (
      SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS th
      FROM documents GROUP BY lang
    )
    SELECT d.lang, COUNT(*) AS n_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN th ON d.lang = th.lang
    WHERE CAST(d.n_chars AS DOUBLE) >= th.th
    GROUP BY d.lang
    """,
)
def q_group_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile-threshold selection
    (extensions.curation.filter_by_group_quantile): keep the documents
    at or above their OWN language's 90th-percentile length — the
    per-domain quality-cutoff step of a curation pipeline, where one
    global threshold would let a verbose domain crowd out a terse one.
    The threshold dim is |groups| rows (broadcast join back); auto mode
    is bit-exact at oracle sf and rides the codegen histogram sketch
    above the crossover. Oracle recomputes the per-lang quantile_cont
    threshold and the keep set independently."""
    from epic_pandas_spark.extensions.curation import filter_by_group_quantile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    kept = filter_by_group_quantile(docs, "n_chars", "lang", 0.9)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "psl_registrable_domain",
    """
    -- the oracle derives the registrable domain INDEPENDENTLY from the
    -- construction algebra (PSL rules applied by hand per case), not by
    -- re-running the engine's join pipeline
    WITH keyed AS (
      SELECT CASE doc_id % 4
               WHEN 0 THEN lower(source) || '.example.co.uk'
               WHEN 1 THEN lower(source) || '.shop.com.au'
               WHEN 2 THEN lower(source) || '.example.com'
               ELSE CASE WHEN doc_id % 8 = 3 THEN 'docs.www.ck'
                         ELSE lower(source) || '.web.ck' END
             END AS host,
             CASE doc_id % 4
               WHEN 0 THEN 'example.co.uk'
               WHEN 1 THEN 'shop.com.au'
               WHEN 2 THEN 'example.com'
               ELSE CASE WHEN doc_id % 8 = 3 THEN 'www.ck'
                         ELSE lower(source) || '.web.ck' END
             END AS registrable_domain
      FROM documents
    )
    SELECT registrable_domain, COUNT(*) AS n_docs,
           COUNT(DISTINCT host) AS n_hosts
    FROM keyed GROUP BY registrable_domain
    """,
)
def q_psl_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain caps keyed on the TRUE registrable domain
    (extensions.web.psl_registrable_domain): documents wrapped into
    hosts spanning a multi-label suffix (``co.uk``), a three-label
    suffix (``com.au``), a plain ``.com``, a wildcard rule (``*.ck`` —
    every ``x.web.ck`` host is its OWN registrable domain) and the
    wildcard's exception (``!www.ck``), then grouped by the PSL
    longest-match key. The last-two-labels approximation mis-keys every
    one of the co.uk/com.au/ck cases, which is exactly what this
    operator exists to fix. The oracle applies the PSL rules by hand
    per construction case — fully independent of the engine's
    broadcast-join chain. Plan: k broadcast hash joins of a local
    ≤15k-row dim, zero corpus shuffles before the final aggregate."""
    from epic_pandas_spark.extensions.web import psl_registrable_domain

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, F.concat(F.lower("source"), F.lit(".example.co.uk")))
        .when(d % 4 == 1, F.concat(F.lower("source"), F.lit(".shop.com.au")))
        .when(d % 4 == 2, F.concat(F.lower("source"), F.lit(".example.com")))
        .when(d % 8 == 3, F.lit("docs.www.ck"))
        .otherwise(F.concat(F.lower("source"), F.lit(".web.ck")))
    )
    hosts = docs.select(host.alias("host"))
    return (
        psl_registrable_domain(hosts, "host")
        .groupBy("registrable_domain")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("host").alias("n_hosts"))
    )


@register(
    "bm25_topk",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    b2 AS (SELECT doc_id, w, len(w) AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM b2),
    postings AS (SELECT doc_id, dl, unnest(w) AS term FROM b2),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM postings WHERE term IN ('spark', 'join', 'window')
      GROUP BY 1, 2, 3
    ),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS dfc FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             SUM(ln((s.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1)
                 * t.tf * (1.2 + 1)
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))) AS sc
      FROM tf t JOIN dft d USING (term), stats s
      GROUP BY 1
    )
    SELECT doc_id, ROUND(sc, 6) AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (extensions.retrieval.bm25_topk) for the
    query {spark, join, window} over the documents corpus — postings are
    filtered to query terms before any shuffle, corpus stats and term
    document-frequencies are broadcast, and the top-10 is a TakeOrdered.
    Oracle recomputes the full formula in DuckDB."""
    from epic_pandas_spark.extensions.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, "text", "doc_id", ["spark", "join", "window"], k=10)

@register("dedup_jaccard_prefix", _JACCARD_PAIRS_SQL)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (AllPairs/PPJoin) exact Jaccard pairs — THIRD
    physical plan against the same oracle as dedup_jaccard and
    dedup_minhash_lsh: rarest-first prefixes shrink the candidate join
    to ~(1-τ) of the index with zero recall loss, then exact-set
    verification. The plan of record for exact near-dup at 100 TB (no
    shingle is dropped to bound hot-key joins)."""
    from epic_pandas_spark.extensions.dedup import jaccard_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    out = jaccard_pairs_prefix(docs, "text", "doc_id", threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

@register(
    "sentence_split_udtf",
    """
    WITH sents AS (
      SELECT doc_id,
             unnest(string_split(replace(replace(text, '!', '.'), '?', '.'), '.')) AS raw,
             unnest(generate_series(1, len(string_split(replace(replace(text, '!', '.'), '?', '.'), '.')))) AS pos
      FROM documents WHERE doc_id < 100
    ),
    trimmed AS (
      SELECT doc_id, pos, trim(raw) AS sentence FROM sents
    ),
    numbered AS (
      SELECT doc_id, sentence,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS INT) AS sent_idx
      FROM trimmed WHERE length(sentence) > 0
    )
    SELECT doc_id, sent_idx, sentence FROM numbered
    """,
)
def q_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python-UDTF surface (parallel.sentence_split_udtf), lateral-
    joined against documents: each doc yields (sent_idx, sentence) rows
    from imperative generator code — the 1→N shape explode can't cover in
    general. The DuckDB oracle re-derives the same split relationally.
    NOTE: sent_idx within a doc is order-defined on both sides (input
    order / row_number), so the comparison is exact."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    from epic_pandas_spark.parallel import sentence_split_udtf

    SentenceSplit = sentence_split_udtf()
    spark.udtf.register("sentence_split", SentenceSplit)
    docs.select("doc_id", "text").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM __udtf_docs d, LATERAL sentence_split(d.text) s
        """
    )

@register(
    "token_encoding",
    """
    WITH toks AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ), counted AS (
      SELECT token, COUNT(*) AS count FROM toks WHERE token <> '' GROUP BY token
    ), vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY count DESC, token ASC) - 1 AS INT) AS token_id
      FROM counted QUALIFY token_id < 30
    ), stream AS (
      SELECT doc_id, unnest(ts) AS token, unnest(generate_series(1, len(ts))) AS pos
      FROM (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                           t -> t <> '') AS ts
        FROM documents WHERE doc_id < 50
      )
    )
    SELECT s.doc_id,
           string_agg(CAST(COALESCE(v.token_id, -1) AS VARCHAR), ' ' ORDER BY s.pos) AS ids
    FROM stream s LEFT JOIN vocab v USING (token)
    GROUP BY s.doc_id
    """,
)
def q_token_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-and-encode (functions.text.encode_tokens): corpus-built
    top-30 vocabulary broadcast against the token stream of the first 50
    docs, OOV → -1, order preserved — serialized as a space-joined id
    string so the oracle compares exact sequences."""
    from epic_pandas_spark.functions.text import build_vocab, encode_tokens

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", top_k=30)
    enc = encode_tokens(
        docs.filter(F.col("doc_id") < 50), "text", "doc_id", vocab, unk_id=-1
    )
    return enc.select(
        "doc_id", F.array_join(F.transform("token_ids", lambda t: t.cast("string")), " ").alias("ids")
    )

@register(
    "cap_per_source",
    """
    WITH capped AS (SELECT source, LEAST(COUNT(*), 30) AS n_kept FROM documents GROUP BY source)
    SELECT source, CAST(n_kept AS BIGINT) AS n_kept FROM capped
    """,
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (operators.sampling.cap_per_group, k=30) —
    giant crawl sources must not dominate the mixture. The kept SUBSET is
    hash-random (engine-specific), so the oracle checks the count
    contract per source: min(count, k) rows survive; subset determinism
    is pytest-proven."""
    from epic_pandas_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_group(docs, ["source"], k=30, seed=13)
    return capped.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))

@register(
    "negative_sampling",
    """
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_anchors,
           CAST((SELECT COUNT(*) FROM embeddings) * 4 AS BIGINT) AS n_pairs,
           CAST(0 AS BIGINT) AS n_label_violations,
           CAST(0 AS BIGINT) AS n_self_pairs
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling (operators.sampling.negative_samples,
    k=4) over the embeddings table — contract oracle: every anchor gets
    exactly k negatives (the label distribution here is far from pool-
    saturating), no negative shares the anchor's label, no anchor is its
    own negative. The Spark side recomputes those facts from its actual
    output (self-witnessing), the oracle states the expected contract."""
    from epic_pandas_spark.operators.sampling import negative_samples

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    negs = negative_samples(emb, "vec_id", "label", k=4, pool_size=128, seed=9)
    labeled = negs.join(
        emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")),
        "anchor_id",
    )
    return labeled.agg(
        F.count_distinct("anchor_id").alias("n_anchors"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("a_label") == F.col("neg_label")).cast("long")).alias(
            "n_label_violations"
        ),
        F.sum((F.col("anchor_id") == F.col("neg_id")).cast("long")).alias(
            "n_self_pairs"
        ),
    )


@register(
    "multimodal_decode_headers",
    """
    SELECT doc_id AS id, 'wav' AS format,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 + 1000 * (doc_id % 5) AS INT) AS sample_rate,
           CAST(8 + 8 * (doc_id % 2) AS INT) AS bit_depth,
           TRUE AS ok
    FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS id, 'pgm' AS format,
           36 AS width, 32 AS height, 1 AS channels,
           CAST(NULL AS INT) AS sample_rate, 8 AS bit_depth, TRUE AS ok
    FROM documents
    """,
)
def q_multimodal_decode_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media header decode (extensions.multimodal.decode_media_headers):
    WAV payloads with key-derived fmt-chunk fields and binary-PGM payloads
    with fixed raster dims are generated as genuine container bytes
    (struct-packed), then parsed back by the stdlib header decoder. The
    oracle recomputes every decoded field from the generating arithmetic —
    so a parser that misreads any offset fails the hash compare."""
    from epic_pandas_spark.extensions.multimodal import (
        decode_media_headers,
        synth_pgm_payload_udf,
        synth_wav_payload_udf,
    )

    # CPU-bound per-row synth+decode: spread the 8-byte ids across every
    # core BEFORE the payload column exists (a tiny id-only shuffle — the
    # small id scan would otherwise pin the whole Python stage to its one
    # input split; real payload corpora arrive pre-split across files)
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    wav = docs.withColumn("payload", synth_wav_payload_udf()(F.col("doc_id")))
    pgm = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id")
    ).withColumn("payload", synth_pgm_payload_udf(50)(F.col("doc_id")))
    media = wav.unionByName(pgm)
    return decode_media_headers(media, "doc_id", "payload").select(
        "id", "format", "width", "height", "channels", "sample_rate", "bit_depth", "ok"
    )


@register(
    "multimodal_phash_pairs",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b
      ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
    """,
)
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash near-dup, end to end and REAL at every stage:
    binary-PGM payloads whose pixel gradients encode a per-group (doc_id %
    50) random 64-bit pattern -> decode_pgm (numpy raster decode) ->
    area-mean resize -> dHash -> band-blocked hamming join (shared with
    simhash text dedup). dHash equals the group pattern by construction,
    cross-group hammings are ~Binomial(64,.5) >> 3, so the qualifying
    pairs are exactly the same-group pairs — which is what the SQL oracle
    states. Payload bytes never shuffle; only (id, 8-byte hash) joins."""
    from epic_pandas_spark.extensions.multimodal import (
        phash_neardup_pairs,
        synth_pgm_payload_udf,
    )

    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)  # see decode_headers note
    )
    payloads = docs.withColumn("payload", synth_pgm_payload_udf(50)(F.col("doc_id")))
    pairs = phash_neardup_pairs(
        payloads, id_col="doc_id", payload_col="payload", max_hamming=3, n_bands=4
    )
    return pairs.select("id_a", "id_b")


@register(
    "multimodal_audio_features",
    """
    SELECT doc_id AS id, 8000 AS sample_rate, CAST(8000 AS BIGINT) AS n_samples,
           1.0 AS duration_sec, 0.5 AS rms,
           ROUND(FLOOR(7999 / (10 + doc_id % 13)) / 7999.0, 6) AS zero_cross_rate,
           TRUE AS ok
    FROM documents
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM audio decode end to end: 16-bit WAV payloads carrying a
    one-second amplitude-0.5 square wave at a key-derived period are
    generated as genuine RIFF bytes, then decoded back to samples
    (extensions.multimodal.decode_wav_pcm) and featurized (RMS,
    zero-crossing rate, duration). Every feature has a closed form the
    oracle recomputes: rms = 0.5 exactly, zero crossings =
    floor((n-1)/half_period) sign flips over n-1 boundaries."""
    from epic_pandas_spark.extensions.multimodal import (
        audio_features,
        synth_square_wav_udf,
    )

    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)  # see decode_headers note
    )
    wavs = docs.withColumn("payload", synth_square_wav_udf()(F.col("doc_id")))
    out = audio_features(wavs, "doc_id", "payload")
    return out.select(
        "id", "sample_rate", "n_samples", "duration_sec", "rms",
        F.round("zero_cross_rate", 6).alias("zero_cross_rate"), "ok",
    )


@register(
    "bloom_prefilter_membership",
    """
    SELECT d.doc_id FROM documents d
    WHERE d.text IN (SELECT text FROM documents WHERE doc_id < 200)
    """,
)
def q_bloom_prefilter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact membership (operators.sketches.bloom_*):
    build the filter over a fingerprint store (docs with id < 200),
    prefilter the corpus with the broadcast bit-probe expression, then
    exact semi-join ONLY the might-contain fraction. Bloom has no false
    negatives, so prefilter + exact join is EXACT — which is what the
    plain SQL IN oracle states. The scale win: the semi-join input drops
    from |corpus| to ~|members| + fpp·|corpus| rows."""
    from epic_pandas_spark.operators.sketches import (
        bloom_filter_build,
        bloom_might_contain_expr,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = (
        docs.filter(F.col("doc_id") < 200)
        .select(F.xxhash64("text").alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)  # read twice: build + semi-join
    )
    n = store.count()
    words, m, k = bloom_filter_build(store, "fp", expected_items=n, fpp=0.01)
    cand = docs.withColumn("__fp", F.xxhash64("text")).filter(
        bloom_might_contain_expr(F.col("__fp"), words, m, k)
    )
    return cand.join(
        F.broadcast(store), cand["__fp"] == store["fp"], "left_semi"
    ).select("doc_id")


@register(
    "cms_heavy_hitters",
    """
    SELECT l_partkey AS value, COUNT(*) AS n_occurrences
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(*) >= CEIL(0.0005 * (SELECT COUNT(*) FROM lineitem))
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy-hitters through the lossless Count-Min prefilter
    (operators.sketches.cms_heavy_hitters): one global CMS over the fact
    keys, candidate estimates against the broadcast sketch, exact
    verification count only for keys the sketch could not rule out. CMS
    never undercounts, so the prefilter drops no true heavy hitter — the
    plain GROUP BY ... HAVING oracle holds exactly, like the Bloom
    prefilter's membership oracle and LSH's verified-pairs oracle.

    The threshold is a SHARE (φ = 0.0005 of corpus rows, the streaming
    literature's φ-HH definition), not a fixed absolute: the share form
    keeps the sketch width at 4/φ — a CONSTANT (8192 here) at every
    data size — so the build shuffle is task-bounded at 100 TB, closing
    the round-6 SHUFFLE_AUDIT regime note where a fixed min_count grew
    the width (and the build shuffle) with the data."""
    from epic_pandas_spark.operators.sketches import cms_heavy_hitters

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    return cms_heavy_hitters(li, "l_partkey", min_share=0.0005)


@register(
    "histogram_sketch_median",
    """
    WITH binned AS (
      SELECT l_returnflag, CAST(FLOOR(l_quantity / (51.0/256.0)) AS INT) AS b
      FROM lineitem
    ), counts AS (
      SELECT l_returnflag, b, COUNT(*) AS n FROM binned GROUP BY 1, 2
    ), tot AS (
      SELECT l_returnflag, SUM(n) AS t FROM counts GROUP BY 1
    ), cum AS (
      SELECT c.l_returnflag, c.b,
             SUM(n) OVER (PARTITION BY c.l_returnflag ORDER BY c.b) AS cn, t.t
      FROM counts c JOIN tot t USING (l_returnflag)
    )
    SELECT l_returnflag,
           ROUND(MIN(b) * (51.0/256.0) + (51.0/256.0)/2, 6) AS est_median
    FROM cum WHERE cn >= CEIL(0.5 * t) GROUP BY l_returnflag
    """,
)
def q_histogram_sketch_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch (operators.sketches.histogram_*):
    per-flag equi-width histograms of l_quantity, median read back from
    the sketch. The estimator is DETERMINISTIC (midpoint of the bin
    holding the ceil(qN)-th value), so the oracle recomputes the exact
    same number relationally — a genuine value-hash oracle for a sketch
    operator, not just a bound witness. Exercises build (one (key,bin)
    shuffle) + quantile read (pure array expressions)."""
    from epic_pandas_spark.operators.sketches import (
        histogram_quantile_expr,
        histogram_sketches,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sk = histogram_sketches(li, ["l_returnflag"], "l_quantity", lo=0.0, hi=51.0, n_bins=256)
    est = histogram_quantile_expr("hist", 0.5, 0.0, 51.0)
    return sk.select("l_returnflag", F.round(est, 6).alias("est_median"))


@register(
    "edit_distance_pairs",
    """
    WITH strs AS (
      SELECT doc_id AS id, substr(text, 1, 24) AS s FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS id,
             CASE WHEN doc_id % 2 = 0
                  THEN substr(text, 1, 2) || substr(text, 4, 21)  -- delete 3rd char
                  ELSE substr(text, 1, 24) || 'x'                 -- append
             END AS s
      FROM documents
    )
    SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
    FROM strs a JOIN strs b ON a.id < b.id
    WHERE levenshtein(a.s, b.s) <= 1
    """,
)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-string join within Levenshtein distance 1
    (extensions.dedup.edit_distance_pairs, deletion-neighborhood
    blocking): document title prefixes plus injected 1-edit mutations
    (char deletion / append). The oracle is the brute-force quadratic
    levenshtein join in DuckDB — the Spark side must find the identical
    pair set through the blocked plan."""
    from epic_pandas_spark.extensions.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        F.col("doc_id").alias("id"), F.substring("text", 1, 24).alias("s")
    )
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.substring("text", 1, 2), F.substring("text", 4, 21)),
        ).otherwise(F.concat(F.substring("text", 1, 24), F.lit("x"))).alias("s"),
    )
    strs = base.unionByName(mutated)
    return edit_distance_pairs(strs, "s", "id", max_edits=1)


@register(
    "edit_distance_pairs_2",
    """
    WITH strs AS (
      SELECT doc_id AS id, substr(text, 1, 20) AS s
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS id,
             CASE WHEN doc_id % 3 = 0
                  THEN substr(text, 1, 1) || substr(text, 3, 1) || substr(text, 6, 15)
                  WHEN doc_id % 3 = 1
                  THEN 'q' || substr(text, 1, 20) || 'z'
                  ELSE substr(text, 1, 9) || 'X' || substr(text, 11, 9) || 'Y'
             END AS s
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
    FROM strs a JOIN strs b ON a.id < b.id
    WHERE levenshtein(a.s, b.s) <= 2
    """,
)
def q_edit_distance_pairs_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-string join within Levenshtein distance 2
    (extensions.dedup.edit_distance_pairs max_edits=2 — the SymSpell
    two-deletion neighborhood, closing the round-6 capability gate):
    document title prefixes plus injected <=2-edit mutations (char
    deletions, prepend+append, two substitutions — note the first
    mutation deletes chars 2 and 4..5, i.e. 3 chars, landing some pairs
    at distance 3: the blocked join must EXCLUDE those, so the oracle
    also checks precision at the radius boundary). The oracle is the
    brute-force quadratic levenshtein join in DuckDB — the Spark side
    must find the identical pair set through the hashed 16-byte block
    stream (strings rejoin by id only for verification)."""
    from epic_pandas_spark.extensions.dedup import edit_distance_pairs

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
    strs = base.unionByName(mutated)
    return edit_distance_pairs(strs, "s", "id", max_edits=2)


@register("bpe_tokenize", None)  # BPE is not SQL-expressible; the pytest
# witness replays training through a pure-Python reference and asserts the
# identical merge SEQUENCE (tests/test_bpe.py)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE: train 20 merges on the document corpus (pair
    stats over the distinct-word frequency table — the corpus reduces to
    |vocab| rows before iteration 1), then encode every document and
    report per-doc token counts plus the learned-merge count."""
    from epic_pandas_spark.functions.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # 12 merges: enough iterations to exercise the full train loop shape;
    # training cost is per-iteration-fixed (vocab-bound), so more merges
    # only stretch bench time linearly
    merges = bpe_train(docs, "text", n_merges=12)
    enc = bpe_encode(docs, "text", merges)
    return enc.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


@register("unigram_tokenize", None)  # EM-trained LM: rows-only; self-witnessing
def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer, trained with full
    forward-backward EM on the distinct-word table (functions.unigram;
    Kudo 1804.10959) and applied with Viterbi in one shuffle-free Arrow
    pass. Rows-only (an EM fixed point has no SQL oracle; exact
    three-way parity — pure-Python reference == driver kernel == Spark
    loop, bit-stable via integer micro-count quantization — is pinned in
    pytest). Self-witnessing in-plan: `reconstructs` asserts the token
    concatenation equals the normalized text with whitespace removed —
    any segmentation bug (lattice, tie-break, unknown-char fallback)
    flips it to false and shows in the value hash."""
    from epic_pandas_spark.functions.unigram import unigram_encode, unigram_train

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = unigram_train(docs, "text", vocab_size=150, max_piece_len=5)
    enc = unigram_encode(docs, "text", vocab)
    return enc.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.lit(len(vocab)).alias("vocab_size"),
        (
            F.array_join("tokens", "")
            == F.regexp_replace(F.lower(F.trim("text")), r"\s+", "")
        ).alias("reconstructs"),
    )


@register(
    "video_scene_changes",
    """
    SELECT doc_id AS id, f AS frame_idx,
           (f = 3) AS is_scene_change
    FROM documents, (SELECT unnest([1, 2, 3, 4, 5]) AS f) t
    """,
)
def q_video_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-change detection, end to end and real at every stage
    (extensions.multimodal.scene_changes): 6-frame raw videos — each
    frame a genuine binary-PGM image — cut from pattern g to pattern g+1
    at frame 3; substring frame slicing -> PGM decode -> per-frame dHash
    -> lag-window hamming. Within a scene consecutive hashes are
    identical (hamming 0); at the cut they differ by the cross-group
    margin (>3, the pytest-verified bound) — so the flags are exactly
    'frame_idx == 3', which the oracle states in closed form."""
    from epic_pandas_spark.extensions.multimodal import (
        scene_changes,
        synth_video_payload_udf,
    )

    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)  # see decode_headers note
    )
    vids = docs.withColumn("payload", synth_video_payload_udf()(F.col("doc_id")))
    out = scene_changes(vids, "doc_id", "payload", frame_size=1165, max_hamming=3)
    return out.select("id", "frame_idx", "is_scene_change")


@register(
    "ewma_per_user",
    """
    WITH o AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS r
      FROM events
    )
    SELECT user_id, event_id,
           ROUND(SUM(value * POW(2.0, r)) OVER cum / SUM(POW(2.0, r)) OVER cum, 6) AS ewma
    FROM o
    WINDOW cum AS (PARTITION BY user_id ORDER BY r ROWS UNBOUNDED PRECEDING)
    """,
)
def q_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators.temporal.ewma, scaling
    trick — two cumulative window sums, no Python). alpha = 0.5 makes
    every weight an exact power of two and both engines accumulate in
    the same (ts, event_id) order, so the floating-point results are
    bit-identical — an exact value-hash oracle for a moving-average
    operator."""
    from epic_pandas_spark.operators.temporal import ewma

    ev = load_table(spark, sf_dir, "events")
    out = ewma(ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.5)
    return out.select("user_id", "event_id", F.round("ewma", 6).alias("ewma"))


@register(
    "triangle_counts",
    """
    WITH raw AS (
      SELECT user_id AS s, event_id % 3000 AS d FROM events
    ),
    und AS (
      SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b FROM raw WHERE s <> d
    ),
    deg AS (
      SELECT id, COUNT(*) AS degree FROM (
        SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und
      ) GROUP BY id
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1 JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT id, COUNT(*) AS triangles FROM (
        SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri UNION ALL SELECT z AS id FROM tri
      ) GROUP BY id
    )
    SELECT deg.id, deg.degree, COALESCE(per_node.triangles, 0) AS triangles,
           ROUND(CASE WHEN deg.degree >= 2
                 THEN 2.0 * COALESCE(per_node.triangles, 0) / (deg.degree * (deg.degree - 1))
                 ELSE 0.0 END, 6) AS coeff
    FROM deg LEFT JOIN per_node USING (id)
    """,
)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts + clustering coefficient
    (extensions.graph.triangle_counts) over the user/event interaction
    graph. The engine runs the degree-ORIENTED wedge join (Suri &
    Vassilvitskii: every out-degree capped at O(sqrt(m)), wedge work
    O(m^1.5) under any skew); the oracle counts triangles with the naive
    canonical a<b<c triple join — two different plans, one exact answer,
    so a lost or double-counted triangle anywhere hash-mismatches."""
    from epic_pandas_spark.extensions.graph import triangle_counts

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("src"), (F.col("event_id") % 3000).alias("dst")
    )
    out = triangle_counts(ev)
    return out.select("id", "degree", "triangles", F.round("coeff", 6).alias("coeff"))


def _pagerank_oracle_sql(n_iter: int) -> str:
    """Fixed-iteration PageRank replay for DuckDB: the power iteration
    unrolls to one chained CTE per round (w_t is a pure function of
    w_{t-1}), so 'iterative linear algebra' IS SQL-expressible once the
    round count is pinned. Literals are CAST to DOUBLE so DuckDB's
    decimal-by-default arithmetic matches Spark's double exactly (the
    teleport term is literally 1.0 - 0.85 in binary64, not 0.15)."""
    rounds = "".join(
        f"""
    r{i} AS (
      SELECT n.id, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 + CAST(0.85 AS DOUBLE) * COALESCE(c.recv, CAST(0 AS DOUBLE)) AS rank
      FROM nodes n LEFT JOIN (
        SELECT ew.dst AS id, SUM(r.rank * ew.w) AS recv
        FROM ew JOIN r{i - 1} r ON ew.src = r.id GROUP BY ew.dst
      ) c ON n.id = c.id
    ),"""
        for i in range(1, n_iter + 1)
    )
    return f"""
    WITH raw AS (
      SELECT user_id AS src,
             CAST('0x' || substr(md5(event_type), 1, 15) AS BIGINT) % 1000
               + 10000000 AS dst
      FROM events
    ),
    e0 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM raw UNION ALL SELECT dst AS src, src AS dst FROM raw
      ) WHERE src <> dst
    ),
    nodes AS (SELECT DISTINCT src AS id FROM e0),
    deg AS (SELECT src, COUNT(*) AS d FROM e0 GROUP BY src),
    ew AS (SELECT e0.src, e0.dst, CAST(1 AS DOUBLE) / deg.d AS w
           FROM e0 JOIN deg USING (src)),
    r0 AS (SELECT id, CAST(1 AS DOUBLE) AS rank FROM nodes),{rounds}
    fin AS (SELECT * FROM r{n_iter})
    SELECT COUNT(*) AS n_nodes,
           (ABS(SUM(rank) - COUNT(*)) / COUNT(*) < 1e-9) AS mass_ok,
           CAST(SUM(CASE WHEN rank > CAST(1 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hubs,
           ROUND(MAX(rank), 6) AS max_rank
    FROM fin
    """


@register("pagerank_events", _pagerank_oracle_sql(8))
def q_pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite user↔event-type interaction graph
    (extensions.graph.pagerank, 8 join-agg rounds). Full DuckDB oracle
    since round 10: the 8 power-iteration rounds unroll as chained CTEs
    (see _pagerank_oracle_sql), and the synthetic event-type node ids
    use the portable md5-arithmetic hash so both engines build the
    identical graph. Ranks must sum to the node count (dangling-corrected
    power iteration conserves mass): the query also emits that invariant
    as `mass_ok`, plus the hub count above the uniform rank. Exact numpy
    power-iteration + closed-form star witnesses in tests/test_graph.py
    cover the operator beyond this fixed replay."""
    from epic_pandas_spark.extensions.graph import pagerank

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("src"),
        # event types become synthetic node ids above the user range;
        # md5-arithmetic (not xxhash64) so the DuckDB oracle replays the
        # same node mapping
        (md5_hash60("event_type") % 1000 + 10_000_000).alias("dst"),
    )
    ranks = pagerank(ev, n_iter=8)
    return ranks.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.abs(F.sum("rank") - F.count(F.lit(1))) / F.count(F.lit(1)) < 1e-9).alias("mass_ok"),
        F.sum((F.col("rank") > 1.0).cast("long")).alias("n_hubs"),
        F.round(F.max("rank"), 6).alias("max_rank"),
    )


@register(
    "asof_join_forward",
    """
    WITH marks AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), nxt AS (
      SELECT e.event_id, e.user_id, e.ts,
             (SELECT MIN(m.ts) FROM marks m
              WHERE m.user_id = e.user_id AND m.ts >= e.ts) AS matched_ts
      FROM events e
    )
    SELECT n.event_id, n.user_id, n.ts, m.purchase_value, n.matched_ts
    FROM nxt n LEFT JOIN marks m
      ON m.user_id = n.user_id AND m.ts = n.matched_ts
    """,
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (merge_asof direction='forward'): every event
    picks up the user's NEXT purchase value — the look-ahead window
    composition (first() over a following frame; DuckDB's native ASOF is
    backward-only, so the oracle states the forward match as a
    correlated MIN plus an equi-join back)."""
    from epic_pandas_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    marks = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        left, marks, key="user_id", ts_col="ts",
        value_cols=["purchase_value"], direction="forward",
    )


@register(
    "interval_overlap_join",
    """
    WITH views AS (
      SELECT user_id, event_id AS l_event_id, ts AS l_start,
             ts + INTERVAL 1 HOUR AS l_end
      FROM events WHERE event_type = 'view'
    ), purchases AS (
      SELECT user_id, event_id AS r_event_id, ts AS r_start,
             ts + INTERVAL 30 MINUTE AS r_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.l_event_id, p.r_event_id
    FROM views v JOIN purchases p
      ON v.user_id = p.user_id
     AND v.l_start <= p.r_end AND p.r_start <= v.l_end
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join (operators.temporal.
    interval_overlap_join): view windows (1h) against purchase windows
    (30min) per user, via the bucket-grid equi-join with the
    first-shared-bucket dedup predicate (no distinct shuffle). The
    oracle is the quadratic theta-join in DuckDB — identical pair sets
    prove both the pruning (no lost pairs) and the dedup (no repeats)."""
    from epic_pandas_spark.operators.temporal import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id"), F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id"), F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("end"),
    )
    out = interval_overlap_join(
        views, buys, "start", "end", "start", "end",
        on=["user_id"], bucket_seconds=3600,
    )
    return out.select(
        "user_id",
        F.col("l_event_id").alias("l_event_id"),
        F.col("r_event_id").alias("r_event_id"),
    )


@register(
    "rolling_7d_revenue",
    """
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6)))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 6) AS rev_7d
    FROM events
    """,
)
def q_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user value sum (operators.windows.
    rolling_time_agg): a RANGE frame over epoch microseconds — frame
    width follows event density, not row counts. DECIMAL staging makes
    both engines sum exactly whatever their in-frame accumulation order
    (DuckDB's range windows may use segment trees), then the final
    double conversion rounds identically."""
    from epic_pandas_spark.operators.windows import rolling_time_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "__v", F.col("value").cast("decimal(30,6)")
    )
    out = rolling_time_agg(
        ev, "__v", "ts", 7 * 86400, partition_by=["user_id"], agg="sum",
        out_col="rev_7d",
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("rev_7d").cast("double"), 6).alias("rev_7d")
    )
