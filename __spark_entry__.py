"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All queries live in ``epic_pandas_spark.plans.registry`` — one entry per
implemented operator from SURVEY.md §2, each registered together with its
oracle SQL so the pair can't drift apart.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from epic_pandas_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the four-stage CCNet-style
    curation pipeline — order-5 Stupid-Backoff LM perplexity tertiles →
    quality-classifier scores → MinHash+LSH keep-best dedup → mixture
    resample — the engine's deepest composed plan (SURVEY.md §7.1 step 9;
    every stage broadcast- or bucket-shaped, document text never
    shuffles), cross-joined with a one-row summary of exact-substring
    span removal (winnowing prefilter + gram-keyed window doc-freq) so
    the driver smoke exercises both."""
    fn, _sql = registry.REGISTRY["ccnet_curation"]
    ccnet = fn(spark, "/root/testdata/sf0.001")

    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.dedup import remove_repeated_spans
    from epic_pandas_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    spans = remove_repeated_spans(docs, "text", "doc_id", min_len=50).agg(
        F.count(F.lit(1)).alias("spans_n_docs"),
        F.sum("n_removed_chars").alias("spans_removed_chars"),
    )
    return ccnet.crossJoin(F.broadcast(spans))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
