"""Keyword retrieval scoring over the corpus (extension layer).

BM25 (Robertson/Sparck Jones probabilistic weighting, the Lucene/
Elasticsearch default) complements functions.text.tfidf_top_terms:
score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
with idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).

Plan shape at scale: the term filter lands BEFORE any shuffle (only
query-term postings survive the explode), corpus-level stats (N, avgdl)
are one tiny aggregate broadcast via crossJoin, per-term document
frequencies are a broadcast dim, and the final top-k is a TakeOrdered —
no global sort. The corpus text is read once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from epic_pandas_spark.functions.text import words_expr


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Top-k documents for a bag-of-words query by BM25. Returns
    (id, bm25) with the score rounded to 6dp and ties broken by
    ascending id — fully deterministic output."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    words = words_expr(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), words.alias("__w")).select(
        "id", "__w", F.size("__w").alias("__dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    tf = (
        base.select("id", "__dl", F.explode("__w").alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy("id", "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count_distinct("id").alias("__df"))
    idf = F.log(
        (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
    )
    return (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(F.round(F.sum(idf * norm), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias(id_col), "bm25")
    )
