"""`papply` — chunked parallel apply, reborn as Spark's native execution
model (reference: /root/reference/epic/pandas/parallel.py:15-93).

The reference slices a frame into contiguous chunks, ships each to a
process pool, runs pandas `apply` per chunk, and concats ordered results.
In Spark the partitions ARE the chunks and the scheduler IS the pool
(SURVEY.md §3.3), so these wrappers only adapt signatures:

- `papply`          → mapInPandas   (per-row/batch apply, axis=1)
- `grouped_papply`  → applyInPandas (the groupby().apply escape hatch)
- `papply_series`   → pandas_udf    (vectorized scalar function)

Ordering: the reference guarantees input order of results; Spark output
order is partition-arbitrary. Callers needing order attach a key and sort
— noted as the documented deviation (SURVEY.md §7.3 item 4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def papply(df: DataFrame, func: Callable[[pd.DataFrame], pd.DataFrame], schema) -> DataFrame:
    """Apply a pandas-frame→frame function to every Arrow batch.
    `func` sees a chunk exactly like a reference papply worker did; Spark
    handles slicing (partitions), shipping (Arrow), and reassembly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = func(pdf)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(run, schema=schema)


def grouped_papply(
    df: DataFrame, keys: list[str], func: Callable[[pd.DataFrame], pd.DataFrame], schema
) -> DataFrame:
    """groupby().apply(fn) (utils.py:274; plot.py:218,241): one pandas
    frame per key group. Shuffles once on the keys; skewed groups are the
    caller's watch-out (salt or pre-aggregate)."""
    return df.groupBy(*keys).applyInPandas(func, schema=schema)


def papply_series(func: Callable[[pd.Series], pd.Series], return_type: str):
    """Vectorized scalar transform: wrap a Series→Series function as an
    Arrow-batched pandas_udf (the per-element `apply`/`map` analog)."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(func, returnType=return_type)


def sentence_split_udtf():
    """One-row→many-rows via a real Python UDTF (Spark 3.5+/4 `@udtf`) —
    the general 1→N surface of §2.11, beyond what explode/posexplode
    compositions express (a UDTF can hold state across emitted rows and
    emit a variable number of typed columns). This instance splits text
    into trimmed, non-empty sentences with their ordinal; semantics are
    deliberately SQL-expressible so the registry query carries a full
    DuckDB oracle proving the surface value-faithful.

    Returns the UDTF class; register with
    ``spark.udtf.register("sentence_split", sentence_split_udtf())`` or
    call directly over a lateral join. Arrow-optimized when
    spark.sql.execution.pythonUDTF.arrow.enabled is set."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for raw in text.replace("!", ".").replace("?", ".").split("."):
                s = raw.strip()
                if s:
                    yield idx, s
                    idx += 1

    return SentenceSplit


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow input across the cluster before a CPU-EXPANDING
    stage (shingle explosion, per-row hashing, decode kernels) when the
    scan produced fewer splits than cores — small files and single-row-
    group parquet cap the split count no matter what
    ``files.maxPartitionBytes`` says, pinning the whole downstream
    pipeline to those few cores.

    Metadata-only probe (no job); a NO-OP whenever the input already has
    enough partitions — which is exactly the 100 TB case, where the scan
    supplies thousands of splits and an unconditional repartition would
    add a full-payload shuffle for nothing.

    Pitfall: the optimizer pushes any later DETERMINISTIC filter below
    this exchange, expression and all. ``filter(size(ngrams) > 0)`` after
    the fan-out therefore runs the n-gram expression in the few scan
    tasks, and the projection runs it again after the fan-out. An
    ``explode`` of a projected column does the same: the optimizer infers
    ``size(col) > 0`` from it. Rule: after ``ensure_parallelism``, filter
    or explode only materialized columns — behind a ``localCheckpoint``,
    which is a leaf no filter is pushed through (see the shingle sites in
    ``extensions/dedup.py``)."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def collect_at_most(df: DataFrame, n: int) -> list | None:
    """The driver-tier gate: ``df``'s rows when there are at most ``n``,
    else ``None`` — one bounded ``limit(n + 1)`` job in place of a
    ``count()`` followed by a ``collect()``. Callers pass a
    ``localCheckpoint(eager=False)``-ed frame, so the job that probes the
    size also materializes the input the distributed tier falls back to.
    That checkpoint is not wholly lazy under adaptive execution: the
    ``localCheckpoint`` call itself plans its input and runs every
    shuffle map stage below it; only the final stage waits for this
    gate's job."""
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None
