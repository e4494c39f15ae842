"""Corpus-curation operators for LLM training-data pipelines.

Extension tier beyond the reference surface (epic-pandas has no corpus
layer — SURVEY.md §2 extension scope): benchmark decontamination,
Gopher-style repetition quality metrics, domain-mixture resampling,
deterministic global shuffle, and PII scrubbing. Semantics follow the
published recipes (GPT-3 appendix C: 13-gram decontamination; Gopher
table A1: repetition thresholds; C4: regex cleaning) re-expressed as
lazy Spark plans.

Scale design (100 TB / 1000 executors):
- decontamination broadcasts the EVAL side's n-gram hash set (benchmark
  suites are MBs; the corpus is not) — the corpus is scanned once with a
  map-side hash join and never shuffled; only the rare hit rows shuffle
  for the per-document count.
- repetition metrics shuffle (doc_id, n, gram-hash) tuples — never text —
  through two keyed aggregations; both keys include doc_id so skew is
  bounded by document length, not corpus shape.
- mixture resampling shuffles once on the domain column (window top-k per
  stratum); upsampled strata reuse the broadcast-draw with-replacement
  sampler (operators/sampling.py), so no path materializes a global sort.
- shuffle_rows is a Spark range-partitioned sort on a 64-bit hash: the
  planner samples hash bounds, every partition sorts locally — the
  standard distributed permutation, no single-partition window anywhere.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from epic_pandas_spark.functions.text import word_ngrams_expr, words_expr
from epic_pandas_spark.operators.sampling import (
    _rand_col,
    allocate_counts,
    sample_with_replacement,
)

__all__ = [
    "ngram_hash_stream",
    "decontaminate",
    "repetition_stats",
    "repetition_filter",
    "resample_mixture",
    "shuffle_rows",
    "scrub_pii_expr",
    "filter_by_blocklist",
    "hashed_feature_scores",
    "write_training_shards",
    "hashed_gram_stream",
    "md5_bucket_expr",
    "dsir_log_ratio_table",
    "dsir_importance_weights",
    "dsir_select",
]


def ngram_hash_stream(
    df: DataFrame, text_col: str, id_col: str, n: int = 13, distinct: bool = True
) -> DataFrame:
    """Per-document stream of word-n-gram 64-bit hashes: ``(id_col, gh)``.
    The shuffle/join currency for decontamination — 8 bytes per gram,
    never the gram text.

    Dedup happens AFTER hashing (``dropDuplicates`` on the 8-byte pairs),
    not via ``array_distinct`` on the gram strings: long-gram string
    comparison is quadratic per doc and measured 3× the cost of the whole
    hash stream at n=8. Pass ``distinct=False`` when the consumer's
    aggregate already dedups (e.g. a downstream count_distinct)."""
    grams = word_ngrams_expr(F.col(text_col), n=n, distinct=False)
    out = df.select(
        F.col(id_col), F.explode(grams).alias("__g")
    ).select(id_col, F.xxhash64("__g").alias("gh"))
    return out.dropDuplicates([id_col, "gh"]) if distinct else out


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Llama recipe): flag
    every training document sharing >= ``min_hits`` distinct word
    ``n``-grams with ANY document of the evaluation set.

    Returns ``train`` + ``n_eval_hits`` (distinct overlapping grams) +
    boolean ``contaminated``. Filter on ``~contaminated`` to clean, or
    keep the flag for a contamination report.

    Plan: the eval set collapses to a distinct gram-hash table that is
    explicitly broadcast; the corpus gram stream probes it map-side, so
    the full corpus is never shuffled — only matching (id, gh) pairs move
    to the count, and the final attach is a left join on the id."""
    eval_hashes = (
        ngram_hash_stream(eval_df, text_col, id_col, n=n, distinct=False)
        .select("gh")
        .distinct()
    )
    hits = (
        ngram_hash_stream(train, text_col, id_col, n=n, distinct=False)
        .join(F.broadcast(eval_hashes), on="gh", how="inner")
        .groupBy(id_col)
        .agg(F.count_distinct("gh").alias("n_eval_hits"))
    )
    return (
        train.join(hits, on=id_col, how="left")
        .withColumn("n_eval_hits", F.coalesce(F.col("n_eval_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("n_eval_hits") >= F.lit(min_hits))
    )


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Gopher-style per-document repetition metrics, one row per doc with,
    for each n in ``ns``:

    - ``top{n}_frac`` — fraction of word characters covered by the single
      heaviest n-gram, where weight = occurrences x gram length. (Gopher
      uses "most common n-gram"; taking the max of count*length instead
      makes the metric a deterministic scalar max — no tie-break needed —
      while ranking pathological repetition identically.)
    - ``dup{n}_frac`` — fraction of word characters inside n-grams that
      occur more than once (Gopher's duplicated-n-gram fraction).

    Plan: the tagged gram streams union into ONE (id, n, gram) stream,
    one groupBy counts occurrences, a second computes the per-(id, n)
    fractions, and a conditional-agg pivot lands one row per doc. Gram
    text is hashed to 64 bits before the first shuffle."""
    streams = []
    for n in ns:
        grams = (
            words_expr(F.col(text_col))
            if n == 1
            else word_ngrams_expr(F.col(text_col), n=n, distinct=False)
        )
        streams.append(
            df.select(
                F.col(id_col),
                F.lit(n).alias("__n"),
                F.explode(grams).alias("__g"),
            ).select(
                id_col,
                "__n",
                F.xxhash64("__g").alias("__gh"),
                F.length("__g").alias("__chars"),
            )
        )
    allgrams = streams[0]
    for s in streams[1:]:
        allgrams = allgrams.unionByName(s)
    counts = allgrams.groupBy(id_col, "__n", "__gh").agg(
        F.count(F.lit(1)).alias("__cnt"), F.first("__chars").alias("__chars")
    )
    weight = F.col("__cnt") * F.col("__chars")
    per_n = counts.groupBy(id_col, "__n").agg(
        F.sum(weight).alias("__total"),
        F.max(weight).alias("__top"),
        F.sum(F.when(F.col("__cnt") > 1, weight).otherwise(F.lit(0))).alias("__dup"),
    )
    aggs = []
    for n in ns:
        sel = F.col("__n") == n
        aggs.append(
            F.round(
                F.max(F.when(sel, F.col("__top"))) / F.nullif(F.max(F.when(sel, F.col("__total"))), F.lit(0)),
                6,
            ).alias(f"top{n}_frac")
        )
        aggs.append(
            F.round(
                F.max(F.when(sel, F.col("__dup"))) / F.nullif(F.max(F.when(sel, F.col("__total"))), F.lit(0)),
                6,
            ).alias(f"dup{n}_frac")
        )
    return per_n.groupBy(id_col).agg(*aggs)


def repetition_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_top1_frac: float = 0.20,
    max_top2_frac: float = 0.18,
    max_dup3_frac: float = 0.60,
) -> DataFrame:
    """Attach Gopher-style repetition metrics and a ``keep`` verdict
    (thresholds default to Gopher table A1's word-level band, tuned for
    word-salad test corpora via the dup3 bound)."""
    stats = repetition_stats(df, text_col, id_col, ns=(1, 2, 3))
    keep = (
        (F.col("top1_frac") <= max_top1_frac)
        & (F.col("top2_frac") <= max_top2_frac)
        & (F.col("dup3_frac") <= max_dup3_frac)
    )
    return df.join(stats, on=id_col, how="inner").withColumn("keep", keep)


def resample_mixture(
    df: DataFrame,
    domain_col: str,
    weights: dict,
    n_rows: int,
    seed: int = 42,
    allow_upsample: bool = False,
) -> DataFrame:
    """Domain-mixture resampling: draw exactly ``n_rows`` rows whose
    domain distribution matches ``weights`` (largest-remainder exact
    allocation — the same cumsum-round-diff rule as stratified sampling,
    reference utils.py:267-271, so allocations are oracle-checkable).

    Domains whose quota exceeds their population raise, unless
    ``allow_upsample=True`` — then the shortfall domains are drawn WITH
    replacement (the temperature-upsampling case for rare domains in
    mixture training), via the broadcast-draw sampler: no global window.

    Plan: one shuffle on the domain column for the window top-k over the
    downsampled domains; each upsampled domain adds a broadcast-draw scan.
    Driver state is |domains| counts, never data rows."""
    counts = allocate_counts(weights, n_rows)
    avail = {
        r["v"]: r["n"]
        for r in df.groupBy(F.col(domain_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    over = {k: v for k, v in counts.items() if v > avail.get(k, 0)}
    if over and not allow_upsample:
        raise ValueError(
            f"domains {sorted(over)} need more rows than they have "
            f"(pass allow_upsample=True to draw them with replacement)"
        )
    down = {k: v for k, v in counts.items() if k not in over}
    spark = df.sparkSession
    parts: list[DataFrame] = []
    if down:
        dom_type = dict(df.dtypes)[domain_col]
        quota = F.broadcast(
            spark.createDataFrame(
                list(down.items()), f"{domain_col} {dom_type}, __need long"
            )
        )
        w = Window.partitionBy(domain_col).orderBy(F.col("__u").asc())
        parts.append(
            df.withColumn("__u", _rand_col(df, seed))
            .join(quota, on=domain_col, how="inner")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("__need"))
            .select(*df.columns)
        )
    for i, (dom, need) in enumerate(sorted(over.items())):
        drawn = sample_with_replacement(
            df.filter(F.col(domain_col) == F.lit(dom)), need, seed=seed + 7919 * (i + 1)
        )
        parts.append(drawn.select(*df.columns))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def resample_mixture_tokens(
    df: DataFrame,
    domain_col: str,
    token_col: str,
    id_col: str,
    weights: dict,
    n_tokens: int,
    seed: int = 42,
    allow_short: bool = False,
) -> DataFrame:
    """Token-budget domain mixture: select documents per domain, in a
    seeded deterministic order, until each domain's TOKEN quota is
    reached — mixtures in training recipes are specified in tokens, not
    documents, and document lengths differ wildly across domains, so
    row-count resampling (:func:`resample_mixture`) systematically
    over-serves verbose domains.

    Quotas = largest-remainder allocation of ``n_tokens`` by
    ``weights`` (same exact rule as stratified sampling). Within each
    domain, documents are ordered by the portable seeded hash
    ``int(md5(id || seed)[:8], 16)`` (ties → id), and a document is
    kept while the tokens BEFORE it are under the quota — so each
    domain lands in ``[quota, quota + max_doc_tokens)``: documents are
    atomic and the last one may overshoot, the standard convention.
    The md5 order makes the exact keep set reproducible in any engine
    (the registry oracle replays it in DuckDB row for row).

    Domains whose total tokens fall short of quota raise, unless
    ``allow_short=True`` (keep everything they have — the 'epoch the
    rare domain' decision is then explicit, via resample_mixture's
    with-replacement upsampling on rows, not silent).

    Plan: one |domains|-row availability aggregate, one shuffle on the
    domain for the per-domain ordered cumsum window, broadcast quota
    dim. Driver state is |domains| numbers, never rows."""
    quotas = allocate_counts(weights, n_tokens)
    avail = {
        r["v"]: r["t"]
        for r in df.groupBy(F.col(domain_col).alias("v"))
        .agg(F.coalesce(F.sum(token_col), F.lit(0)).alias("t"))
        .collect()  # bounded: one row per domain
    }
    short = {k: q for k, q in quotas.items() if q > avail.get(k, 0)}
    if short and not allow_short:
        raise ValueError(
            f"domains {sorted(short)} hold fewer tokens than their quota "
            f"(pass allow_short=True to keep all they have, or upsample "
            f"rows via resample_mixture(allow_upsample=True))"
        )
    spark = df.sparkSession
    dom_type = dict(df.dtypes)[domain_col]
    quota = F.broadcast(
        spark.createDataFrame(
            [(k, int(v)) for k, v in quotas.items()],
            f"{domain_col} {dom_type}, __quota long",
        )
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(str(seed)))), 1, 8),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(domain_col).orderBy(F.col("__u").asc(), F.col(id_col).asc())
    before = F.sum(token_col).over(w) - F.col(token_col)
    return (
        df.withColumn("__u", u)
        .join(quota, on=domain_col, how="inner")
        .withColumn("__before", before)
        .filter(F.col("__before") < F.col("__quota"))
        .select(*df.columns)
    )


def shuffle_rows(df: DataFrame, seed: int = 42, by: list[str] | None = None) -> DataFrame:
    """Deterministic global permutation — the training-order shuffle.
    Rows are totally ordered by ``xxhash64(identity, seed)`` (identity =
    ``by`` or the whole row), so the permutation is reproducible across
    runs and independent of input partitioning; changing the seed yields
    an unrelated order.

    Spark executes the orderBy as range-partition-by-sampled-bounds +
    per-partition local sort — the scalable distributed shuffle. Write the
    result with ``maxRecordsPerFile`` for fixed-size training shards."""
    cols = [F.col(c) for c in (by or df.columns)]
    return df.orderBy(F.xxhash64(*cols, F.lit(seed)).asc(), *cols)


def scrub_pii_expr(text: Column) -> Column:
    """PII scrubbing as a pure codegen expression chain (C4-style regex
    cleaning): emails, IPv4 addresses, international-format phone numbers,
    then bare long digit runs, each replaced by a typed placeholder.
    Patterns are RE2-compatible (no backreferences/lookahead) so the same
    regexes run in the DuckDB oracle."""
    e = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    e = F.regexp_replace(e, r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>")
    e = F.regexp_replace(e, r"\+\d[\d ().-]{6,}\d", "<PHONE>")
    return F.regexp_replace(e, r"\b\d{7,}\b", "<NUM>")


def filter_by_blocklist(
    df: DataFrame,
    col: str,
    blocklist: DataFrame,
    block_col: str | None = None,
) -> DataFrame:
    """Blocklist filtering (C4/RefinedWeb drop-by-source step): remove
    rows whose ``col`` appears in the blocklist. A broadcast anti-join —
    blocklists (domains, URLs, source tags) are small next to the corpus,
    so the corpus is scanned once and never shuffled."""
    bl = blocklist.select(F.col(block_col or col).alias(col)).distinct()
    return df.join(F.broadcast(bl), on=col, how="left_anti")


def filter_by_group_quantile(
    df: DataFrame,
    value_col: str,
    by,
    prob: float,
    keep: str = "at_or_above",
    mode: str = "auto",
    accuracy: int = 10000,
    bins: str = "per_group",
    threshold_col: str | None = None,
) -> DataFrame:
    """Per-group quantile-threshold selection — the 'keep documents
    above their domain's 90th-percentile quality score' step of a
    quality-filtering pipeline (per-domain thresholds instead of one
    global cutoff, so a high-quality domain doesn't drown out a noisy
    one and vice versa).

    Computes the ``prob`` quantile of ``value_col`` within each ``by``
    group via :func:`epic_pandas_spark.operators.stats.quantiles`
    (``mode="auto"``: bit-exact under the plan-stat crossover, the
    codegen histogram sketch above it — per-group bin edges by default,
    since group value ranges are exactly what differ here), then keeps
    rows ``at_or_above`` / ``above`` / ``at_or_below`` / ``below`` the
    group's threshold. ``threshold_col`` optionally retains the
    threshold on the output rows (provenance/debugging).

    Plan at 100 TB: one aggregate pass builds the (|groups|)-row
    threshold dim, which joins back broadcast-style; the corpus is
    scanned twice and shuffled zero times beyond the aggregate's
    partials. Null values never pass the filter (no rank); a NULL group
    LABEL is a real group (null-safe join, matching the quantile
    aggregate's own groupBy semantics)."""
    from epic_pandas_spark.operators.stats import quantiles

    ops = {
        "at_or_above": lambda v, t: v >= t,
        "above": lambda v, t: v > t,
        "at_or_below": lambda v, t: v <= t,
        "below": lambda v, t: v < t,
    }
    if keep not in ops:
        raise ValueError(f"keep must be one of {sorted(ops)}")
    group_cols = [by] if isinstance(by, str) else list(by)
    th = quantiles(
        df, value_col, [prob], by=group_cols, names=["__th"],
        mode=mode, accuracy=accuracy, bins=bins,
    )
    for c in group_cols:
        th = th.withColumnRenamed(c, f"__th_{c}")
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col(f"__th_{c}"))
        cond = e if cond is None else (cond & e)
    out = (
        df.join(F.broadcast(th), cond)
        .filter(ops[keep](F.col(value_col), F.col("__th")))
        .drop(*[f"__th_{c}" for c in group_cols])
    )
    if threshold_col is not None:
        return out.withColumnRenamed("__th", threshold_col)
    return out.drop("__th")


def bucket_by_group_quantiles(
    df: DataFrame,
    value_col: str,
    by,
    probs: Sequence[float] = (1 / 3, 2 / 3),
    labels: Sequence[str] = ("head", "middle", "tail"),
    mode: str = "auto",
    accuracy: int = 10000,
    bins: str = "per_group",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign each row a quantile bucket WITHIN its group — the CCNet
    split: per-language perplexity tertiles labeling each document
    head/middle/tail of its own language's distribution, so a
    well-modeled language doesn't push another language's entire corpus
    into 'tail'.

    ``probs`` are the ascending interior cut points (k cuts -> k+1
    ``labels``); a row gets ``labels[i]`` for the first threshold with
    ``value <= t_i``, else the last label, and a null value gets a null
    bucket (no rank). Thresholds come from
    :func:`epic_pandas_spark.operators.stats.quantiles` (``mode="auto"``:
    bit-exact under the plan-stat crossover, codegen histogram sketch
    above it).

    Plan at 100 TB: identical shape to :func:`filter_by_group_quantile`
    — one aggregate builds the (|groups|)-row threshold dim, broadcast
    back with a null-safe group join, and the bucket CASE evaluates
    inline in the scan; zero extra corpus shuffles."""
    probs = list(probs)
    if sorted(probs) != probs or len(set(probs)) != len(probs):
        raise ValueError("probs must be strictly ascending")
    if len(labels) != len(probs) + 1:
        raise ValueError("need exactly len(probs) + 1 labels")
    from epic_pandas_spark.operators.stats import quantiles

    group_cols = [by] if isinstance(by, str) else list(by)
    th_names = [f"__t{i}" for i in range(len(probs))]
    th = quantiles(
        df, value_col, probs, by=group_cols, names=th_names,
        mode=mode, accuracy=accuracy, bins=bins,
    )
    for c in group_cols:
        th = th.withColumnRenamed(c, f"__th_{c}")
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col(f"__th_{c}"))
        cond = e if cond is None else (cond & e)
    v = F.col(value_col)
    bucket = F.when(v.isNull(), F.lit(None).cast("string"))
    for i, name in enumerate(th_names):
        bucket = bucket.when(v <= F.col(name), F.lit(labels[i]))
    bucket = bucket.otherwise(F.lit(labels[-1]))
    return (
        df.join(F.broadcast(th), cond)
        .withColumn(bucket_col, bucket)
        .drop(*th_names, *[f"__th_{c}" for c in group_cols])
    )


def _bucket(token: Column, n_buckets: int, bucket_expr) -> Column:
    """Feature bucket of a token or gram: ``bucket_expr`` when given,
    else ``xxhash64 % n_buckets``."""
    if bucket_expr is None:
        return F.pmod(F.xxhash64(token), F.lit(n_buckets))
    return bucket_expr(token)


def _hashed_token_stream(
    df: DataFrame,
    text_col: str,
    keep: dict[str, Column],
    n_buckets: int,
    bucket_expr,
    bucket_col: str = "bucket",
) -> DataFrame:
    """``(*keep, bucket_col)``: one row per non-empty word of each doc,
    hashed to its feature bucket — the token stream the quality
    classifier trains and scores on. ``keep`` maps output names to the
    columns carried beside each token."""
    toks = df.select(
        *keep.values(), F.explode(words_expr(F.col(text_col))).alias("__tok")
    ).filter(F.col("__tok") != "")
    bucket = _bucket(F.col("__tok"), n_buckets, bucket_expr)
    return toks.select(*keep, bucket.alias(bucket_col))


def hashed_feature_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    n_buckets: int = 1 << 18,
    bucket_col: str = "bucket",
    weight_col: str = "w",
    bias: float = 0.0,
    bucket_expr=None,
) -> DataFrame:
    """fasttext-style linear quality classifier over hashed token
    features: score = sigmoid(bias + mean(w[hash(token) % n_buckets])).
    ``weights`` is the trained weight table (bucket -> w), broadcast to
    the token stream — the standard shape for model-based quality
    filtering (e.g. a CCNet/LLama-style wiki-vs-crawl classifier) where
    the model is KBs and the corpus is TBs.

    Plan: explode tokens (map-side), bucket via xxhash64 % n_buckets,
    broadcast-join the weight table, one per-doc mean — a single keyed
    aggregation over the corpus; missing buckets contribute weight 0.
    ``bucket_expr`` (token Column -> bucket Column) overrides the default
    ``xxhash64 % n_buckets`` — e.g. an arithmetic hash expressible in the
    SQL oracle, or a trained model's own hashing scheme.
    Returns ``(id_col, score)`` with score in (0, 1)."""
    bucketed = _hashed_token_stream(
        df, text_col, {id_col: F.col(id_col)}, n_buckets, bucket_expr, bucket_col
    )
    wtab = weights.select(F.col(bucket_col), F.col(weight_col).alias("__w"))
    z = (
        bucketed.join(F.broadcast(wtab), on=bucket_col, how="left")
        .groupBy(id_col)
        .agg((F.avg(F.coalesce(F.col("__w"), F.lit(0.0))) + F.lit(bias)).alias("__z"))
    )
    return z.select(
        id_col, (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z")))).alias("score")
    )


def train_quality_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 1 << 18,
    iters: int = 20,
    lr: float = 5.0,
    l2: float = 0.0,
    bucket_expr=None,
):
    """Distributed TRAINING for the fastText-style linear quality
    classifier that :func:`hashed_feature_scores` serves: full-batch
    gradient descent on logistic loss over hashed mean-pooled
    bag-of-words features — the wiki-vs-crawl classifier step of a
    CCNet/LLaMA-style pipeline, trained where the data lives instead of
    sampling to a driver.

    Model: ``p = sigmoid(bias + sum_b x_b * w_b)`` with
    ``x_b = count_b / n_tokens`` (so the feature vector of a doc sums to
    1 — identical to the scorer's ``avg`` pooling). The bias is carried
    as feature bucket ``-1`` with ``x = 1`` for every doc, which unifies
    its gradient with the weight gradients (one aggregate, no scalar
    side-channel). Labels must be 0/1; null-label rows are ignored.
    Init w = 0, so training is deterministic up to fp summation order.

    Plan at 100 TB: the (doc, bucket, x, y) feature table is built ONCE
    (one explode + one hash-aggregate + a per-doc window on the already
    bucket-collapsed table), repartitioned by doc id and eagerly
    localCheckpointed. Each iteration is then: broadcast-join the
    ≤``n_buckets``-row weight table (model is KBs, corpus is TBs),
    per-doc z aggregate and the residual join both reuse the pinned
    doc-id partitioning (no re-shuffle of the corpus-sized side), and
    the gradient reduce is ONE bucket-key shuffle of map-side-combined
    partials (≤ n_buckets rows per task). Weight state never leaves the
    cluster: w_{t+1} = w_t − lr·(g + l2·w) is a bucket join of two
    bounded tables, eagerly checkpointed to cut lineage. Driver traffic
    is a 1-row collect for the bias at the end.

    Returns ``(weights, bias, n_docs)`` — ``weights`` is a
    ``(bucket, w)`` DataFrame ready for
    ``hashed_feature_scores(weights=..., bias=...)`` with the same
    ``n_buckets``/``bucket_expr``. The default ``n_buckets`` (2^18)
    matches :func:`hashed_feature_scores` and
    :func:`score_stream_with_classifier` exactly so that training and
    scoring with defaults share one hashing scheme — a trainer/scorer
    bucket-count mismatch silently mis-buckets every token.

    .. versionchanged:: round 7
       The default ``n_buckets`` changed from ``1 << 16`` to ``1 << 18``
       to align the trainer with the scorer defaults. Weight tables
       persisted under the OLD default are hash-incompatible with
       pipelines trained under the new default: either retrain, or pin
       ``n_buckets=1 << 16`` everywhere the old table is served."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if lr <= 0:
        raise ValueError("lr must be > 0")
    spark = df.sparkSession

    toks = _hashed_token_stream(
        df.filter(F.col(label_col).isNotNull()),
        text_col,
        {
            "__did": F.col(id_col).alias("__did"),
            "__y": F.col(label_col).cast("double").alias("__y"),
        },
        n_buckets,
        bucket_expr,
    )
    cnt = (
        toks.groupBy("__did", "__y", "bucket")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # per-doc token totals over the bucket-collapsed table (far smaller
    # than the raw token stream), then mean-pooled features
    n_tok = Window.partitionBy("__did")
    featured = cnt.select(
        "__did", "__y", "bucket",
        (F.col("__c") / F.sum("__c").over(n_tok)).alias("__x"),
    )
    bias_rows = df.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("__did"),
        F.col(label_col).cast("double").alias("__y"),
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(1.0).alias("__x"),
    )
    from pyspark import StorageLevel

    # persist (NOT localCheckpoint): InMemoryRelation preserves the pinned
    # HashPartitioning(__did) in the plan, so every iteration's per-doc
    # aggregate and residual join reuse it exchange-free; a localCheckpoint
    # scan reports UnknownPartitioning and re-shuffles the corpus-sized
    # feature table 2x per iteration (verified in the physical plan)
    feat = (
        featured.unionByName(bias_rows)
        .repartition(F.col("__did"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_docs = feat.filter(F.col("bucket") == -1).count()
        if n_docs == 0:
            raise ValueError("no labeled documents to train on")

        w_df = spark.createDataFrame([], "bucket long, w double")
        for _ in range(iters):
            zdf = (
                feat.join(F.broadcast(w_df), "bucket", "left")
                .groupBy("__did", "__y")
                .agg(F.sum(F.col("__x") * F.coalesce(F.col("w"), F.lit(0.0))).alias("__z"))
            )
            resid = zdf.select(
                "__did",
                (
                    (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z"))) - F.col("__y"))
                    / F.lit(float(n_docs))
                ).alias("__r"),
            )
            grad = (
                feat.join(resid, "__did")
                .groupBy("bucket")
                .agg(F.sum(F.col("__x") * F.col("__r")).alias("__g"))
            )
            # every feature bucket appears in every gradient, so grad-left-
            # join carries the full bucket set from iteration 1 (w starts
            # empty)
            decay = F.when(F.col("bucket") == -1, F.lit(0.0)).otherwise(F.lit(float(l2)))
            w_df = (
                grad.join(w_df, "bucket", "left")
                .select(
                    "bucket",
                    (
                        F.coalesce(F.col("w"), F.lit(0.0))
                        - F.lit(float(lr))
                        * (F.col("__g") + decay * F.coalesce(F.col("w"), F.lit(0.0)))
                    ).alias("w"),
                )
                .localCheckpoint(eager=True)
            )
        bias = w_df.filter(F.col("bucket") == -1).first()["w"]
    finally:
        feat.unpersist()
    return w_df.filter(F.col("bucket") != -1), float(bias), int(n_docs)


def train_quality_classifier_reference(
    feature_docs,
    n_buckets: int,
    iters: int = 20,
    lr: float = 5.0,
    l2: float = 0.0,
):
    """Pure-numpy twin of :func:`train_quality_classifier`'s GD loop for
    parity tests. ``feature_docs`` is a list of ``({bucket: x}, y)``
    pairs (bucket -1 = bias must NOT be included; it is added here).
    Returns ``(weights dict bucket->w, bias)``."""
    import numpy as np

    w = np.zeros(n_buckets)
    b = 0.0
    n = len(feature_docs)
    for _ in range(iters):
        gw = np.zeros(n_buckets)
        gb = 0.0
        for x, y in feature_docs:
            z = b + sum(v * w[k] for k, v in x.items())
            r = (1.0 / (1.0 + math.exp(-z)) - y) / n
            for k, v in x.items():
                gw[k] += v * r
            gb += r
        w = w - lr * (gw + l2 * w)
        b = b - lr * gb
    return {k: w[k] for k in range(n_buckets) if w[k] != 0.0}, b


def score_stream_with_classifier(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    n_buckets: int = 1 << 18,
    bias: float = 0.0,
    bucket_expr=None,
) -> DataFrame:
    """Streaming quality scoring — classify documents ARRIVING AS A
    STREAM against a persisted weight table (fit offline by
    :func:`train_quality_classifier`, written to parquet, read back as
    a static frame).

    Same pattern as streaming DSIR / streaming LM perplexity: the model
    is a bounded static dim, each micro-batch's token stream looks it
    up via a stream-static broadcast join, and one keyed streaming
    aggregate accumulates the per-document (weight sum, token count) —
    the mean pooling then derives inside the same plan, so a document
    split across micro-batches converges to the batch score as its
    tokens accumulate. Run with output mode ``update``/``complete``.
    The plan is IDENTICAL to :func:`hashed_feature_scores` restated
    with an explicit sum/count (streaming aggregates need the raw
    accumulators, and F.avg is exactly sum/count anyway); this wrapper
    documents the contract and anchors the stream==batch test."""
    bucketed = _hashed_token_stream(
        stream_df, text_col, {id_col: F.col(id_col)}, n_buckets, bucket_expr
    )
    wtab = weights.select(F.col("bucket"), F.col("w").alias("__w"))
    z = (
        bucketed.join(F.broadcast(wtab), on="bucket", how="left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("__w"), F.lit(0.0))).alias("__wsum"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.col("__wsum") / F.col("n_tokens") + F.lit(bias))))
            ).alias("score"),
        )
    )
    return z


def fit_platt_scaling(
    df: DataFrame,
    score_col: str,
    label_col: str,
    iters: int = 8,
    ridge: float = 1e-9,
) -> tuple[float, float]:
    """Fit the two-parameter logistic recalibration ``p' = sigmoid(a*s
    + b)`` (Platt scaling, minus Platt's Bayesian target smoothing) by
    maximum likelihood — the FIX for what :func:`operators.stats.
    calibration_summary` measures: when the quality classifier's raw
    scores are miscalibrated, downstream weight consumers (soft dedup,
    mixture resampling) inherit the bias; recalibrating on a small
    labeled holdout restores "0.8 means 80%". Returns ``(a, b)``.

    Optimization is exact NEWTON on the 2-parameter log-loss (convex;
    the 2x2 Hessian solves in closed form on the driver), so ~5-8
    iterations reach fp convergence where first-order GD needs
    hundreds.

    Plan at 100 TB: ONE corpus pass compresses (score, label) to the
    distinct-score table ``(s, np, nn)`` — the same natural compression
    the exact-AUC family rides — persisted once; each Newton step is
    one 5-double aggregate over that table plus a driver-side 2x2
    solve. Iteration cost is independent of corpus size; only the
    initial hash aggregate sees the data."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    t = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
        .persist()
    )
    try:
        a, b = 1.0, 0.0
        for _ in range(iters):
            p = F.lit(1.0) / (
                F.lit(1.0) + F.exp(-(F.lit(a) * F.col("__s") + F.lit(b)))
            )
            cnt = F.col("__np") + F.col("__nn")
            resid = p * cnt - F.col("__np")   # d loss / d z, summed
            w = p * (F.lit(1.0) - p) * cnt    # Hessian weight
            row = t.agg(
                F.sum(resid * F.col("__s")).alias("ga"),
                F.sum(resid).alias("gb"),
                F.sum(w * F.col("__s") * F.col("__s")).alias("haa"),
                F.sum(w * F.col("__s")).alias("hab"),
                F.sum(w).alias("hbb"),
            ).first()
            ga, gb = row["ga"], row["gb"]
            if ga is None:  # empty frame / all-null (score, label) rows
                raise ValueError(
                    "fit_platt_scaling: no non-null (score, label) rows to fit on"
                )
            haa, hab, hbb = row["haa"] + ridge, row["hab"], row["hbb"] + ridge
            det = haa * hbb - hab * hab
            if det <= 0:
                break
            da = (hbb * ga - hab * gb) / det
            db = (haa * gb - hab * ga) / det
            a, b = a - da, b - db
            if abs(da) < 1e-12 and abs(db) < 1e-12:
                break
        return a, b
    finally:
        t.unpersist()


def fit_isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
):
    """Fit NONPARAMETRIC calibration — isotonic regression (pool-
    adjacent-violators) of the label on the score — the companion to
    :func:`fit_platt_scaling` for when the miscalibration isn't a clean
    sigmoid shift: isotonic is the monotone MLE, so it can flatten any
    shape of reliability curve at the cost of needing more labeled data
    (it happily overfits small holdouts where Platt's two parameters
    can't). Returns ``(model, model_df)``: ``model`` is the fitted
    Spark ML transformer (``model.transform(frame)`` adds the
    calibrated ``prediction`` column, linear-interpolating between
    block boundaries and clamping outside — persist with
    ``model.write()``), ``model_df`` the ``(boundary, value)`` block
    table for inspection/portability.

    Plan at 100 TB: Spark ML's isotonic fit is the distributed
    parallel-PAV (per-partition PAV, merge-pool on the driver over the
    pooled BLOCKS — bounded by the block count, not the corpus); the
    model state is the block arrays, and application is a per-row
    binary search over the broadcast boundaries — no shuffle. Null
    scores/labels are excluded before the fit."""
    from pyspark.ml.regression import IsotonicRegression

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    clean = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__iso_s"), y.alias("__iso_y")
    )
    iso = IsotonicRegression(
        featuresCol="__iso_s", labelCol="__iso_y", predictionCol="prediction"
    )
    model = iso.fit(clean)
    spark = df.sparkSession
    model_df = spark.createDataFrame(
        [(float(b), float(v)) for b, v in zip(model.boundaries, model.predictions)],
        "boundary double, value double",
    )
    return model, model_df


def platt_calibrated_expr(score: Column, a: float, b: float) -> Column:
    """The recalibrated probability ``sigmoid(a*score + b)`` as a plain
    column expression — apply the :func:`fit_platt_scaling` parameters
    to the full corpus (or a stream) with zero joins, zero shuffles."""
    return F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.lit(float(a)) * score + F.lit(float(b))))
    )


def recalibrate_auto(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    holdout_frac: float = 0.2,
    seed: int = 42,
    eps: float = 1e-12,
) -> dict:
    """Model selection between the two recalibrators: fit BOTH
    :func:`fit_platt_scaling` (2 parameters — wins when labeled data is
    scarce) and :func:`fit_isotonic_calibration` (nonparametric monotone
    MLE — wins when the miscalibration isn't a sigmoid shift) on a
    deterministic train split, score each by LOG-LOSS on the held-out
    split (the proper scoring rule: minimized in expectation only by the
    true probabilities, so it can't reward an overfit zigzag the way a
    reliability diagram can), and apply the winner.

    The split is hash-deterministic on ``id_col`` (A-ES-style hash
    randomness — reproducible across runs/partitionings, no global
    shuffle). Isotonic's holdout predictions are clamped to
    ``[eps, 1-eps]`` before the log: PAV emits exact 0/1 blocks at the
    score range's edges, and an unlucky holdout label there would
    otherwise send the loss to infinity — the standard guard.

    Returns ``{"method": "platt"|"isotonic", "platt": (a, b),
    "isotonic": (model, model_df), "holdout_logloss": {...},
    "expr": score Column -> calibrated Column | None,
    "transform": DataFrame-with-score_col -> DataFrame + 'calibrated'}``.
    ``expr`` is only set for Platt (a closed-form column); isotonic
    application goes through ``transform`` (broadcast binary search over
    the block boundaries — still no shuffle).

    Plan at 100 TB: both fits read the train split once (Platt: binned
    sufficient stats; isotonic: distributed PAV over blocks); both
    holdout evaluations are one aggregate each; the winner's application
    is shuffle-free either way."""
    if not (0.0 < holdout_frac < 1.0):
        raise ValueError("holdout_frac must be in (0, 1)")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    clean = df.filter(s.isNotNull() & y.isNotNull())
    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.lit(1000))
    cut = int(round(holdout_frac * 1000))
    train = clean.filter(bucket >= cut).localCheckpoint(eager=False)
    hold = clean.filter(bucket < cut).localCheckpoint(eager=False)

    a, b = fit_platt_scaling(train, score_col, label_col)
    iso_model, iso_df = fit_isotonic_calibration(train, score_col, label_col)

    def _logloss(frame: DataFrame, p: Column) -> float:
        pc = F.least(F.greatest(p, F.lit(eps)), F.lit(1.0 - eps))
        yy = F.col(label_col).cast("double")
        row = frame.agg(
            F.avg(-(yy * F.log(pc) + (F.lit(1.0) - yy) * F.log(F.lit(1.0) - pc))).alias(
                "ll"
            )
        ).first()
        if row["ll"] is None:
            raise ValueError("recalibrate_auto: empty holdout split")
        return float(row["ll"])

    ll_platt = _logloss(hold, platt_calibrated_expr(s, a, b))
    iso_hold = iso_model.transform(
        hold.withColumn("__iso_s", s)
    )
    ll_iso = _logloss(iso_hold, F.col("prediction"))

    method = "platt" if ll_platt <= ll_iso else "isotonic"

    def transform(frame: DataFrame, out_col: str = "calibrated") -> DataFrame:
        sc = F.col(score_col).cast("double")
        if method == "platt":
            return frame.withColumn(out_col, platt_calibrated_expr(sc, a, b))
        out = iso_model.transform(frame.withColumn("__iso_s", sc))
        return out.withColumn(out_col, F.col("prediction")).drop(
            "__iso_s", "prediction"
        )

    return {
        "method": method,
        "platt": (a, b),
        "isotonic": (iso_model, iso_df),
        "holdout_logloss": {"platt": ll_platt, "isotonic": ll_iso},
        "expr": (lambda c: platt_calibrated_expr(c, a, b)) if method == "platt" else None,
        "transform": transform,
    }


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_rows: int,
    seed: int = 42,
    by: list[str] | None = None,
) -> DataFrame:
    """Training-data sink: globally shuffle (deterministic, see
    `shuffle_rows`) and write parquet shards of at most ``shard_rows``
    rows each, then return a manifest DataFrame ``(shard, n_rows)`` read
    back from the written files.

    ``maxRecordsPerFile`` makes each writer task roll files at the bound
    without a pre-count pass, so shard sizing is O(0) extra work on top
    of the sort's range exchange; the manifest is one scan of the output
    footers' worth of data. Readers stream shards in filename order and
    get the seeded permutation back."""
    if shard_rows < 1:
        raise ValueError("shard_rows must be >= 1")
    shuffled = shuffle_rows(df, seed=seed, by=by)
    (
        shuffled.write.option("maxRecordsPerFile", shard_rows)
        .mode("overwrite")
        .parquet(path)
    )
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def dedup_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_line_freq: int = 1,
    min_line_chars: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-level line deduplication (the C4/RefinedWeb recipe): drop
    every line whose trimmed form appears in more than ``max_line_freq``
    documents — boilerplate headers, cookie banners, navigation chrome —
    and reassemble each document from its surviving lines in order.
    Lines shorter than ``min_line_chars`` after trimming are kept as-is
    (blank separators are not evidence of duplication, and counting them
    would create a monster hot key).

    Plan: posexplode lines, count DISTINCT docs per 8-byte line
    fingerprint (hash-first — the global frequency shuffle never carries
    line text), anti-join hot fingerprints back onto the line stream,
    then one window per doc ordered by line position re-concatenates.
    Shuffle payloads are (id, pos, hash) plus each doc's surviving text
    once for the reassembly."""
    out_col = out_col or text_col
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__t", F.trim(F.col("__line")))
    countable = F.length("__t") >= min_line_chars
    keyed = lines.withColumn(
        "__lh", F.when(countable, F.xxhash64("__t")).otherwise(F.lit(None)))
    hot = (
        keyed.filter(F.col("__lh").isNotNull())
        .groupBy("__lh")
        .agg(F.count_distinct("__id").alias("__docs"))
        .filter(F.col("__docs") > max_line_freq)
        .select("__lh")
    )
    kept = keyed.join(F.broadcast(hot), "__lh", "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias(out_col)
    )
    base_cols = [
        c
        for c in df.columns
        if c != id_col and not (c == text_col and out_col == text_col)
    ]
    base = df.select(F.col(id_col).alias("__id"), *[F.col(c) for c in base_cols])
    joined = base.join(rebuilt, "__id", "left")
    projection = [F.col("__id").alias(id_col)]
    for c in df.columns:
        if c == id_col:
            continue
        if c == text_col and out_col == text_col:
            projection.append(F.coalesce(F.col(out_col), F.lit("")).alias(text_col))
        else:
            projection.append(F.col(c))
    if out_col != text_col:
        projection.append(F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    return joined.select(*projection)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select pretraining documents whose hashed-n-gram
# distribution matches a target domain. Extension tier — the reference has
# no corpus layer; implemented from the published description.
# ---------------------------------------------------------------------------


def hashed_gram_stream(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    n_buckets: int = 1 << 16,
    bucket_expr=None,
) -> DataFrame:
    """DSIR featurization: the unigram+word-bigram stream of each document,
    hashed into ``n_buckets`` — one output row per gram occurrence,
    columns ``(id_col?, bucket)``.

    Map-side only: normalize → one array build (unigrams ++ bigrams via
    ``zip_with`` over two offset slices) → one explode → one hash. No
    shuffle, no UDF; documents with no words vanish from the stream.
    ``bucket_expr`` (gram Column -> bucket Column) overrides the default
    ``xxhash64 % n_buckets`` — e.g. the md5-arithmetic hash the SQL
    oracle can reproduce."""
    w = F.filter(words_expr(F.col(text_col)), lambda x: x != "")
    pair_len = F.greatest(F.size(w) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(w, F.lit(1), pair_len),
        F.slice(w, F.lit(2), pair_len),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    grams = F.concat(w, bigrams)
    cols = [F.col(id_col)] if id_col else []
    out = df.select(*cols, F.explode(grams).alias("__gram"))
    return out.select(
        *([id_col] if id_col else []),
        _bucket(F.col("__gram"), n_buckets, bucket_expr).alias("bucket"),
    )


def md5_bucket_expr(n_buckets: int):
    """Cross-engine bucket hash: ``int(md5(gram)[:8], 16) % n_buckets``.
    Byte-identical in Spark (conv/substring/md5) and DuckDB
    (``CAST('0x' || substr(md5(g),1,8) AS BIGINT) % m``) — the hash the
    oracle-checked DSIR query uses. xxhash64 (the default) is faster
    JVM-side but has no DuckDB twin."""

    def expr(gram: Column) -> Column:
        return F.pmod(
            F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        )

    return expr


def dsir_log_ratio_table(
    source: DataFrame,
    target: DataFrame | None,
    text_col: str,
    n_buckets: int = 1 << 16,
    alpha: float = 1.0,
    ratio_scale: int = 1_000_000,
    bucket_expr=None,
    target_flag: Column | None = None,
) -> DataFrame:
    """The learned DSIR importance model: per-bucket
    ``round(ln(p_target(b) / p_source(b)) * ratio_scale)`` as a LONG,
    over Laplace-``alpha``-smoothed hashed-gram bag-of-words estimates.

    Why quantize: a document's importance weight is a SUM of per-gram
    ratios, and float addition is order-dependent — across partitionings,
    AQE replans, and engines. Scaled-integer ratios make every downstream
    sum exact and associative: bit-stable at any parallelism and
    reproducible by the SQL oracle. (Weight resolution 1e-6 nats/gram —
    far below any selection-relevant signal.)

    Plan shape at 100 TB: each corpus aggregates its gram stream to at
    most ``n_buckets`` rows (one shuffle each, bounded output); the two
    bucket tables full-outer-join at ``n_buckets`` rows — broadcast
    territory forever after. Totals ride the same aggregates as
    ``grouping sets``-free single-pass counts and land via a 1-row
    crossJoin, never a collect.

    ``target_flag`` (round 11, guide §1.2 "one pass instead of two"):
    when the target is a LABELED SUBSET of ``source`` — the standard
    DSIR shape, target = rows of the corpus matching a predicate — pass
    the boolean Column instead of a second DataFrame (``target=None``)
    and both count tables derive from ONE gram scan: the stream carries
    the flag, one aggregate produces (bucket, c_source, c_target), and
    the full-outer bucket join disappears (a flagged subset can't
    contribute buckets the source lacks). A null/False flag counts as
    non-target, exactly like the row failing the filter that would have
    built the target frame. Output is identical to the two-frame form
    with ``target = source.filter(target_flag)``."""
    am = float(alpha) * n_buckets
    if target_flag is not None:
        if target is not None:
            raise ValueError("pass either target or target_flag, not both")
        stream = hashed_gram_stream(
            source.select(F.col(text_col), target_flag.alias("__is_t")),
            text_col, "__is_t", n_buckets, bucket_expr,
        )
        counts = (
            stream.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("__cs"),
                F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("__ct"),
            )
            # bounded (≤ n_buckets rows): pin it so the totals aggregate
            # below reuses the SAME gram scan instead of re-running it —
            # the corpus is gram-hashed exactly once for the whole table
            .localCheckpoint(eager=False)
        )
        totals = counts.agg(
            F.coalesce(F.sum("__cs"), F.lit(0)).cast("double").alias("__ns"),
            F.coalesce(F.sum("__ct"), F.lit(0)).cast("double").alias("__nt"),
        )
        joined = counts.crossJoin(F.broadcast(totals))
        log_p_t = F.log(
            (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(float(alpha)))
            / (F.col("__nt") + F.lit(am))
        )
        log_p_s = F.log(
            (F.coalesce(F.col("__cs"), F.lit(0)) + F.lit(float(alpha)))
            / (F.col("__ns") + F.lit(am))
        )
        return joined.select(
            "bucket",
            F.round((log_p_t - log_p_s) * F.lit(float(ratio_scale)), 0)
            .cast("long")
            .alias("ratio_scaled"),
        )
    sg = hashed_gram_stream(source, text_col, None, n_buckets, bucket_expr)
    tg = hashed_gram_stream(target, text_col, None, n_buckets, bucket_expr)
    # bounded (≤ n_buckets rows each): pin both count tables so the totals
    # aggregates reuse the same gram scans instead of re-running them
    # (round 11 — each corpus is gram-hashed once, not twice)
    sc = (
        sg.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__cs"))
        .localCheckpoint(eager=False)
    )
    tc = (
        tg.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__ct"))
        .localCheckpoint(eager=False)
    )
    ns = sc.agg(F.coalesce(F.sum("__cs"), F.lit(0)).cast("double").alias("__ns"))
    nt = tc.agg(F.coalesce(F.sum("__ct"), F.lit(0)).cast("double").alias("__nt"))
    joined = (
        sc.join(tc, on="bucket", how="full_outer")
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
    )
    log_p_t = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(float(alpha)))
        / (F.col("__nt") + F.lit(am))
    )
    log_p_s = F.log(
        (F.coalesce(F.col("__cs"), F.lit(0)) + F.lit(float(alpha)))
        / (F.col("__ns") + F.lit(am))
    )
    return joined.select(
        "bucket",
        F.round((log_p_t - log_p_s) * F.lit(float(ratio_scale)), 0)
        .cast("long")
        .alias("ratio_scaled"),
    )


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ratio_table: DataFrame,
    n_buckets: int = 1 << 16,
    ratio_scale: int = 1_000_000,
    bucket_expr=None,
) -> DataFrame:
    """Per-document DSIR log-importance weight
    ``logw = sum_b count(doc, b) * ln(p_t(b)/p_s(b))`` — returned as both
    the exact integer ``logw_scaled`` (deterministic sort key) and the
    double ``logw`` (``logw_scaled / ratio_scale``).

    One corpus scan: gram stream → broadcast-join the (≤ n_buckets)-row
    ratio table → one keyed sum per document. Buckets unseen by the model
    contribute 0 (they cancel in the smoothed ratio only approximately,
    but exactly for the oracle's source ⊇ df case). Documents with no
    grams drop from the stream, like the reference of the method (no
    features → no evidence)."""
    grams = hashed_gram_stream(df, text_col, id_col, n_buckets, bucket_expr)
    rt = ratio_table.select("bucket", F.col("ratio_scaled").alias("__r"))
    return (
        grams.join(F.broadcast(rt), on="bucket", how="left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("__r"), F.lit(0))).alias("logw_scaled"))
        .select(
            id_col,
            "logw_scaled",
            (F.col("logw_scaled") / F.lit(float(ratio_scale))).alias("logw"),
        )
    )


def dsir_score_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    ratio_table: DataFrame,
    n_buckets: int = 1 << 16,
    ratio_scale: int = 1_000_000,
    bucket_expr=None,
) -> DataFrame:
    """Streaming DSIR scorer — weight documents ARRIVING AS A STREAM
    against a persisted importance model (the ratio table fitted
    offline by :func:`dsir_log_ratio_table`, e.g. written to parquet at
    training time and read back as a static frame).

    Same pattern as streaming decontamination's static eval set: the
    model is a ≤ ``n_buckets``-row static dim, so the probe is a
    stream-static broadcast join — each micro-batch's gram stream looks
    the model up map-side, then one keyed streaming aggregate sums the
    quantized ratios per document. Because the per-gram contributions
    are scaled INTEGERS, the streaming sum is exactly associative
    across micro-batches: a document split over batches accumulates to
    the identical ``logw_scaled`` the batch twin computes, bit for bit.
    Run with output mode ``update``/``complete`` (streaming agg).

    The plan is IDENTICAL to :func:`dsir_importance_weights` — Spark's
    incrementalizer turns the same declarative plan into the stateful
    streaming form; this wrapper exists to document the contract
    (static model, stream-safe expressions only) and anchor the
    stream==batch equivalence test."""
    return dsir_importance_weights(
        stream_df, text_col, id_col, ratio_table, n_buckets, ratio_scale, bucket_expr
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame | None,
    text_col: str,
    id_col: str,
    k: int,
    n_buckets: int = 1 << 16,
    alpha: float = 1.0,
    mode: str = "top",
    seed: int = 42,
    ratio_scale: int = 1_000_000,
    bucket_expr=None,
    target_flag: Column | None = None,
) -> DataFrame:
    """DSIR end-to-end: fit the target-vs-``df`` hashed-gram importance
    model, weight every document, keep ``k``.

    ``mode="top"`` keeps the k highest-weight documents — deterministic
    (integer weight desc, id asc: a TakeOrdered, never a full sort), the
    oracle-comparable form. ``mode="gumbel"`` is the paper's importance
    RESAMPLING: keys ``logw + Gumbel(0,1)`` give a without-replacement
    sample where P(doc) ∝ softmax(logw) — noise is hash-derived from
    (id, seed), so the sample is reproducible and shuffle-free; still a
    TakeOrdered on the perturbed key. Returns ``(id_col, logw)`` rows of
    the selected documents.

    ``target_flag``: when the target is a labeled subset of ``df``, pass
    the boolean Column (with ``target=None``) and the ratio-table fit
    gram-scans the corpus ONCE instead of once for the source counts and
    once for the target counts — see :func:`dsir_log_ratio_table`."""
    if mode not in ("top", "gumbel"):
        raise ValueError("mode must be 'top' or 'gumbel'")
    ratio = dsir_log_ratio_table(
        df, target, text_col, n_buckets, alpha, ratio_scale, bucket_expr,
        target_flag=target_flag,
    )
    wts = dsir_importance_weights(
        df, text_col, id_col, ratio, n_buckets, ratio_scale, bucket_expr
    )
    if mode == "top":
        key = F.col("logw_scaled").cast("double")
    else:
        m = 1 << 31
        u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(m)) + F.lit(0.5)) / F.lit(
            float(m)
        )
        key = F.col("logw") + (-F.log(-F.log(u)))
    return (
        wts.select(id_col, "logw", key.alias("__key"))
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "logw")
    )
