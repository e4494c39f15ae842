"""Per-column statistics and weighted aggregates.

- `column_stats` — the reference's per-column profile
  (/root/reference/epic/pandas/utils.py:760-808): dtype, n_unique, n_null,
  most-frequent value + its count, second value. The reference fans columns
  out to a process pool (papply, utils.py:804); in Spark all per-column
  counters fuse into ONE multi-aggregate pass (whole-stage codegen computes
  every counter in the same scan), and the top-2 values come from one
  groupBy-per-column union over already-aggregated (tiny) results.
- `weighted_average` — Σ(x·w)/Σ(w) (/root/reference/epic/pandas/algorithm.py:95-115),
  a single aggregate expression.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def weighted_average(df: DataFrame, data_col: str, weight_col: str, out_col: str = "wavg") -> DataFrame:
    """Single-pass Σ(x·w)/Σ(w); nulls in either column drop the row,
    matching the masked computation at algorithm.py:106-114."""
    x, w = F.col(data_col), F.col(weight_col)
    mask = x.isNotNull() & w.isNotNull()
    return df.agg(
        (F.sum(F.when(mask, x * w)) / F.sum(F.when(mask, w))).alias(out_col)
    )


def column_stats(df: DataFrame, columns: Sequence[str] | None = None, strategy: str = "melt") -> DataFrame:
    """Profile each column: (column, dtype, n_unique, n_null, top_value,
    top_count, second_value). Output is |columns| rows.

    strategy='melt' (default, the wide-table scale path): ONE scan —
    unpivot to (column, value) rows, one (column, value) hash-agg, then
    every statistic (n_unique, n_null, top-2) derives from that tiny
    aggregated table via windows. Scan count is independent of |columns|.

    strategy='per-column': one fused pass for n_unique/n_null plus one
    column-pruned top-2 agg per column — |columns|+1 scans, but no
    row×column explosion; better when rows are huge and columns few.

    Values are stringified so the profile has one schema regardless of
    column types (the reference keeps python objects; utils.py:794-801).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    dtypes = dict(df.dtypes)
    if strategy == "melt":
        return _column_stats_melt(df, cols, dtypes)
    if strategy == "per-column":
        return _column_stats_per_column(df, cols, dtypes)
    raise ValueError(f"unknown strategy {strategy!r}")


def _column_stats_melt(df: DataFrame, cols, dtypes) -> DataFrame:
    n = len(cols)
    args = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    melted = df.selectExpr(f"stack({n}, {args}) as (column, v)")
    counts = melted.groupBy("column", "v").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = counts.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("column").orderBy(
                F.col("v").isNull().cast("int").asc(),  # nulls rank last
                F.col("cnt").desc(),
                F.col("v").asc(),
            )
        ),
    )
    per_col = ranked.groupBy("column").agg(
        F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0)).alias("n_unique"),
        F.coalesce(F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)).alias("n_null"),
        F.max(F.when((F.col("rn") == 1) & F.col("v").isNotNull(), F.col("v"))).alias("top_value"),
        F.max(F.when((F.col("rn") == 1) & F.col("v").isNotNull(), F.col("cnt"))).alias("top_count"),
        F.max(F.when((F.col("rn") == 2) & F.col("v").isNotNull(), F.col("v"))).alias("second_value"),
    )
    spark = df.sparkSession
    dtype_df = F.broadcast(
        spark.createDataFrame([(c, dtypes[c]) for c in cols], "column string, dtype string")
    )
    return per_col.join(dtype_df, "column").select(
        "column", "dtype", "n_unique", "n_null", "top_value", "top_count", "second_value"
    )


def _column_stats_per_column(df: DataFrame, cols, dtypes) -> DataFrame:
    base = df.agg(
        *[F.count_distinct(F.col(c)).alias(f"u_{c}") for c in cols],
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}") for c in cols],
    )

    profiles = []
    for c in cols:
        # top-2 via orderBy().limit(2) — Spark plans a TakeOrdered
        # (per-partition partial top-k + tiny merge), so no global-window
        # single-partition funnel; rank 1 vs 2 is read back from a sorted
        # 2-element struct array ((-cnt, v) ascending == cnt desc, v asc)
        top2 = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("v").asc())
            .limit(2)
        )
        ranked = F.sort_array(
            F.collect_list(
                F.struct((-F.col("cnt")).alias("nc"), F.col("v").alias("v"))
            )
        )
        prof = top2.groupBy().agg(
            F.lit(c).alias("column"),
            F.lit(dtypes[c]).alias("dtype"),
            F.get(ranked, 0)["v"].alias("top_value"),
            (-F.get(ranked, 0)["nc"]).alias("top_count"),
            F.get(ranked, 1)["v"].alias("second_value"),
        )
        profiles.append(prof)
    tops = profiles[0]
    for p_ in profiles[1:]:
        tops = tops.unionByName(p_)

    uniq_nulls = base.selectExpr(
        "stack({n}, {args}) as (column, n_unique, n_null)".format(
            n=len(cols),
            args=", ".join(f"'{c}', u_{c}, n_{c}" for c in cols),
        )
    )
    return uniq_nulls.join(tops, on="column", how="left").select(
        "column", "dtype", "n_unique", "n_null", "top_value", "top_count", "second_value"
    )


# quantiles(mode="auto"): column-pruned plan-size estimate at or under
# which the exact percentile runs; above it, a sketch.
_QUANTILES_EXACT_MAX_BYTES = 8 << 20


def quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    by: Sequence[str] | None = None,
    mode: str = "auto",
    accuracy: int = 10000,
    names: Sequence[str] | None = None,
    bins: str = "global",
) -> DataFrame:
    """Percentiles with size-aware exact/sketch routing.

    ``mode="exact"`` uses ``F.percentile`` (linear interpolation, equal
    to DuckDB ``quantile_cont`` — the oracle-comparable form), which
    buffers EVERY value of a group in executor memory during the
    aggregate: O(n) state per group, a global sort in disguise, and the
    worst grower in the measured scale trend (34.7x wall at 100x rows).
    ``mode="approx"`` uses ``F.percentile_approx`` (Greenwald-Khanna
    sketch, ~1/accuracy rank error): bounded memory, mergeable map-side
    partials, near-constant scaling (8.4x at 100x) — the 100 TB path.

    ``mode="hist"`` uses the shared-bin histogram sketch: one global
    min/max aggregate (broadcast back in-plan), an equal-width bucket
    assignment evaluated inline in the scan, ONE plain (group, bin)
    count — a whole-stage-codegen HashAggregate with fixed-width long
    state, unlike the GK sketch whose per-group quantile buffers force
    ObjectHashAggregate out of codegen — then cumulative-rank
    interpolation on the tiny (≤ groups × n_bins rows) histogram table.
    Error is bounded by BIN WIDTH (value error ≤ range/``accuracy``),
    not rank — the right trade for grouped quantiles over well-ranged
    columns. ``bins="global"`` (default) shares one set of edges across
    all groups (one extra tiny aggregate); ``bins="per_group"`` fits
    each group's edges to ITS min/max, so a narrow-range group keeps
    full resolution even when another group stretches the global range
    by 1000× — at the cost of a per-group stats join instead of a 1-row
    broadcast. Heavy-tailed ranges WITHIN a group should raise
    ``accuracy`` or stay on the GK path.

    ``mode="auto"`` (default) routes on Catalyst's optimized-plan size
    estimate of just the scanned columns (parquet footer bytes scaled by
    column pruning — costs NO job): exact at or under
    ``_QUANTILES_EXACT_MAX_BYTES``; above it, the histogram sketch when
    ``by`` is given (grouped GK measured 76x wall at 1000x rows vs 13x
    ungrouped — the ObjectHashAggregate tax this path removes) and the GK
    sketch ungrouped. The 8 MiB bound flips exact → sketch between the
    oracle/bench scale factors and the 100x tier (measured column-pruned
    estimates: 1.5-3.4 MB at sf0.1, 16-35 MB at sf1), so small data
    keeps bit-exact oracle parity while the growth trend rides the
    sketch; pin ``mode="exact"`` when bit-exact quantiles matter on
    bigger scans. Same data-sized tiering as ``connected_components``
    and ``derive_cms_width`` — callers keep one API.

    CAVEAT: ``mode="auto"`` trusts Catalyst plan stats, which are only
    calibrated for scan-rooted inputs (parquet footer bytes × pruning).
    A join/aggregate-DERIVED frame reports selectivity-heuristic
    estimates that can be absurd (measured: 15 PB for a 500-row joined
    frame), misrouting auto to the sketch. Computed inputs should pin
    ``mode="exact"`` (small data) or ``mode="hist"`` (the scale path).
    """
    if mode not in ("auto", "exact", "approx", "hist"):
        raise ValueError("mode must be 'auto', 'exact', 'approx' or 'hist'")
    probs = list(probs)
    if names is None:
        names = [f"q{str(p).replace('.', '_')}" for p in probs]
    if len(names) != len(probs):
        raise ValueError("names must match probs")
    group_cols = list(by) if by else []
    scanned = df.select(*group_cols, value_col)
    if mode == "auto":
        if estimate_size_bytes(scanned, "plan") <= _QUANTILES_EXACT_MAX_BYTES:
            mode = "exact"
        else:
            mode = "hist" if group_cols else "approx"
    if mode == "hist":
        return _hist_quantiles(
            scanned, value_col, probs, names, group_cols, accuracy, bins=bins
        )
    if mode == "exact":
        arr = F.percentile(value_col, F.lit(probs))
    else:
        arr = F.percentile_approx(value_col, F.lit(probs), F.lit(accuracy))
    aggs = [arr[i].alias(n) for i, n in enumerate(names)]
    grouped = scanned.groupBy(*group_cols) if group_cols else scanned
    return grouped.agg(*aggs)


def _hist_quantiles(
    scanned: DataFrame,
    value_col: str,
    probs: Sequence[float],
    names: Sequence[str],
    group_cols: list,
    n_bins: int,
    bins: str = "global",
) -> DataFrame:
    """Shared-bin histogram quantile sketch, fully codegen on the data
    path. Every arithmetic step is written as an explicit IEEE-double
    formula (no ``width_bucket`` builtin) so a SQL oracle evaluating the
    IDENTICAL expressions is bit-equal:

    1. ``(lo, hi)`` = global min/max of the value column (one codegen
       aggregate, broadcast back in-plan via a 1-row cross join);
    2. ``bin = least(n, floor((v - lo) * n / (hi - lo)) + 1)`` inline in
       the scan projection, then ONE (group, bin) count — fixed-width
       HashAggregate state, which is the entire point vs per-group GK;
    3. on the ≤ groups × n_bins histogram: cumulative counts per group
       (window over the tiny table), continuous rank
       ``t = 1 + p * (total - 1)``, and linear interpolation inside the
       bucket containing t, assuming uniform mass within the bucket:
       ``bin_lo + (t - cum_before) / cnt * width``.

    Degenerate all-equal columns (hi == lo) return lo for every prob.
    Guarantee: the estimate lies within one bin width of the CLOSED
    VALUE INTERVAL between the floor(t)-th and ceil(t)-th order
    statistics — i.e. rank error < 1 plus value error ≤ range/n_bins
    (range is per-group under ``bins="per_group"``). In a value-sparse
    region the exact continuous quantile interpolates across the gap
    while the sketch snaps to the occupied bucket, so the raw value
    difference can exceed a bin width there (it is still inside the two
    order statistics ± one bin)."""
    if bins not in ("global", "per_group"):
        raise ValueError("bins must be 'global' or 'per_group'")
    v = F.col(value_col).cast("double")
    data = scanned.filter(F.col(value_col).isNotNull())
    if bins == "per_group" and group_cols:
        # per-group edges: a (groups)-row stats dim joined back on the
        # group key — broadcast-eligible whenever groups ≪ corpus (the
        # normal case; Catalyst/AQE picks the strategy from its size).
        # eqNullSafe: a null group label is a real group everywhere else
        # in this function (groupBy/window keep it), so a plain equi-join
        # here would silently drop its rows.
        stats = data.groupBy(*group_cols).agg(
            F.min(v).alias("__lo"), F.max(v).alias("__hi")
        )
        for c in group_cols:
            stats = stats.withColumnRenamed(c, f"__st_{c}")
        cond = None
        for c in group_cols:
            e = F.col(c).eqNullSafe(F.col(f"__st_{c}"))
            cond = e if cond is None else (cond & e)
        withb = data.join(stats, cond).drop(*[f"__st_{c}" for c in group_cols])
    else:
        stats = data.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
        withb = data.crossJoin(F.broadcast(stats))
    lo, hi = F.col("__lo"), F.col("__hi")
    span = hi - lo
    nb = F.lit(float(n_bins))
    bucket = F.when(
        span > 0,
        F.least(F.lit(n_bins).cast("bigint"), F.floor((v - lo) * nb / span) + 1),
    ).otherwise(F.lit(1).cast("bigint"))
    hist = withb.groupBy(*group_cols, lo, hi, bucket.alias("__bin")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    wg = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy(F.lit(1))
    h = hist.select(
        *group_cols,
        "__lo",
        "__hi",
        "__bin",
        "__cnt",
        F.sum("__cnt").over(wg.orderBy("__bin")).alias("__cum"),
        F.sum("__cnt").over(wg).alias("__tot"),
    )
    width = span / nb
    bin_lo = lo + (F.col("__bin") - 1).cast("double") * width
    aggs = []
    for p, name in zip(probs, names):
        t = F.lit(1.0) + F.lit(float(p)) * (F.col("__tot").cast("double") - F.lit(1.0))
        before = (F.col("__cum") - F.col("__cnt")).cast("double")
        hit = (before < t) & (t <= F.col("__cum").cast("double"))
        val = F.when(
            span > 0,
            bin_lo + (t - before) / F.col("__cnt").cast("double") * width,
        ).otherwise(lo)
        aggs.append(F.min(F.when(hit, val)).alias(name))
    grouped = h.groupBy(*group_cols) if group_cols else h.groupBy()
    return grouped.agg(*aggs)


def estimate_size_bytes(df: DataFrame, method: str = "plan") -> int:
    """Deep-size of a frame — the `sizeof` analog
    (/root/reference/epic/pandas/utils.py:451-466).

    method="plan" (default): Catalyst's optimized-plan statistics
    (parquet footer sizes × selectivity heuristics) — costs no job at
    all; the right answer for "should I broadcast this?".

    method="arrow": the MEASURED serialized size — one distributed pass
    summing per-Arrow-batch byte counts via mapInArrow (each task ships
    back one long, never the data). The honest analog of the reference's
    recursive getsizeof walk, at the cost of one job."""
    if method == "plan":
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if method != "arrow":
        raise ValueError("method must be 'plan' or 'arrow'")
    import pyarrow as pa

    def measure(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([batch.nbytes], type=pa.int64())], ["nbytes"]
            )

    row = df.mapInArrow(measure, "nbytes long").agg(
        F.coalesce(F.sum("nbytes"), F.lit(0)).alias("n")
    ).first()
    return int(row["n"])


def binary_classification_metrics(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Corpus-scale evaluation for a binary scorer (the missing half of
    model-based curation: after `train_quality_classifier` fits and
    `hashed_feature_scores` serves, this grades): EXACT AUC via the
    Mann-Whitney U statistic plus the thresholded confusion metrics, in
    one row — ``(n_pos, n_neg, auc, tp, fp, tn, fn, accuracy,
    precision, recall, f1)``.

    AUC = [ sum_s np(s)·nn_below(s) + 0.5·sum_s np(s)·nn(s) ] / (P·N)
    over DISTINCT scores s — the average-rank/tie-corrected form,
    identical to sklearn's roc_auc_score. Exactness: every term is an
    integer product, so the statistic is an exact integer ratio — no
    fp-accumulation drift, oracle-comparable bit for bit.

    Plan at 100 TB: ONE pass over the corpus builds the distinct-score
    table (hash aggregate with map-side partials — |distinct scores|
    rows, the natural compression of a classifier's output space); the
    cumulative-negatives prefix runs through ``global_cumsum`` (range
    partition + broadcast offsets — never a single-partition window);
    the final reduction is one aggregate over the score table. Null
    scores and null labels are excluded (unscorable rows can't be
    ranked). Labels must be 0/1."""
    from epic_pandas_spark.operators.windows import global_cumsum

    y = F.col(label_col).cast("double")
    t = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
    )
    t = global_cumsum(t, "__nn", "__s", out_col="__cum_nn")
    t = t.withColumn("__nn_below", F.col("__cum_nn") - F.col("__nn"))
    th = F.lit(float(threshold))
    agg = t.agg(
        F.sum("__np").alias("n_pos"),
        F.sum("__nn").alias("n_neg"),
        F.sum(F.col("__np") * F.col("__nn_below")).alias("__u_wins"),
        F.sum(F.col("__np") * F.col("__nn")).alias("__u_ties"),
        F.sum(F.when(F.col("__s") >= th, F.col("__np")).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("__s") >= th, F.col("__nn")).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("__s") < th, F.col("__nn")).otherwise(0)).alias("tn"),
        F.sum(F.when(F.col("__s") < th, F.col("__np")).otherwise(0)).alias("fn"),
    )
    pn = F.col("n_pos") * F.col("n_neg")
    prec_den = F.col("tp") + F.col("fp")
    rec_den = F.col("tp") + F.col("fn")
    prec = F.when(prec_den > 0, F.col("tp") / prec_den)
    rec = F.when(rec_den > 0, F.col("tp") / rec_den)
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(pn > 0, (F.col("__u_wins") + 0.5 * F.col("__u_ties")) / pn).alias("auc"),
        "tp", "fp", "tn", "fn",
        ((F.col("tp") + F.col("tn"))
         / (F.col("n_pos") + F.col("n_neg"))).alias("accuracy"),
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(
            (prec_den > 0) & (rec_den > 0) & (prec + rec > 0),
            2 * prec * rec / (prec + rec),
        ).alias("f1"),
    )


def roc_curve(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC operating points, one row per DISTINCT score used as
    the decision threshold (predict positive when ``score >= s``):
    ``(score, tp, fp, fn, tn, tpr, fpr, precision)`` ordered by
    descending score — the model-selection companion to
    :func:`binary_classification_metrics` (pick the threshold, then
    grade it). Every count is an exact integer (cumulative class
    counts over the distinct-score table), so tpr/fpr/precision are
    exact integer ratios — oracle-comparable bit for bit.

    Plan: the same ONE corpus pass -> distinct-score hash aggregate,
    then two ``global_cumsum`` prefixes (np, nn) over the tiny table
    (range partition + broadcast offsets; never a single-partition
    window), and the operating points derive arithmetically. Null
    scores/labels are excluded."""
    from epic_pandas_spark.operators.windows import global_cumsums

    y = F.col(label_col).cast("double")
    t = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("score"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
    )
    t = global_cumsums(
        t, ["__np", "__nn"], "score", out_cols=["__cum_np", "__cum_nn"]
    )
    totals = t.agg(
        F.sum("__np").alias("__p"), F.sum("__nn").alias("__n")
    )
    t = t.crossJoin(F.broadcast(totals))
    tp = F.col("__p") - (F.col("__cum_np") - F.col("__np"))
    fp = F.col("__n") - (F.col("__cum_nn") - F.col("__nn"))
    fn = F.col("__p") - tp
    tn = F.col("__n") - fp
    return (
        t.select(
            "score",
            tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn"),
            F.when(F.col("__p") > 0, tp / F.col("__p")).alias("tpr"),
            F.when(F.col("__n") > 0, fp / F.col("__n")).alias("fpr"),
            F.when(tp + fp > 0, tp / (tp + fp)).alias("precision"),
        )
        .orderBy(F.col("score").desc())
    )


def grouped_auc(df: DataFrame, score_col: str, label_col: str, by) -> DataFrame:
    """Per-group exact AUC — the per-domain/per-language evaluation cut
    of :func:`binary_classification_metrics` ("is the quality model
    fair across sources, or does one domain's signal carry it?").
    Returns one row per group: ``(*by, n_pos, n_neg, auc)``; a group
    with only one class gets a null auc (no rankable pairs). A null
    group label is a real group (groupBy semantics).

    Same exact integer Mann-Whitney U as the ungrouped form, but the
    cumulative-negatives prefix is a window PARTITIONED BY the group —
    each group's distinct-score slice sorts within its own partition,
    so this scales with groups × distinct-scores-per-group and never
    funnels through one task (the ungrouped operator needs
    ``global_cumsum`` precisely because it lacks this partition key)."""
    group_cols = [by] if isinstance(by, str) else list(by)
    y = F.col(label_col).cast("double")
    t = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_cols, F.col(score_col).alias("__s"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("__nn_below", F.coalesce(F.sum("__nn").over(w), F.lit(0)))
    agg = t.groupBy(*group_cols).agg(
        F.sum("__np").alias("n_pos"),
        F.sum("__nn").alias("n_neg"),
        F.sum(F.col("__np") * F.col("__nn_below")).alias("__u_wins"),
        F.sum(F.col("__np") * F.col("__nn")).alias("__u_ties"),
    )
    pn = F.col("n_pos") * F.col("n_neg")
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.when(pn > 0, (F.col("__u_wins") + 0.5 * F.col("__u_ties")) / pn).alias("auc"),
    )


def grouped_roc(df: DataFrame, score_col: str, label_col: str, by) -> DataFrame:
    """Per-group exact ROC operating points — the threshold-selection
    companion to :func:`grouped_auc` (per-domain AUC answers "is the
    model fair across domains"; per-domain ROC answers "which threshold
    should EACH domain use", since a global cutoff misfires when score
    distributions shift across sources/languages). One row per (group,
    distinct score) with the score as the decision threshold (predict
    positive when ``score >= s``): ``(*by, score, tp, fp, fn, tn, tpr,
    fpr, precision)`` — every count an exact integer, so the ratios are
    exact and oracle-comparable bit for bit. Groups with a single class
    get null tpr or fpr (no denominator), same convention as
    :func:`roc_curve`. A null group label is a real group.

    Plan at 100 TB: ONE corpus pass -> (group, score) hash aggregate
    (|groups × distinct scores per group| rows — the natural
    compression of a classifier's output space), then the cumulative
    class counts and per-group totals run through windows PARTITIONED
    BY the group: each group's slice sorts within its own partition, so
    the op scales with groups and never funnels through one task (the
    ungrouped :func:`roc_curve` needs ``global_cumsum`` precisely
    because it lacks this partition key)."""
    group_cols = [by] if isinstance(by, str) else list(by)
    y = F.col(label_col).cast("double")
    t = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_cols, F.col(score_col).alias("score"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
    )
    w_below = (
        Window.partitionBy(*group_cols)
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*group_cols)
    # counts strictly below the threshold score; group totals from the
    # same partition key, so both windows share ONE (group) shuffle
    np_below = F.coalesce(F.sum("__np").over(w_below), F.lit(0))
    nn_below = F.coalesce(F.sum("__nn").over(w_below), F.lit(0))
    t = t.select(
        *group_cols,
        "score",
        np_below.alias("__np_below"),
        nn_below.alias("__nn_below"),
        F.sum("__np").over(w_all).alias("__p"),
        F.sum("__nn").over(w_all).alias("__n"),
    )
    tp = F.col("__p") - F.col("__np_below")
    fp = F.col("__n") - F.col("__nn_below")
    fn = F.col("__np_below")
    tn = F.col("__nn_below")
    return (
        t.select(
            *group_cols,
            "score",
            tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn"),
            F.when(F.col("__p") > 0, tp / F.col("__p")).alias("tpr"),
            F.when(F.col("__n") > 0, fp / F.col("__n")).alias("fpr"),
            F.when(tp + fp > 0, tp / (tp + fp)).alias("precision"),
        )
        .orderBy(*group_cols, F.col("score").desc())
    )


def _calibration_bin_table(
    df: DataFrame, score_col: str, label_col: str, n_bins: int
) -> DataFrame:
    """Shared one-pass (bin -> n, sum_score, sum_pos) hash aggregate for
    the calibration family. Scores are probabilities in [0, 1]; bin i
    covers [i/n_bins, (i+1)/n_bins) with the top edge folded into the
    last bin (the standard equal-width reliability binning). Null
    scores/labels are excluded (an unscored row has no confidence to
    calibrate)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.floor(s * F.lit(float(n_bins))).cast("int"), F.lit(n_bins - 1)
    )
    return (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(s).alias("__sum_s"),
            F.sum(y).alias("__sum_y"),
        )
    )


def calibration_bins(
    df: DataFrame, score_col: str, label_col: str, n_bins: int = 10
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic binary scorer — the
    calibration companion to :func:`binary_classification_metrics` (AUC
    grades RANKING; calibration grades whether a score of 0.8 means 80%
    — which is what matters when classifier scores are consumed as
    WEIGHTS downstream: soft-dedup sampling weights, mixture-resampling
    budgets, quality-threshold cutoffs). One row per non-empty
    equal-width bin of the score: ``(bin, n, conf, acc, gap)`` where
    ``conf`` is the mean predicted probability in the bin, ``acc`` the
    observed positive rate, and ``gap = acc - conf`` (positive =
    underconfident).

    Plan at 100 TB: ONE corpus pass into an ``n_bins``-row hash
    aggregate (map-side partials; the shuffle carries n_bins rows per
    task, constant in corpus size). No reference analog (the reference
    has no model-evaluation tier); extension per SURVEY §2 obligations.
    """
    t = _calibration_bin_table(df, score_col, label_col, n_bins)
    return t.select(
        "bin",
        "n",
        (F.col("__sum_s") / F.col("n")).alias("conf"),
        (F.col("__sum_y") / F.col("n")).alias("acc"),
        ((F.col("__sum_y") - F.col("__sum_s")) / F.col("n")).alias("gap"),
    ).orderBy("bin")


def calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    eps: float = 1e-15,
) -> DataFrame:
    """One-row calibration scorecard: ``(n, ece, mce, brier, log_loss)``.

    - ``ece`` — expected calibration error, Σ_b (n_b/N)·|acc_b − conf_b|
      over the same equal-width bins as :func:`calibration_bins`;
    - ``mce`` — the max per-bin |acc − conf| (worst-bin miscalibration);
    - ``brier`` — mean squared error of the probability, mean((s−y)²),
      a PROPER score (unlike ECE it can't be gamed by binning);
    - ``log_loss`` — −mean(y·ln s + (1−y)·ln(1−s)) with s clamped to
      [eps, 1−eps] (sklearn's convention), the loss the downstream
      logistic trainer actually optimizes.

    Plan at 100 TB: brier/log_loss fold into the SAME single corpus
    pass as the bin table (per-bin sums of (s−y)² and the log terms),
    then one n_bins-row final reduction — the whole scorecard is one
    scan + two tiny aggregates, constant-size shuffle."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.floor(s * F.lit(float(n_bins))).cast("int"), F.lit(n_bins - 1)
    )
    sc = F.greatest(F.least(s, F.lit(1.0 - eps)), F.lit(float(eps)))
    t = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("__bin"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(s).alias("__sum_s"),
            F.sum(y).alias("__sum_y"),
            F.sum((s - y) * (s - y)).alias("__sum_sq"),
            F.sum(
                -(y * F.log(sc) + (1.0 - y) * F.log(1.0 - sc))
            ).alias("__sum_ll"),
        )
    )
    gap = F.abs(F.col("__sum_y") - F.col("__sum_s")) / F.col("__n")
    return t.agg(
        F.sum("__n").alias("n"),
        (F.sum(gap * F.col("__n")) / F.sum("__n")).alias("ece"),
        F.max(gap).alias("mce"),
        (F.sum("__sum_sq") / F.sum("__n")).alias("brier"),
        (F.sum("__sum_ll") / F.sum("__n")).alias("log_loss"),
    )


def average_precision(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    sklearn's step-wise `average_precision_score` definition:
    AP = Σ_k (R_k − R_{k−1})·P_k over thresholds descending) — the
    PR-side companion to the exact AUC: on heavily imbalanced corpora
    (quality filtering: a few percent positives) ROC-AUC saturates
    while AP keeps discriminating, because precision is sensitive to
    the negative flood. One row: ``(n_pos, n_neg, ap)``.

    Every P_k and ΔR_k is an exact integer ratio over the
    distinct-score table (ties handled as one threshold step, exactly
    sklearn's convention), so the sum is oracle-comparable at 6dp.

    Plan at 100 TB: the same ONE corpus pass -> distinct-score hash
    aggregate as the AUC/ROC family, one ``global_cumsum`` prefix
    (range partition + broadcast offsets — never a single-partition
    window), then a 1-row reduction. Null scores/labels excluded."""
    from epic_pandas_spark.operators.windows import global_cumsums

    y = F.col(label_col).cast("double")
    t = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
    )
    t = global_cumsums(
        t, ["__np", "__nn"], "__s", out_cols=["__cum_np", "__cum_nn"]
    )
    totals = t.agg(F.sum("__np").alias("__p"), F.sum("__nn").alias("__n"))
    t = t.crossJoin(F.broadcast(totals))
    # predict positive at threshold __s: everything with score >= __s
    tp = F.col("__p") - (F.col("__cum_np") - F.col("__np"))
    fp = F.col("__n") - (F.col("__cum_nn") - F.col("__nn"))
    # ΔR at this step = this threshold's positives / P; P_k = tp/(tp+fp)
    term = (F.col("__np") / F.col("__p")) * (tp / (tp + fp))
    return t.agg(
        F.max("__p").cast("bigint").alias("n_pos"),
        F.max("__n").cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("__np") > 0, term).otherwise(0.0)).alias("ap"),
    )


def grouped_average_precision(
    df: DataFrame, score_col: str, label_col: str, by
) -> DataFrame:
    """Per-group exact average precision — the last cell of the grouped
    eval matrix (per-group AUC grades ranking, per-group ROC picks
    thresholds, per-group calibration checks probabilities; per-group
    AP is the imbalance-robust ranking grade, the one that keeps
    discriminating when one domain is 1% positives). One row per group:
    ``(*by, n_pos, n_neg, ap)``; a group with no positives has no
    recall axis and gets a null ap. A null group label is a real group.

    Same step-wise sklearn definition as :func:`average_precision`,
    same (group, distinct score) hash aggregate as :func:`grouped_auc`
    — the cumulative class counts ride windows PARTITIONED BY the
    group, so the op scales with groups and never funnels through one
    task."""
    group_cols = [by] if isinstance(by, str) else list(by)
    y = F.col(label_col).cast("double")
    t = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_cols, F.col(score_col).alias("__s"))
        .agg(
            F.sum(F.when(y == 1.0, 1).otherwise(0)).alias("__np"),
            F.sum(F.when(y == 1.0, 0).otherwise(1)).alias("__nn"),
        )
    )
    w_below = (
        Window.partitionBy(*group_cols)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*group_cols)
    np_below = F.coalesce(F.sum("__np").over(w_below), F.lit(0))
    nn_below = F.coalesce(F.sum("__nn").over(w_below), F.lit(0))
    p_tot = F.sum("__np").over(w_all)
    n_tot = F.sum("__nn").over(w_all)
    tp = p_tot - np_below
    fp = n_tot - nn_below
    term = F.when(
        (F.col("__np") > 0) & (p_tot > 0),
        (F.col("__np") / p_tot) * (tp / (tp + fp)),
    ).otherwise(0.0)
    agg = t.select(*group_cols, "__np", "__nn", p_tot.alias("__p"), term.alias("__t")).groupBy(
        *group_cols
    ).agg(
        F.sum("__np").cast("bigint").alias("n_pos"),
        F.sum("__nn").cast("bigint").alias("n_neg"),
        F.sum("__t").alias("__ap"),
    )
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.when(F.col("n_pos") > 0, F.col("__ap")).alias("ap"),
    )


def grouped_calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by,
    n_bins: int = 10,
    eps: float = 1e-15,
) -> DataFrame:
    """Per-group calibration scorecard — the per-domain/per-language cut
    of :func:`calibration_summary`, completing the grouped eval family
    (:func:`grouped_auc` grades per-domain ranking, :func:`grouped_roc`
    picks per-domain thresholds, THIS grades whether each domain's
    probabilities mean what they say — a model calibrated in aggregate
    can be badly miscalibrated on one source, silently skewing that
    source's sampling weights). One row per group:
    ``(*by, n, ece, mce, brier, log_loss)``; a null group label is a
    real group (groupBy semantics).

    Plan at 100 TB: ONE corpus pass into a (group, bin) hash aggregate
    — |groups| x n_bins rows, the natural compression — then a per-group
    reduction on the same key prefix; no windows, no global funnel."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    group_cols = [by] if isinstance(by, str) else list(by)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.floor(s * F.lit(float(n_bins))).cast("int"), F.lit(n_bins - 1)
    )
    sc = F.greatest(F.least(s, F.lit(1.0 - eps)), F.lit(float(eps)))
    t = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(*group_cols, b.alias("__bin"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(s).alias("__sum_s"),
            F.sum(y).alias("__sum_y"),
            F.sum((s - y) * (s - y)).alias("__sum_sq"),
            F.sum(
                -(y * F.log(sc) + (1.0 - y) * F.log(1.0 - sc))
            ).alias("__sum_ll"),
        )
    )
    gap = F.abs(F.col("__sum_y") - F.col("__sum_s")) / F.col("__n")
    return t.groupBy(*group_cols).agg(
        F.sum("__n").alias("n"),
        (F.sum(gap * F.col("__n")) / F.sum("__n")).alias("ece"),
        F.max(gap).alias("mce"),
        (F.sum("__sum_sq") / F.sum("__n")).alias("brier"),
        (F.sum("__sum_ll") / F.sum("__n")).alias("log_loss"),
    )
