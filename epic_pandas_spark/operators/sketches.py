"""Mergeable cardinality sketches (Apache DataSketches HLL via Spark's
built-in `hll_sketch_agg` / `hll_union_agg`).

The 100 TB pattern for distinct counts: exact `count(distinct x)` needs a
full shuffle of every distinct value; an HLL sketch is a few KB per
group, composes associatively, and — crucially — PERSISTS. A pipeline
can keep a per-shard/per-day sketch table (like the incremental-dedup
fingerprint store in extensions.dedup) and answer "distinct users this
quarter, per domain" by unioning stored sketches without ever re-reading
the quarter's data. Standard HLL error is ~1.04/sqrt(2^lg_k) relative
(~1.6% at lg_k=12).

All functions stay JVM-side; sketches travel as BinaryType columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def distinct_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lg_k: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per key group:
    (keys..., sketch binary). Partial aggregation is map-side (sketches
    merge associatively), so the shuffle carries one ~2^lg_k-byte sketch
    per (partition, key), never the values themselves."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias(sketch_col)
    )


def rollup_distinct_sketches(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Merge per-group sketches up to a coarser key set (possibly empty
    for a global total) and estimate: (keys..., approx_distinct long).
    This is the sketch-store read path — input can be a persisted sketch
    table spanning many ingest batches; no raw data is touched."""
    grouped = sketches.groupBy(*keys) if keys else sketches.groupBy()
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(out_col)
    )


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Textbook Bloom sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2),
    with m rounded up to whole 64-bit words."""
    import math

    if expected_items < 1 or not (0.0 < fpp < 1.0):
        raise ValueError("expected_items must be >= 1 and 0 < fpp < 1")
    m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round((m / expected_items) * math.log(2)))
    return m, k


def _bloom_hashes(col, m: int):
    """Kirsch–Mitzenmacher double hashing, pre-reduced mod m so the
    position arithmetic (h1 + i·h2) stays far below int64 (ANSI-safe:
    raw xxhash64 values would overflow the multiply). h2 is forced odd
    and nonzero so the k probe positions never collapse onto one bit."""
    h1 = F.pmod(F.xxhash64(col), F.lit(m))
    h2 = F.pmod(F.xxhash64(col, F.lit(104729)), F.lit(m)) * 2 + 1
    return h1, h2


def bloom_filter_build(
    df: DataFrame,
    col: str,
    expected_items: int,
    fpp: float = 0.01,
) -> tuple[list[int], int, int]:
    """Distributed Bloom-filter build over ``col``, pure DataFrame ops:
    each row derives k bit positions by double hashing
    (h1 + i·h2 mod m, the Kirsch–Mitzenmacher construction over two
    independent xxhash64 seeds), explodes to (word_index, bit_mask)
    pairs, and one groupBy ORs the masks per word. The shuffle carries
    k×N 12-byte pairs — never the values — with map-side partial
    bit_or combining, then m/64 longs collect to the driver.

    Returns (words, m_bits, k_hashes) — a few KB to broadcast into
    `bloom_might_contain_expr`. False negatives are impossible; false
    positives ≈ fpp at the sized load factor (property-tested)."""
    m, k = _bloom_params(expected_items, fpp)
    n_words = m // 64
    h1, h2 = _bloom_hashes(F.col(col), m)
    pos = [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]
    pairs = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    (p / 64).cast("int").alias("w"),
                    # column-valued shift amount needs the SQL function form
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
                    ).alias("mask"),
                )
                for p in pos
            ])
        ).alias("e")
    ).select("e.w", "e.mask")
    rows = pairs.groupBy("w").agg(F.bit_or("mask").alias("bits")).collect()
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["bits"]
    return words, m, k


def bloom_might_contain_expr(col, words: list[int], m_bits: int, k_hashes: int):
    """Membership-test expression against a built Bloom filter: k bit
    probes into a broadcast array literal — whole-stage-codegen, no
    Python, no join. Use as a pre-filter so an exact anti-join (e.g. the
    incremental-dedup store check) only touches the ~fpp fraction of
    rows that might be present."""
    col = F.col(col) if isinstance(col, str) else col
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    h1, h2 = _bloom_hashes(col, m_bits)
    test = F.lit(True)
    for i in range(k_hashes):
        p = F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )
        test = test & (word.bitwiseAND(bit) != 0)
    return test


def histogram_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    sketch_col: str = "hist",
) -> DataFrame:
    """Mergeable QUANTILE sketches — the quantile analog of the HLL store:
    one fixed-range equi-width histogram (array<long> of n_bins counts,
    plus below/above overflow slots at indexes 0 and n_bins+1) per key
    group. Counts merge by elementwise vector add, so per-shard/per-day
    sketch tables roll up to any coarser key without re-reading data, and
    any quantile is answerable to within one bin width
    ((hi-lo)/n_bins — the deterministic error bound, unlike a sampled
    t-digest). Build is one groupBy over (key, bin) then a pivot-free
    array_agg: shuffles carry 12-byte (key, bin, count) partials, never
    values."""
    if not (hi > lo) or n_bins < 1:
        raise ValueError("need hi > lo and n_bins >= 1")
    width = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_idx = (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(n_bins + 1))
        .otherwise(F.floor((v - F.lit(lo)) / F.lit(width)).cast("int") + 1)
    )
    counts = (
        df.withColumn("__bin", bin_idx)
        .groupBy(*keys, "__bin")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # dense array assembly: aggregate (bin, n) structs per key, then
    # scatter into a zero-initialized array expression — no second shuffle
    pairs = counts.groupBy(*keys).agg(
        F.collect_list(F.struct("__bin", "__n")).alias("__pairs")
    )
    zeros = F.array_repeat(F.lit(0).cast("long"), n_bins + 2)
    scattered = F.aggregate(
        F.col("__pairs"),
        zeros,
        lambda acc, p: F.transform(
            acc,
            lambda c, i: F.when(i == p["__bin"], c + p["__n"]).otherwise(c),
        ),
    )
    return pairs.select(*keys, scattered.alias(sketch_col))


def merge_histogram_sketches(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "hist",
) -> DataFrame:
    """Roll stored histogram sketches up to a coarser key set (empty for
    global): elementwise vector add via zip_with fold — associative and
    commutative, so partial aggregation stays map-side."""
    grouped = sketches.groupBy(*keys) if keys else sketches.groupBy()
    merged = F.aggregate(
        F.collect_list(sketch_col),
        F.array_repeat(F.lit(0).cast("long"), F.size(F.first(sketch_col))).cast("array<long>"),
        lambda acc, h: F.zip_with(acc, h, lambda a, b: a + b),
    )
    return grouped.agg(merged.alias(sketch_col))


def histogram_quantile_expr(sketch_col, q: float, lo: float, hi: float):
    """Quantile estimate from a histogram sketch: walk the cumulative
    counts to the q·N-th value's bin and return the bin's midpoint —
    error <= half a bin width for in-range data. Pure expressions
    (aggregate + filter over the array), codegen-friendly, no UDF."""
    if not (0.0 <= q <= 1.0):
        raise ValueError("q must be in [0, 1]")
    h = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    n_bins = F.size(h) - 2
    width = (F.lit(hi) - F.lit(lo)) / n_bins
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, b: a + b)
    target = F.ceil(F.lit(q) * total).cast("long")
    # rank of the target bin: number of bins whose cumulative count is
    # still below the target
    cum = F.transform(
        F.sequence(F.lit(1), F.size(h)),
        lambda i: F.aggregate(F.slice(h, 1, i), F.lit(0).cast("long"), lambda a, b: a + b),
    )
    idx = F.size(F.filter(cum, lambda c: c < F.greatest(target, F.lit(1)))) + 1
    # idx 1 = below-range slot -> clamp to lo; idx n_bins+2 -> clamp to hi
    mid = F.lit(lo) + (idx.cast("double") - 1.5) * width
    return F.least(F.greatest(mid, F.lit(lo)), F.lit(hi))


def quantile_anchor_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: int = 128,
) -> DataFrame:
    """RANGE-FREE mergeable quantile sketches — the store the
    fixed-range histogram sketch above cannot be: no a-priori
    ``[lo, hi]`` (the reason KLL/t-digest exist; a latency column whose
    tail moves, a length column across corpora). One sketch per key
    group = the group's EXACT values at ``q`` evenly spaced ranks
    (type-1 lower quantiles, rank ``ceil(j*n/q)`` for j=1..q) plus the
    group count: ``(keys..., j, v, n_rows)``, exactly q rows per group
    however large the group. Each anchor j carries mass ``n/q``, so a
    stored sketch is a step-function summary of the group's CDF with
    deterministic rank error <= n/q — and summaries from different
    shards/days MERGE by weighted concatenation
    (:func:`quantile_anchor_rollup`), the roll-up discipline of every
    store in this module. Unlike a sampled t-digest the anchor set is a
    pure function of the sorted data: bit-stable across runs and
    SQL-replayable, so the whole store is oracle-exact.

    Plan: one window sort WITHIN each key group (rank + count — the
    same shuffle class as the per-group bottom-k in
    :func:`kmv_sketches`: keyed rows, never a global sort), then each
    row expands to the anchor indexes it serves (``j`` with
    ``ceil(j*n/q) == rn``) via a sequence — rows that anchor nothing
    are dropped map-side, so the output is |groups| x q."""
    if q < 1:
        raise ValueError("q must be >= 1")
    keys = list(keys)
    v = F.col(value_col).cast("double")
    w = Window.partitionBy(*keys).orderBy("v")
    wn = Window.partitionBy(*keys)
    ranked = (
        df.filter(v.isNotNull())
        .select(*keys, v.alias("v"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_rows", F.count(F.lit(1)).over(wn))
    )
    # row rn anchors j in (q*(rn-1)/n, q*rn/n]: j_lo..j_hi
    q_ = F.lit(q).cast("long")
    n = F.col("n_rows").cast("long")
    rn = F.col("__rn").cast("long")
    j_lo = F.floor((q_ * (rn - 1)) / n) + 1
    j_hi = F.floor((q_ * rn) / n)
    return (
        ranked.filter(j_hi >= j_lo)
        .select(
            *keys,
            F.explode(F.sequence(j_lo.cast("int"), j_hi.cast("int"))).alias("j"),
            "v",
            "n_rows",
        )
    )


def quantile_anchor_rollup(
    sketches: DataFrame,
    keys: Sequence[str],
    probs: Sequence[float],
    q: int = 128,
) -> DataFrame:
    """Quantiles of the UNION of the corpora behind stored anchor
    sketches, rolled up to a coarser key set (empty for global) — raw
    data untouched: anchor j of a group with ``n_rows`` values carries
    mass ``n_rows/q``, so the merged CDF is the weight-ordered anchor
    sequence and quantile p is the first anchor whose cumulative mass
    reaches ``p * total_mass`` (type-1 on the merged step function).
    Deterministic — same sketches, same doubles — and rank error is
    bounded by the sum of per-group ``n/q`` masses, i.e. <= N/q
    overall (pytest-witnessed). Every step runs on sketch rows
    (|groups| x q), never data. Output: one row per (coarse key,
    prob): ``(keys..., prob, quantile_est)``."""
    if q < 1:
        raise ValueError("q must be >= 1")
    for p in probs:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"probs must be in (0, 1], got {p}")
    keys = list(keys)
    mass = (F.col("n_rows").cast("double") / F.lit(float(q))).alias("__mass")
    rows = sketches.select(*keys, "v", mass)
    wsum = Window.partitionBy(*keys) if keys else Window.partitionBy()
    # cumulative mass in value order; ties collapse to the same value so
    # any within-tie order yields the same quantile
    wcum = (
        Window.partitionBy(*keys).orderBy("v")
        if keys
        else Window.partitionBy().orderBy("v")
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = rows.withColumn("__cum", F.sum("__mass").over(wcum)).withColumn(
        "__total", F.sum("__mass").over(wsum)
    )
    # one pass for all probs: smallest v whose cum mass reaches p*total
    per_p = [
        F.min(
            F.when(
                F.col("__cum") >= F.lit(p) * F.col("__total") - F.lit(1e-9),
                F.col("v"),
            )
        ).alias(f"__q{i}")
        for i, p in enumerate(probs)
    ]
    agg = (cum.groupBy(*keys) if keys else cum.groupBy()).agg(*per_p)
    stack = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(float(p)).alias("prob"), F.col(f"__q{i}").alias("quantile_est")
                )
                for i, p in enumerate(probs)
            ]
        )
    ).alias("__s")
    return agg.select(*keys, stack).select(
        *keys, F.col("__s.prob").alias("prob"), F.col("__s.quantile_est").alias("quantile_est")
    )


def cms_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    sketch_col: str = "cms",
) -> DataFrame:
    """Mergeable FREQUENCY sketches (Count-Min, Cormode & Muthukrishnan
    2005) — the point-frequency analog of the HLL store: one
    depth×width counter matrix (flattened array<long>) per key group.
    Row d of the matrix counts on hash xxhash64(value, d) mod width;
    counters merge by elementwise vector add (same roll-up discipline as
    the histogram sketch store), so per-shard/per-day sketches answer
    "how often did x occur" over any window without re-reading data.

    Two deterministic properties the tests and the heavy-hitter
    prefilter lean on: estimates NEVER undercount (every insert lands in
    every row, min can only overcount), and sketch(A ∪ B) ==
    sketch(A) + sketch(B) exactly (inserts are commutative adds).
    Expected overcount is eps·N with eps = e/width per the standard
    bound, halving per doubling of width.

    Build shuffles (key, slot, count) partials — 16 bytes × depth per
    distinct (key, value), never the values themselves; the dense array
    assembles via a map lookup per slot (O(width·depth) per key), not a
    per-pair array rewrite."""
    if width < 1 or depth < 1:
        raise ValueError("need width >= 1 and depth >= 1")
    size = width * depth
    slots = F.array(
        *[
            F.pmod(F.xxhash64(F.col(value_col), F.lit(d)), F.lit(width))
            + F.lit(d * width)
            for d in range(depth)
        ]
    )
    counts = (
        df.select(*keys, F.explode(slots).alias("__slot"))
        .groupBy(*keys, "__slot")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    entries = counts.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__slot").cast("int"), F.col("__n")))
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(size - 1)),
        lambda i: F.coalesce(F.col("__m")[i], F.lit(0).cast("long")),
    )
    return entries.select(*keys, dense.alias(sketch_col))


def cms_estimate_expr(sketch_col, value, width: int = 1024, depth: int = 4):
    """Point-frequency estimate from a CMS sketch: min over the depth
    rows of the counter each hash selects. Pure expressions; `value` may
    be any column/expression of the sketched type. est >= true count
    always; overshoot only from hash collisions."""
    s = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    v = F.col(value) if isinstance(value, str) else value
    reads = [
        F.element_at(
            s,
            (F.pmod(F.xxhash64(v, F.lit(d)), F.lit(width)) + F.lit(d * width + 1)).cast("int"),
        )
        for d in range(depth)
    ]
    return F.least(*reads) if depth > 1 else reads[0]


def derive_cms_width(n_rows: int, min_count: int) -> int:
    """Prefilter width sized so expected collision mass per cell stays
    well under the decision threshold: each CMS row spreads ``n_rows``
    inserts over ``width`` cells, so a cell carries ~n_rows/width
    foreign counts; requiring that to be ≤ min_count/4 gives
    width ≥ 4·n_rows/min_count (rounded to the next power of two).
    Clamped to [1024, 2^26]: width is VIRTUAL in the join-based
    prefilter (only touched slots materialize, ≤ depth × distinct
    values), so the ceiling is a sanity bound, not a memory one; past
    it the sketch still never LOSES a heavy hitter (CMS never
    undercounts), it just rules out less of the tail."""
    import math

    target = max(1, (4 * n_rows) // max(1, min_count))
    return min(1 << 26, max(1024, 1 << math.ceil(math.log2(target))))


def derive_cms_width_for_share(min_share: float) -> int:
    """Width for a SHARE threshold φ: a φ-heavy-hitter has count ≥ φ·N,
    and a cell carries ~N/width foreign counts; requiring that to be
    ≤ (φ·N)/4 gives width ≥ 4/φ — a CONSTANT, independent of data size
    (rounded to the next power of two, same clamps as
    :func:`derive_cms_width`). This is the form whose sketch-build
    shuffle is bounded per task at any corpus size: map-side partials
    stay dense over a fixed slot space."""
    import math

    if not (0.0 < min_share < 1.0):
        raise ValueError("min_share must be in (0, 1)")
    target = max(1, math.ceil(4.0 / min_share))
    return min(1 << 26, max(1024, 1 << math.ceil(math.log2(target))))


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_count: int | None = None,
    width: int | None = None,
    depth: int = 4,
    n_rows: int | None = None,
    min_share: float | None = None,
) -> DataFrame:
    """Exact heavy hitters through a LOSSLESS CMS prefilter — the
    frequency analog of the Bloom-prefiltered dedup: count the corpus
    into per-slot CMS cells (depth hash rows over a width sized to the
    data — see :func:`derive_cms_width` for the ``width=None`` default),
    estimate each candidate key as the min of its slots via a slot
    join, and run the exact verification count ONLY for keys whose
    estimate reaches ``min_count``. Because CMS never undercounts,
    est < min_count proves count < min_count — no heavy hitter is ever
    dropped, exactly like LSH banding's recall-1 cases or the Bloom
    filter's no-false-negative side.

    At 100 TB the first pass moves depth 16-byte partials per touched
    slot and the second pass aggregates only rows whose key survived —
    the win grows with the tail: a power-law corpus with millions of
    near-singleton keys verifies only the head.

    Thresholds come in two regimes — pass exactly one of
    ``min_share``/``min_count``:

    - ``min_share=φ`` (the RECOMMENDED form, measured in
      SHUFFLE_AUDIT.json): "keys covering at least fraction φ of the
      corpus". The decision threshold is ``ceil(φ·N)`` and the width is
      ≈ 4/φ — a CONSTANT independent of data size
      (:func:`derive_cms_width_for_share`), so map-side partials stay
      dense over a fixed slot space and the sketch-build shuffle is
      bounded per task at ANY corpus size. This is how heavy hitters
      are actually defined in the streaming literature (φ-HH), and the
      only form whose prefilter stays a net win at 100 TB.
    - ``min_count=k`` (fixed absolute): the derived width grows with
      the data (4·N/k) and the build's shuffle converges to (never
      exceeds) the cost of the exact GROUP BY it guards — the prefilter
      still prunes the verify pass, but stops being a net win. That is
      the sketch's own theory, not a plan defect; prefer ``min_share``.

    Either way the result is EXACT: (value, n_occurrences) for every
    key whose true count reaches the threshold.

    Pipelines that already know the corpus size should pass ``n_rows``
    (or an explicit ``width``) to skip the sizing ``count()`` job; the
    explicit two-step is ``width=derive_cms_width(n, min_count)``."""
    if (min_count is None) == (min_share is None):
        raise ValueError("pass exactly one of min_count / min_share")
    if min_share is not None:
        import math

        n = n_rows if n_rows is not None else df.count()
        n_rows = n
        min_count = max(1, math.ceil(min_share * n))
        if width is None:
            width = derive_cms_width_for_share(min_share)
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if width is None:
        # a fixed default width saturates silently at scale: 1024 cells
        # against millions of distinct keys puts ~N/1024 foreign counts
        # in every cell, estimates all clear min_count, and the
        # "prefilter" admits every key. Size the sketch to the data
        # instead (see derive_cms_width) — from the caller-supplied row
        # count when known, else one count() job. Still lossless either
        # way, only the pruning power is at stake.
        width = derive_cms_width(n_rows if n_rows is not None else df.count(), min_count)
    v = F.col(value_col)

    def slots(col):
        return F.array(
            *[
                F.pmod(F.xxhash64(col, F.lit(d)), F.lit(width)) + F.lit(d * width)
                for d in range(depth)
            ]
        )

    # JOIN-based estimate instead of a broadcast dense sketch: the dense
    # array assembles through a per-slot map lookup that Spark evaluates
    # as a LINEAR scan of the map, i.e. O(width² · depth²) assembly —
    # fine at width 1024, a hang at the widths real key cardinalities
    # need. Joining each candidate's depth slots against the per-slot
    # count table and taking the min is the same estimator with shuffle
    # bounded by distinct (value, slot) pairs — width is virtual and can
    # grow freely (collisions → 0), nothing dense is ever materialized.
    slot_counts = (
        df.select(F.explode(slots(v)).alias("__slot"))
        .groupBy("__slot")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cand_slots = (
        df.select(v.alias("__v"))
        .distinct()
        .select("__v", F.explode(slots(F.col("__v"))).alias("__slot"))
    )
    survivors = (
        # inner join is safe: a candidate's own occurrences land in every
        # one of its slots, so those slots always exist in slot_counts
        cand_slots.join(slot_counts, "__slot")
        .groupBy("__v")
        .agg(F.min("__n").alias("__est"))  # min over depth rows: CMS estimate
        .filter(F.col("__est") >= F.lit(min_count))
        .select("__v")
    )
    return (
        # survivors are heavy-hitter-scale by construction (the head of
        # the distribution), hence broadcastable
        df.join(F.broadcast(survivors), v == F.col("__v"), "left_semi")
        .groupBy(v.alias("value"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(min_count))
    )


def md5_hash60(c):
    """Non-negative 60-bit hash of a string column: the first 15 hex
    digits of its md5. DuckDB replays it exactly as
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``, which is why the
    oracle-checked sketch, simhash and bucket queries use it instead of
    xxhash64 (pass ``hash_bits=60`` to the KMV estimators)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def kmv_sketch(df: DataFrame, key, k: int = 1024, hash_expr=None) -> DataFrame:
    """Bottom-k (KMV / k-minimum-values) distinct sketch: the ``k``
    smallest DISTINCT hash values of ``key`` — a k-row, single-column
    (``h`` long) frame that summarizes a corpus's identity set.

    Like the HLL store above, KMV sketches are bounded and mergeable
    (union two sketches, keep the bottom k) and PERSIST: keep one per
    corpus/shard/day and answer "how much of crawl B is already in
    crawl A" (Jaccard/containment, :func:`kmv_jaccard`) or "how many
    distinct docs" (:func:`kmv_distinct_estimate`) across many corpus
    PAIRS without ever re-reading the data — an exact pairwise join at
    that scale would re-shuffle both corpora per pair.

    Build plan: hash inline in the scan, ONE hash-only shuffle with
    map-side partial dedup (the shuffle carries 8-byte longs, the same
    cost class as `n_distinct_hash` / exact dedup — text never moves),
    then sort+limit = TakeOrdered (per-partition bottom-k, driver merges
    partitions*k longs, never a full sort). ``hash_expr`` overrides the
    default xxhash64 (e.g. the md5-arithmetic hash for a SQL-replayable
    sketch)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    key = F.col(key) if isinstance(key, str) else key
    h = hash_expr(key) if hash_expr is not None else F.xxhash64(key)
    # filter on the KEY, pre-hash: xxhash64(null) is the seed constant
    # (42), not null, so a post-hash null filter would let null keys
    # masquerade as a real distinct value
    return (
        df.filter(key.isNotNull())
        .select(h.alias("h"))
        .filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.lit(1))
        .select("h")
        .orderBy("h")
        .limit(k)
    )


def kmv_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col,
    k: int = 1024,
    hash_expr=None,
) -> DataFrame:
    """One KMV bottom-k sketch PER KEY GROUP: ``(keys..., h)`` with at
    most ``k`` rows per group — the persisted sketch-store WRITE path,
    mirroring :func:`distinct_sketches`' HLL store (write one sketch
    table per corpus/shard/day; answer identity questions later without
    re-reading data). The KMV store keeps what HLL's cannot: hash
    MEMBERSHIP, which is what Jaccard/containment between corpus pairs
    needs (:func:`kmv_jaccard_matrix`).

    Plan: hash inline in the scan, one (key, 8-byte hash) distinct with
    map-side partials, then a per-group bottom-k via row_number over a
    key-partitioned window — shuffles carry hashes only, never values,
    and no group ever funnels through a global sort."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys)
    key = F.col(value_col) if isinstance(value_col, str) else value_col
    h = hash_expr(key) if hash_expr is not None else F.xxhash64(key)
    dedup = (
        df.filter(key.isNotNull())
        .select(*keys, h.alias("h"))
        .filter(F.col("h").isNotNull())
        .groupBy(*keys, "h")
        .agg(F.lit(1))
        .select(*keys, "h")
    )
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        dedup.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_rollup(
    sketches: DataFrame,
    keys: Sequence[str],
    k: int,
) -> DataFrame:
    """Merge per-group KMV sketches up to a COARSER key set (possibly
    empty for a global sketch): bottom-k of the unioned hash sets per
    coarse group — the sketch-store READ path, exactly
    :func:`rollup_distinct_sketches`' shape. Correct because bottom-k
    is a semilattice: bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪
    bottom_k(B)) — merge order and grouping never change the result
    (associativity pytest-witnessed). Input is the persisted sketch
    table spanning many batches; every step runs on sketch rows
    (|groups| × k), never raw data."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys)
    dedup = sketches.groupBy(*keys, "h").agg(F.lit(1)).select(*keys, "h")
    if not keys:
        return dedup.orderBy("h").limit(k)
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        dedup.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_jaccard_matrix(
    sketches: DataFrame,
    keys: Sequence[str],
    k: int,
) -> DataFrame:
    """Pairwise Jaccard/containment estimates between EVERY pair of
    per-key sketches in a KMV store — the turnkey crawl-overlap matrix
    ("how much of each crawl is already in each other crawl") computed
    entirely from persisted k-row summaries. One row per unordered key
    pair (a < b by the key tuple): ``(<keys>_a..., <keys>_b..., k_used,
    n_a, n_b, n_common, jaccard_est, containment_a_est,
    containment_b_est)`` — the same estimator as :func:`kmv_jaccard`
    (Beyer et al., SIGMOD'07: the union sketch's bottom-k is a uniform
    sample of the union's identity space) applied to all pairs at once.

    Plan: the |groups|-row key dim crossed into (a < b) pairs (tiny,
    broadcast), each sketch joins into its pairs by key, one grouped
    bottom-k window per pair, one aggregate — bounded by |pairs| × 2k
    hash rows end to end. Deterministic: same integers every run."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty (pairs need a key to pair on)")
    a_keys = [f"{c}_a" for c in keys]
    b_keys = [f"{c}_b" for c in keys]
    labels = sketches.select(*keys).distinct()
    la = labels.select(*[F.col(c).alias(f"{c}_a") for c in keys])
    lb = labels.select(*[F.col(c).alias(f"{c}_b") for c in keys])
    pair_order = F.struct(*a_keys) < F.struct(*b_keys)
    pairs = la.crossJoin(lb).filter(pair_order)
    sa = sketches.select(*[F.col(c).alias(f"{c}_a") for c in keys], "h").withColumn(
        "__in_a", F.lit(1)
    )
    sb = sketches.select(*[F.col(c).alias(f"{c}_b") for c in keys], "h").withColumn(
        "__in_b", F.lit(1)
    )
    rows = (
        F.broadcast(pairs).join(sa, a_keys)
        .select(*a_keys, *b_keys, "h", "__in_a", F.lit(0).alias("__in_b"))
        .unionByName(
            F.broadcast(pairs).join(sb, b_keys)
            .select(*a_keys, *b_keys, "h", F.lit(0).alias("__in_a"), "__in_b")
        )
        .groupBy(*a_keys, *b_keys, "h")
        .agg(F.max("__in_a").alias("__in_a"), F.max("__in_b").alias("__in_b"))
    )
    w = Window.partitionBy(*a_keys, *b_keys).orderBy("h")
    topk = rows.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    agg = topk.groupBy(*a_keys, *b_keys).agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum("__in_a").alias("n_a"),
        F.sum("__in_b").alias("n_b"),
        F.sum(F.col("__in_a") * F.col("__in_b")).alias("n_common"),
    )
    return agg.select(
        *a_keys,
        *b_keys,
        "k_used",
        "n_a",
        "n_b",
        "n_common",
        (F.col("n_common") / F.col("k_used")).alias("jaccard_est"),
        (F.col("n_common") / F.col("n_a")).alias("containment_a_est"),
        (F.col("n_common") / F.col("n_b")).alias("containment_b_est"),
    )


def kmv_setops_matrix(
    sketches: DataFrame,
    keys: Sequence[str],
    k: int,
    hash_bits: int = 64,
) -> DataFrame:
    """Set-operation cardinality estimates between EVERY pair of
    per-key sketches in a KMV store — :func:`kmv_set_cardinalities`
    applied all-pairs, the way :func:`kmv_jaccard_matrix` lifts
    :func:`kmv_jaccard`: the full "how many docs would merging crawl A
    and crawl B yield / how many are new / how many shared" matrix
    from persisted k-row summaries, raw data untouched.

    Same plan skeleton as the Jaccard matrix (|groups|-row key dim
    crossed into a < b pairs and broadcast, sketches joined in by key,
    one per-pair bottom-k window, one aggregate), plus the union-theta
    estimate on each pair's merged bottom-k: bounded by |pairs| x 2k
    hash rows end to end. Columns: the Jaccard-matrix counts plus
    ``union_est, intersection_est, a_minus_b_est, b_minus_a_est``.
    Deterministic — oracle-exact under a SQL-replayable hash."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty (pairs need a key to pair on)")
    a_keys = [f"{c}_a" for c in keys]
    b_keys = [f"{c}_b" for c in keys]
    labels = sketches.select(*keys).distinct()
    la = labels.select(*[F.col(c).alias(f"{c}_a") for c in keys])
    lb = labels.select(*[F.col(c).alias(f"{c}_b") for c in keys])
    pairs = la.crossJoin(lb).filter(F.struct(*a_keys) < F.struct(*b_keys))
    sa = sketches.select(*[F.col(c).alias(f"{c}_a") for c in keys], "h").withColumn(
        "__in_a", F.lit(1)
    )
    sb = sketches.select(*[F.col(c).alias(f"{c}_b") for c in keys], "h").withColumn(
        "__in_b", F.lit(1)
    )
    rows = (
        F.broadcast(pairs).join(sa, a_keys)
        .select(*a_keys, *b_keys, "h", "__in_a", F.lit(0).alias("__in_b"))
        .unionByName(
            F.broadcast(pairs).join(sb, b_keys)
            .select(*a_keys, *b_keys, "h", F.lit(0).alias("__in_a"), "__in_b")
        )
        .groupBy(*a_keys, *b_keys, "h")
        .agg(F.max("__in_a").alias("__in_a"), F.max("__in_b").alias("__in_b"))
    )
    w = Window.partitionBy(*a_keys, *b_keys).orderBy("h")
    topk = rows.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    if hash_bits == 64:
        kth = (F.max("h").cast("double") + 9.223372036854776e18) / 1.8446744073709552e19
    else:
        kth = F.max("h").cast("double") / float(2 ** hash_bits)
    kth = F.greatest(kth, F.lit(1.0 / float(2 ** min(hash_bits, 64))))
    agg = topk.groupBy(*a_keys, *b_keys).agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum("__in_a").alias("n_a"),
        F.sum("__in_b").alias("n_b"),
        F.sum(F.col("__in_a") * F.col("__in_b")).alias("n_common"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise((F.count(F.lit(1)) - 1) / kth)
        .alias("union_est"),
    )
    return agg.select(
        *a_keys,
        *b_keys,
        "k_used",
        "n_a",
        "n_b",
        "n_common",
        "union_est",
        (F.col("n_common") / F.col("k_used") * F.col("union_est"))
        .alias("intersection_est"),
        ((F.col("n_a") - F.col("n_common")) / F.col("k_used") * F.col("union_est"))
        .alias("a_minus_b_est"),
        ((F.col("n_b") - F.col("n_common")) / F.col("k_used") * F.col("union_est"))
        .alias("b_minus_a_est"),
    )


def kmv_merge(sketch_a: DataFrame, sketch_b: DataFrame, k: int) -> DataFrame:
    """Union two KMV sketches: distinct bottom-k of the combined hash
    sets — the sketch of the UNION of the underlying corpora. Operates
    on <= 2k rows."""
    return (
        sketch_a.unionByName(sketch_b)
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_jaccard(sketch_a: DataFrame, sketch_b: DataFrame, k: int) -> DataFrame:
    """Jaccard and containment estimates between the corpora behind two
    KMV sketches (Beyer et al., SIGMOD'07): take the union sketch's
    bottom-k — a uniform sample of the UNION's identity space — and
    count memberships. ``jaccard_est = n_common / k_used``;
    ``containment_a_est = n_common / n_a`` estimates |A∩B|/|A| ("how
    much of A is already in B" — the crawl-freshness question), and
    symmetrically ``containment_b_est``. Every step runs on <= 2k rows.
    Returns one row ``(k_used, n_a, n_b, n_common, jaccard_est,
    containment_a_est, containment_b_est)``. Deterministic: same
    inputs, same integers, bit-stable estimates."""
    u = kmv_merge(sketch_a, sketch_b, k).localCheckpoint(eager=False)
    in_a = u.join(sketch_a, "h", "left_semi")
    in_b = u.join(sketch_b, "h", "left_semi")
    common = in_a.join(sketch_b, "h", "left_semi")
    ku = u.agg(F.count(F.lit(1)).alias("k_used"))
    na = in_a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = in_b.agg(F.count(F.lit(1)).alias("n_b"))
    nc = common.agg(F.count(F.lit(1)).alias("n_common"))
    return (
        ku.crossJoin(na).crossJoin(nb).crossJoin(nc)
        .select(
            "k_used",
            "n_a",
            "n_b",
            "n_common",
            (F.col("n_common") / F.col("k_used")).alias("jaccard_est"),
            (F.col("n_common") / F.col("n_a")).alias("containment_a_est"),
            (F.col("n_common") / F.col("n_b")).alias("containment_b_est"),
        )
    )


def kmv_set_cardinalities(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    k: int,
    hash_bits: int = 64,
) -> DataFrame:
    """Set-operation CARDINALITY estimates between the corpora behind
    two KMV sketches — the theta-sketch-family composition
    (Dasgupta et al., "Theta-Sketch Framework", and Beyer et al.
    SIGMOD'07) of the two primitives this store already carries:

    1. ``union_est``: the union sketch's bottom-k is a KMV sketch OF
       the union, so |A∪B| estimates exactly like
       :func:`kmv_distinct_estimate` — ``(k-1)/u_k`` on the union
       sketch's normalized k-th minimum, EXACT counting when the union
       sketch holds fewer than ``k`` hashes (then it IS the union's
       distinct set).
    2. ``n_common / k_used`` is the Jaccard estimator (the union
       sketch is a uniform sample of the union's identity space), so
       ``intersection_est = jaccard_est * union_est`` and the
       differences follow by the same membership fractions:
       ``a_minus_b_est = (n_a - n_common) / k_used * union_est``.

    Answers "how many NEW documents does crawl B add" / "how many
    would dedup remove" across persisted corpus-pair summaries without
    re-reading either corpus: every step runs on <= 2k hash rows.
    Deterministic — same sketches, same integers, bit-stable doubles —
    so with a SQL-replayable hash the whole estimate is oracle-exact.

    Returns one row: ``(k_used, n_a, n_b, n_common, union_est,
    intersection_est, a_minus_b_est, b_minus_a_est)``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u = kmv_merge(sketch_a, sketch_b, k).localCheckpoint(eager=False)
    in_a = u.join(sketch_a, "h", "left_semi")
    common = in_a.join(sketch_b, "h", "left_semi")
    in_b = u.join(sketch_b, "h", "left_semi")
    if hash_bits == 64:
        kth = (F.max("h").cast("double") + 9.223372036854776e18) / 1.8446744073709552e19
    else:
        kth = F.max("h").cast("double") / float(2 ** hash_bits)
    kth = F.greatest(kth, F.lit(1.0 / float(2 ** min(hash_bits, 64))))
    ku = u.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise((F.count(F.lit(1)) - 1) / kth)
        .alias("union_est"),
    )
    na = in_a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = in_b.agg(F.count(F.lit(1)).alias("n_b"))
    nc = common.agg(F.count(F.lit(1)).alias("n_common"))
    return (
        ku.crossJoin(na).crossJoin(nb).crossJoin(nc)
        .select(
            "k_used",
            "n_a",
            "n_b",
            "n_common",
            "union_est",
            (F.col("n_common") / F.col("k_used") * F.col("union_est"))
            .alias("intersection_est"),
            ((F.col("n_a") - F.col("n_common")) / F.col("k_used")
             * F.col("union_est")).alias("a_minus_b_est"),
            ((F.col("n_b") - F.col("n_common")) / F.col("k_used")
             * F.col("union_est")).alias("b_minus_a_est"),
        )
    )


def kmv_distinct_estimate(sketch: DataFrame, k: int, hash_bits: int = 64) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: with hashes uniform on
    ``[0, 2^hash_bits)`` (signed-shifted for 64), ``n_est =
    (k - 1) / u_k`` where ``u_k`` is the k-th minimum normalized to
    (0, 1). If the sketch holds fewer than ``k`` values the count is
    exact (the sketch IS the distinct set). One aggregate over k rows.

    The normalized k-th minimum is clamped to a positive floor of one
    hash quantum (1 / 2^hash_bits): a degenerate sketch whose max hash
    normalizes to 0 (possible for hash_bits < 64 when every stored hash
    is 0 mod the truncation) would otherwise divide by zero."""
    if hash_bits == 64:
        # xxhash64 spans the full signed range; shift to unsigned [0, 2^64)
        u = (F.max("h").cast("double") + 9.223372036854776e18) / 1.8446744073709552e19
    else:
        u = F.max("h").cast("double") / float(2 ** hash_bits)
    u = F.greatest(u, F.lit(1.0 / float(2 ** min(hash_bits, 64))))
    return sketch.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
        .otherwise((F.count(F.lit(1)) - 1) / u)
        .alias("n_distinct_est"),
    )
