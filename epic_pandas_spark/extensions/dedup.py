"""Document deduplication for large-scale training-data pipelines
(extension layer — no reference analog; SURVEY.md §7.1 step 9).

Four families, each with an explicit 100 TB story:

- exact:    normalized-text fingerprint (xxhash64) → keep min-id per group.
            One shuffle on the 8-byte fingerprint, never on the text.
- jaccard:  word-shingle set similarity via an inverted-index join
            (explode shingles → join on shingle → count common / union).
            The classic pair-generation plan; the prefix-filtered variant
            indexes only each doc's rarest shingles, so hot shingles
            cannot explode the join at scale.
- minhash:  k seeded xxhash64 min-signatures + banded LSH bucketing →
            candidate pairs → exact-jaccard verification. Signature
            computation is embarrassingly parallel (higher-order
            expressions, no UDF); the only shuffle is the band-bucket join.
- simhash:  64-bit weighted bit-majority fingerprint; near-dups =
            small hamming distance. Pure expression pipeline.

All of these operate on arrays built by functions.text.ngrams_expr /
word splitting — no Python in the hot path anywhere.
"""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Window, functions as F

from epic_pandas_spark.functions.text import (
    chargram_text_expr,
    fingerprint_expr,
    word_ngrams_expr,
    words_expr,
)
from epic_pandas_spark.parallel import collect_at_most, ensure_parallelism


def _hadoop_path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on the session's Hadoop filesystem.
    Used by streaming probes to distinguish 'no index yet' (a fresh
    pipeline's first epoch — tolerable) from every other read failure
    (corrupt store, transient FS error — must fail the micro-batch)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def exact_dedup(df: DataFrame, text_col: str, id_col: str, keep_by=None) -> DataFrame:
    """Keep one row per normalized-text group. The shuffle key is the
    64-bit fingerprint, so payload movement is O(ids), not O(text).

    ``keep_by`` is the retention policy: an optional list of ordering
    Columns ranking each group's rows best-first (e.g.
    ``[F.length("text").desc(), F.col("quality").desc()]`` — real
    pipelines keep the longest / highest-quality raw variant, since
    normalization collapses case/whitespace variants that differ in
    original content). ``id_col`` ascending is always appended as the
    deterministic tie-break; the default policy is smallest-id."""
    fp = fingerprint_expr(F.col(text_col))
    order = list(keep_by or []) + [F.col(id_col).asc()]
    w = Window.partitionBy("__fp").orderBy(*order)
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    keep_by,
    cluster_col: str = "cluster",
) -> DataFrame:
    """Near-dup retention policy: given cluster assignments (e.g.
    :func:`connected_components` over verified LSH pairs), keep the
    best row of each cluster by the ``keep_by`` ordering Columns
    (best-first; ``id_col`` ascending appended as tie-break) and every
    row with no cluster assignment (singletons — not near-duplicated).

    This replaces the flagship's canonical-min-id keep rule when the
    corpus carries a quality signal: deduplication should discard the
    WORSE variants, not whichever happened to get a larger id.

    Plan at 100 TB: one left join against the (id, cluster) assignment
    table — itself O(clustered ids), usually a small fraction of the
    corpus, and broadcast-eligible — then a row_number window partitioned
    by cluster. Unclustered rows short-circuit the window with a
    per-row second partition key (each its own group), so no giant null
    partition forms and the window shuffle stays balanced.

    ``clusters`` must assign each id to AT MOST one cluster; duplicate
    (id, cluster) assignments are collapsed defensively (min cluster
    wins, deterministic) so a double-assigned id can never fan out the
    corpus join and emit duplicate survivors."""
    order = list(keep_by) + [F.col(id_col).asc()]
    asg = (
        clusters.select(
            F.col(id_col).alias("__cid"), F.col(cluster_col).alias("__cluster")
        )
        .groupBy("__cid")
        .agg(F.min("__cluster").alias("__cluster"))
    )
    joined = df.join(asg, F.col(id_col) == F.col("__cid"), "left").drop("__cid")
    # TWO-column partition key: clustered rows share (cluster, null);
    # each singleton gets (null, id) — its own group. Unlike a coalesced
    # string-concat key, this cannot collide with a cluster id that
    # happens to look like the synthetic singleton label, and it never
    # concentrates singletons into one null-key partition.
    solo = F.when(F.col("__cluster").isNull(), F.col(id_col))
    w = Window.partitionBy(F.col("__cluster"), solo).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__cluster", "__rn")
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weight_col: str = "weight",
    count_col: str = "n_dups",
) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, keep every row
    and attach a sampling weight ``1 / n`` where ``n`` is the size of the
    row's exact-duplicate group — so each distinct text contributes one
    unit of expected mass to a weighted-sampling epoch (the reweighting
    alternative to hard dedup: duplicated boilerplate is down-sampled,
    not censored, preserving rare in-duplicate variation).

    Feed ``weight_col`` to ``sample_at_most(weighted=...)`` or a loss
    weight. Plan: one window count over the 64-bit fingerprint key —
    same O(ids) shuffle as :func:`exact_dedup`, no join."""
    fp = fingerprint_expr(F.col(text_col))
    w = Window.partitionBy("__fp")
    return (
        df.withColumn("__fp", fp)
        .withColumn(count_col, F.count(F.lit(1)).over(w))
        .withColumn(weight_col, F.lit(1.0) / F.col(count_col))
        .drop("__fp")
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, shingle_words: int) -> DataFrame:
    """``(id, ws array<long>, n)``: each doc's word-shingle set as xxhash64
    keys, and its size — the one shingle table every Jaccard and MinHash
    operator here starts from. Shingles join and intersect as 8-byte
    longs, never as strings (collision odds ~|shingles|²/2^64, immaterial;
    the arrays stay sets since word_ngrams_expr already dedups per doc).

    The table is ``localCheckpoint``-ed because every caller reads it at
    least twice (both sides of a join, or candidates and verification).
    ``eager=False`` does not make that lazy under adaptive execution: the
    call plans its input and runs every shuffle map stage below it — here
    the scan and ensure_parallelism's fan-out — before it returns; only
    the shingling itself waits for the first action. Docs without
    shingles are dropped AFTER the checkpoint, on the materialized ``n``:
    a filter on the n-gram expression would be pushed below the fan-out
    (see ensure_parallelism) and the expression would run twice."""
    return (
        ensure_parallelism(df).select(
            F.col(id_col).alias("id"),
            F.transform(
                word_ngrams_expr(F.col(text_col), n=shingle_words),
                lambda g: F.xxhash64(g),
            ).alias("ws"),
        )
        .select("id", "ws", F.size("ws").alias("n"))
        .localCheckpoint(eager=False)
        .filter(F.col("n") > 0)
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_words: int = 3,
) -> DataFrame:
    """All (id_a < id_b) pairs with word-set Jaccard ≥ threshold, via the
    inverted-index self-join over the hashed shingle sets."""
    # the self-join reads the inverted index twice; the checkpointed
    # shingle table is computed once (measured 8.2s -> 3.0s at 5k docs)
    inv = _shingle_sets(df, text_col, id_col, shingle_words).select(
        "id", "n", F.explode("ws").alias("w")
    )
    a = inv.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("w").alias("wa"))
    b = inv.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("w").alias("wb"))
    # size-compatibility pruning (lossless): jaccard >= t forces
    # |A∩B| >= t*|A∪B|, and with |A∩B| <= min(n_a,n_b), |A∪B| >=
    # max(n_a,n_b) that means min >= t*max — so incompatible-size pairs
    # are dropped inside the join residual, BEFORE the pair-count
    # aggregation whose shuffle (one row per co-occurring shingle pair)
    # is what blows up on hot shingles. Exact semantics preserved; only
    # pairs that could never reach the threshold are cut.
    # the 1e-6 slack keeps the prune LOSSLESS under fp rounding: t·n can
    # round ABOVE its exact value (0.55·100 = 55.000000000000007), which
    # without slack rejects exactly-at-threshold pairs (J = 55/100 = t).
    # Loosening only ever admits extra candidates — the exact jaccard
    # filter downstream still decides membership.
    thr = F.lit(float(threshold))
    size_ok = (F.col("n_a") * thr <= F.col("n_b") + F.lit(1e-6)) & (
        F.col("n_b") * thr <= F.col("n_a") + F.lit(1e-6)
    )
    common = (
        a.join(
            b,
            (F.col("wa") == F.col("wb"))
            & (F.col("id_a") < F.col("id_b"))
            & size_ok,
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_words: int = 3,
) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. WWW'07) — same output as :func:`jaccard_pairs`,
    different candidate plan: under a global rarest-first shingle order,
    a set with |s| shingles only needs its first |s| − ceil(t·|s|) + 1
    shingles indexed; any pair with J ≥ t must share a prefix shingle
    (pigeonhole on the required overlap ceil(t·max(|a|,|b|))). Candidates
    are then verified with exact set intersection on the full arrays.

    Why it wins at scale: the self-join index shrinks by ~t of its
    entries, and — because prefixes hold each doc's RAREST shingles —
    hot-key join blowup collapses without dropping any shingle. The
    PPJoin positional filter (Xiao et al. WWW'08) then kills candidates
    whose shared token sits too late in both docs to leave room for the
    required overlap — before the pair-dedup shuffle, still lossless.
    Costs one extra shuffle (df-rank window keyed on id)."""
    # reused by ranking AND verification
    words = _shingle_sets(df, text_col, id_col, shingle_words)
    inv = words.select("id", "n", F.explode("ws").alias("w"))
    # every ceil below carries a 1e-6 slack: t·n can ROUND ABOVE its exact
    # value in fp (0.55·100 = 55.000000000000007 → ceil 56, exact 55),
    # which silently shortens prefixes / tightens filters and drops
    # exactly-at-threshold pairs. The slack only loosens (more candidates,
    # same verified output) — exact verification decides membership.
    eps = F.lit(1e-6)
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - eps) + 1
    dfreq = inv.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(
        Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("w").asc())
    )
    prefixes = (
        inv.join(dfreq, "w")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= prefix_len)
        .select("id", "n", "w", "rn")
        .localCheckpoint(eager=False)  # both sides of the candidate join
    )
    lhs = prefixes.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"),
        F.col("rn").alias("rn_a"), "w",
    )
    rhs = prefixes.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"),
        F.col("rn").alias("rn_b"), "w",
    )
    # PPJoin positional filter (Xiao et al. WWW'08, lossless): the ranks
    # rn are positions in the GLOBAL (df, w) token order, identical for
    # every doc, so the overlap a qualifying pair can still accumulate
    # after the shared token is ≤ 1 + min(n_a − rn_a, n_b − rn_b). A pair
    # with J ≥ t needs overlap ≥ ⌈t·(n_a+n_b)/(1+t)⌉, and at the pair's
    # FIRST common token (inside both prefixes by the AllPairs guarantee)
    # the bound is exact — so keeping a pair when ANY generation row
    # passes loses nothing, while pairs that merely brush a late rare
    # token die before the dedup shuffle.
    required = F.ceil(
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("n_a") + F.col("n_b"))
        - eps
    )
    cand = (
        lhs.join(rhs, "w")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # PPJoin length filter: J >= t forces t·|a| <= |b| <= |a|/t
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a") - eps))
            & (F.col("n_a") >= F.ceil(F.lit(threshold) * F.col("n_b") - eps))
            & (1 + F.least(F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b"))
               >= required)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    wa = words.select(F.col("id").alias("id_a"), F.col("ws").alias("ws_a"))
    wb = words.select(F.col("id").alias("id_b"), F.col("ws").alias("ws_b"))
    verified = cand.join(wa, "id_a").join(wb, "id_b")
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    jac = inter.cast("double") / (F.size("ws_a") + F.size("ws_b") - inter)
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(words: DataFrame, n_hashes: int = 32, seed: int = 7) -> DataFrame:
    """Compute per-id min-hash signature columns s0..s{n-1} over the ``ws``
    shingle array via explode -> one hash-aggregate of n_hashes MINs.

    Why not array expressions per row: Catalyst's projection collapse
    inlines a 32x transform+array_min expression tree into every downstream
    reference (16 band hashes -> hundreds of copies) and whole-stage
    codegen then compiles for minutes. The explode/agg plan keeps every
    expression tiny, costs one shuffle on the id, and map-side partial
    aggregation makes the shuffle payload |ids| x n_hashes longs regardless
    of document size."""
    exploded = words.select("id", F.explode("ws").alias("w"))
    aggs = [
        F.min(F.xxhash64(F.col("w"), F.lit(seed + i))).alias(f"s{i}")
        for i in range(n_hashes)
    ]
    return exploded.groupBy("id").agg(*aggs)


def bands_for_recall(
    threshold: float,
    n_hashes: int = 32,
    min_recall: float = 0.999,
) -> int:
    """Fewest bands whose S-curve collision probability AT the
    threshold is ≥ ``min_recall`` — the right tuning when an exact
    verification stage follows (as in :func:`minhash_lsh_pairs`, which
    always verifies): false positives only cost verification work while
    false negatives are unrecoverable, so minimize candidate volume
    subject to a recall floor rather than balancing the two error
    masses (Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets*
    §3.4.3). Fewer bands = longer rows =
    steeper curve = fewer sub-threshold candidates, so the first
    divisor meeting the floor is also the precision-maximal one.
    Falls back to ``n_hashes`` bands (r=1: collision probability
    ``1-(1-s)^n``) when no divisor meets the floor. At τ=0.8, 32
    hashes, the default floor derives bands=16 — the hand-tuned value
    the flagship pipeline shipped with, now computed from the
    threshold. Driver-side arithmetic; costs nothing at any scale."""
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if not 0 < min_recall < 1:
        raise ValueError("min_recall must be in (0, 1)")
    for bands in range(1, n_hashes + 1):
        if n_hashes % bands:
            continue
        r = n_hashes // bands
        if 1.0 - (1.0 - threshold**r) ** bands >= min_recall:
            return bands
    return n_hashes


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_words: int = 3,
    n_hashes: int = 32,
    bands: int = 16,
    seed: int = 7,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified: band the signature into
    ``bands`` buckets of r = n_hashes/bands rows, join on (band, bucket
    hash) to get candidates, then verify candidates with EXACT word-set
    Jaccard ≥ threshold. :func:`bands_for_recall` derives ``bands`` from
    the threshold.

    Scale shape: candidate generation shuffles on the band hash (8 bytes ×
    bands per doc); verification touches only candidate pairs. Identical
    shingle sets always collide in every band, so recall at threshold→1.0
    is exactly 1. This is :func:`minhash_lsh_pairs_incremental` with no
    standing index: the batch is paired against itself only."""
    return minhash_lsh_pairs_incremental(
        df, text_col, id_col, threshold, None, shingle_words, n_hashes, bands, seed
    )[0]


def minhash_lsh_candidate_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_words: int = 3,
    n_hashes: int = 32,
    bands: int = 16,
    seed: int = 7,
) -> dict:
    """Instrumentation twin of :func:`minhash_lsh_pairs` (the LSH analog of
    :func:`edit_distance_candidate_stats`): one pass over the same
    pipeline returning ``{"n_rows", "n_docs", "n_bands", "n_band_rows",
    "n_candidate_pairs", "n_verified_pairs"}`` — candidate count is the
    distinct banded pair set the verification stage pays for, verified
    count the pairs at exact Jaccard ≥ threshold. Lets scale-trend
    artifacts attribute superlinear wall growth to duplicate-pair density
    in-data (pairs can legitimately grow faster than rows in a corpus
    whose duplicate clusters grow with it) instead of arguing about it."""
    n_rows = df.count()
    banded, words = minhash_index(
        df, text_col, id_col, shingle_words, n_hashes, bands, seed
    )
    candidates = _lsh_candidates(
        banded.localCheckpoint(eager=False), None
    ).localCheckpoint(eager=False)  # counted AND verified
    n_docs = words.count()
    return {
        "n_rows": n_rows,
        "n_docs": n_docs,
        "n_bands": bands,
        "n_band_rows": n_docs * bands,
        "n_candidate_pairs": candidates.count(),
        "n_verified_pairs": _verify_candidates(candidates, words, None, threshold).count(),
    }


def simhash_expr(text: Column, n_bits: int = 64) -> Column:
    """SimHash: per-token xxhash64, then per-bit weighted majority over the
    token bag, reassembled into one long. 64 conditional-sum aggregates over
    the token array — heavy expression, but single-pass, no shuffle, no UDF."""
    tokens = words_expr(text)
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    one = F.lit(1).cast("long")

    def vote(b: int):
        # shiftleft instead of a 1<<b literal: 1<<63 overflows a signed
        # long at the py4j boundary
        mask = F.shiftleft(one, b)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    bit_votes = [vote(b) for b in range(n_bits)]
    out = F.lit(0).cast("long")
    for b, v in enumerate(bit_votes):
        out = out + F.when(v > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
    return out


def simhash_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """(id, sh) simhash table via the distributed plan: explode tokens ->
    per-token hash -> ONE hash-aggregate of 64 bit-vote sums -> assemble
    the fingerprint from the aggregated votes. Same numbers as
    `simhash_expr`, but each codegen expression stays small and the
    shuffle payload is 64 ints per id (partial aggregation).

    ``token_hash`` (Column -> long Column) swaps the per-token hash;
    default xxhash64. Pass the md5-arithmetic 60-bit hash (with
    n_bits=60) to make the fingerprint exactly reproducible in DuckDB —
    the trick the KMV oracles use — at ~2x the hash cost."""
    hash_fn = token_hash if token_hash is not None else F.xxhash64
    tokens = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(words_expr(F.col(text_col))).alias("t"),
    ).withColumn("h", hash_fn(F.col("t")))
    one = F.lit(1).cast("long")
    votes = tokens.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    sh = F.lit(0).cast("long")
    for b in range(n_bits):
        sh = sh + F.when(F.col(f"v{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
    return votes.select("id", sh.alias("sh"))


def hamming_pairs(
    hashes: DataFrame,
    hash_col: str = "sh",
    id_col: str = "id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Band-blocked hamming self-join over ANY 64-bit fingerprint column
    (simhash, image dHash, audio chromaprint...) — EXACT: the fingerprint
    splits into `n_bands` equal bands and candidates are pairs agreeing on
    at least one whole band. Pigeonhole: two fingerprints with hamming <=
    max_hamming < n_bands must share a band with zero differing bits, so
    every qualifying pair is a candidate — no recall gap.

    Per band only (band_idx, band_value, id, hash) rows shuffle (one
    posexplode, one equi-join on the band key); the hamming filter
    `bit_count(xor)` runs on candidates only. A pair agreeing on k > 1
    bands appears k times in the join output; it is kept ONLY at its
    FIRST agreeing band (both full hashes are in hand, so "every earlier
    band differs" is a map-side filter) — each qualifying pair survives
    exactly once with NO distinct. This matters at scale: near-identical
    fingerprints agree on ALL bands, so the old distinct re-shuffled the
    pair set n_bands-fold (measured: the dominant stage of
    multimodal_phash_pairs at sf10, where same-group pairs are ~2.5e9).
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    if not (0 < n_bands <= 64 and 64 % n_bands == 0):
        raise ValueError("n_bands must divide 64")
    if max_hamming >= n_bands:
        raise ValueError(
            f"band blocking is only exact for max_hamming < n_bands "
            f"(got max_hamming={max_hamming}, n_bands={n_bands}); raise n_bands"
        )
    band_bits = 64 // n_bands
    band_mask = F.lit((1 << band_bits) - 1) if band_bits < 64 else F.lit(-1)
    sh = hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("sh"))
    bands = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sh", i * band_bits).bitwiseAND(band_mask)
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "bval"),
    )
    a = bands.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "bval")
    b = bands.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "bval")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))

    def _band_val(c: str, i: int):
        return F.shiftrightunsigned(c, i * band_bits).bitwiseAND(band_mask)

    first_band = F.lit(n_bands)  # unreachable default: joined pairs agree somewhere
    for i in range(n_bands - 1, -1, -1):
        first_band = F.when(_band_val("sh_a", i) == _band_val("sh_b", i), i).otherwise(
            first_band
        )
    return (
        a.join(b, on=["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("band") == first_band)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance — EXACT, via the shared
    band-blocked hamming join (`hamming_pairs`). Exactness is
    pytest-proven against a brute-force hamming join, and (with the
    md5-60-bit token_hash) against a brute-force DuckDB oracle. An
    n_bits < 64 fingerprint still bands as a 64-bit value — the top
    zero bits land in the last band and never break the pigeonhole
    guarantee."""
    if not (0 < n_bands <= 64 and 64 % n_bands == 0):
        raise ValueError("n_bands must divide 64")
    if max_hamming >= n_bands:
        raise ValueError(
            f"band blocking is only exact for max_hamming < n_bands "
            f"(got max_hamming={max_hamming}, n_bands={n_bands}); raise n_bands"
        )
    sh = simhash_table(
        df, text_col, id_col, n_bits=n_bits, token_hash=token_hash
    ).localCheckpoint(eager=False)
    return hamming_pairs(sh, "sh", "id", max_hamming=max_hamming, n_bands=n_bands)


# connected_components: edge count at or below which the pair graph is a
# bounded dim the driver labels directly (16 B/edge -> ~1.6 MB collected
# at the bound) — the regime where min-label's 2-tiny-jobs-per-round
# launch latency is the whole cost.
_CC_DRIVER_MAX_EDGES = 100_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, cluster)
    with cluster = min id reachable. The dedup endgame: keep one doc per
    component.

    The tier is picked from the data: the pair list is checkpointed once
    and one bounded collect probes it.

    - At most ``_CC_DRIVER_MAX_EDGES`` edges: a driver union-find labels
      the collected edges and returns one literal frame. Min-label's
      per-round fixed cost — an eager checkpoint + a convergence-probe
      job per round, 2-4 rounds even on a 256-edge graph — dwarfs the
      actual work there (measured ~3 s of job round-trips on the
      flagship sf0.1 pair graph; the union-find takes microseconds).
    - Above it, or when an id is null or NaN (NaN never equals itself,
      so a driver dict cannot key on it; Spark's joins treat NaN as
      equal): min-label propagation with pointer doubling — each round
      (1) takes the min label across edges and (2) replaces each node's
      label with its label's label, the shortcut step that makes
      convergence O(log diameter) rather than O(diameter), so a
      20-round cap covers path graphs of ~2^20 nodes. Each round
      shuffles on the node id; `localCheckpoint` truncates the lineage
      so the plan doesn't grow exponentially across rounds — the
      standard Spark iterative-algorithm pattern.

    Both tiers give identical output (cluster = min reachable id,
    order-independent).

    If the min-label loop still exits via `max_iterations` without
    reaching a fixpoint, the result would be wrong (unfinished
    propagation), so it raises by default; pass
    ``on_nonconverged="warn"`` to get the partial labels with a
    RuntimeWarning instead."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError("on_nonconverged must be 'raise' or 'warn'")
    # checkpoint: the pair plan's shuffle map stages run at this call
    # (eager=False still plans the input under adaptive execution), the
    # gate's job materializes the rest, and min-label re-reads it instead
    # of recomputing the pair plan
    pairs = pairs.select(id_a, id_b).localCheckpoint(eager=False)
    rows = collect_at_most(pairs, _CC_DRIVER_MAX_EDGES)
    if rows is not None and not any(x is None or x != x for r in rows for x in r):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {r[0] for r in rows} | {r[1] for r in rows}
        out = [(n, find(n)) for n in sorted(nodes)]
        from pyspark.sql.types import StructField, StructType

        dt = pairs.schema[id_a].dataType
        schema = StructType([StructField("id", dt), StructField("cluster", dt)])
        return pairs.sparkSession.createDataFrame(out, schema)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)  # re-read every propagation round
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))).alias("cluster"),
                F.col("cluster").alias("old_cluster"),
            )
        )
        # pointer doubling: cluster <- label(cluster). Labels only ever
        # decrease and every cluster value is itself a node id, so the
        # left join always resolves; coalesce guards the degenerate case.
        parent = new_labels.select(
            F.col("id").alias("pid"), F.col("cluster").alias("pcluster")
        )
        new_labels = (
            new_labels.join(parent, new_labels.cluster == parent.pid, "left")
            .select(
                "id",
                F.coalesce(F.col("pcluster"), F.col("cluster")).alias("cluster"),
                # carry the pre-round label so the convergence probe below
                # reads the checkpointed frame directly — no extra join job
                F.col("old_cluster"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.filter(F.col("cluster") != F.col("old_cluster"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("id", "cluster")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge within {max_iterations} "
            "iterations; labels are incomplete. Increase max_iterations."
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning)
    return labels


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs persisted corpus index (no full recompute)
# ---------------------------------------------------------------------------

def exact_dedup_incremental(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    store: DataFrame | None = None,
    reuse: bool = True,
    bloom_fpp: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup — the production shape at 100 TB: dedup a
    NEW batch against the existing corpus's persisted fingerprint store
    (one 8-byte ``fp`` per historical doc) instead of recomputing over
    the whole corpus. Returns ``(survivors, updated_store)``.

    Within the batch the min-id row per normalized text wins (same rule
    as `exact_dedup`); batch canonicals whose fingerprint is already in
    the store are dropped by an anti-join. The corpus itself is never
    read — a daily 1 TB increment costs one shuffle of the increment plus
    an anti-join against the store, not a 100 TB recompute. Persist
    ``updated_store`` (parquet, optionally bucketed by ``fp`` for a
    co-located anti-join) between batches.

    ``bloom_fpp`` (e.g. 0.01) additionally builds a Bloom filter of the
    store's fingerprints (operators.sketches.bloom_filter_build — a few
    KB broadcast) and splits the batch BEFORE the anti-join: rows the
    filter rules out are definitely new (no false negatives) and skip the
    join entirely; only the ~store-hit + fpp fraction exchanges against
    the store. When daily increments are mostly-new data, the anti-join
    input shrinks from |increment| to ~|duplicates|.

    ``reuse=True`` lazily checkpoints the deduped batch so materializing
    BOTH outputs computes the window + anti-join once; pass False when
    only one output is consumed (keeps the full plan visible too)."""
    fp = fingerprint_expr(F.col(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    batch_canon = (
        new_df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if store is not None and bloom_fpp is not None:
        from epic_pandas_spark.operators.sketches import (
            bloom_filter_build,
            bloom_might_contain_expr,
        )

        n_store = store.count()
        if n_store > 0:
            words, m, k = bloom_filter_build(
                store, "fp", expected_items=n_store, fpp=bloom_fpp
            )
            might = bloom_might_contain_expr(F.col("__fp"), words, m, k)
            batch_canon = batch_canon.withColumn("__might", might).localCheckpoint(
                eager=False  # read twice: definite-new branch + maybe branch
            )
            definite_new = batch_canon.filter(~F.col("__might")).drop("__might")
            maybe = batch_canon.filter(F.col("__might")).drop("__might")
            checked = maybe.join(store, maybe["__fp"] == store["fp"], "left_anti")
            batch_canon = definite_new.unionByName(checked)
    elif store is not None:
        batch_canon = batch_canon.join(
            store, batch_canon["__fp"] == store["fp"], "left_anti"
        )
    if reuse:
        batch_canon = batch_canon.localCheckpoint(eager=False)  # survivors + store update
    survivors = batch_canon.drop("__fp")
    new_fps = batch_canon.select(F.col("__fp").alias("fp"))
    updated = store.unionByName(new_fps) if store is not None else new_fps
    return survivors, updated


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_words: int = 3,
    n_hashes: int = 32,
    bands: int = 16,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable near-dup index of a corpus (or batch):
    ``(bands_df, shingles_df)`` with schemas ``(id, band, bucket)`` and
    ``(id, ws array<long>, n)``. Both are id-keyed parquet-friendly
    frames — the banded signatures drive candidate generation, the
    hashed shingle sets drive exact-Jaccard verification; together they
    are ~1-2% of corpus text size, which is what makes incremental
    near-dedup feasible without re-reading the corpus."""
    if n_hashes % bands != 0:
        raise ValueError("bands must divide n_hashes")
    # feeds both the signatures and the store
    words = _shingle_sets(df, text_col, id_col, shingle_words)
    r = n_hashes // bands
    signed = minhash_signatures(
        words.select("id", "ws"), n_hashes=n_hashes, seed=seed
    )
    banded = signed.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"s{b * r + j}") for j in range(r)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return banded, words


def _lsh_candidates(
    new_bands: DataFrame, index: tuple[DataFrame, DataFrame] | None
) -> DataFrame:
    """Distinct ``(id_a, id_b)`` band-collision candidates: new-vs-new
    with ``id_a < id_b`` and, when ``index`` is given, new-vs-store with
    the new doc as ``id_a``. Only (band, bucket, id) triples shuffle,
    never the shingles."""
    lhs = new_bands.select(F.col("id").alias("id_a"), "band", "bucket")
    rhs = new_bands.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        lhs.join(rhs, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if index is not None:
        old = index[0].select(F.col("id").alias("id_b"), "band", "bucket")
        cross = lhs.join(old, on=["band", "bucket"]).select("id_a", "id_b")
        cand = cand.unionByName(cross)
    return cand.dropDuplicates(["id_a", "id_b"])


def _verify_candidates(
    cand: DataFrame,
    new_words: DataFrame,
    index: tuple[DataFrame, DataFrame] | None,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over the hashed shingle sets of candidate ids only.
    Returns verified ``(id_a, id_b, jaccard)`` pairs at ``jaccard >=
    threshold``."""
    # id_a is ALWAYS from the new batch (see _lsh_candidates), so the id_a
    # word dimension never needs the store union — per epoch that join
    # touches |batch| word sets instead of |store|, which is what keeps
    # the per-micro-batch probe cost O(batch), not O(corpus)
    all_words = new_words if index is None else new_words.unionByName(index[1])
    wa = new_words.select(F.col("id").alias("id_a"), F.col("ws").alias("ws_a"))
    wb = all_words.select(F.col("id").alias("id_b"), F.col("ws").alias("ws_b"))
    verified = cand.join(wa, "id_a").join(wb, "id_b")
    jac = (
        F.size(F.array_intersect("ws_a", "ws_b")).cast("double")
        / F.size(F.array_union("ws_a", "ws_b"))
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _lsh_pairs_vs_store(
    new_bands: DataFrame,
    new_words: DataFrame,
    index: tuple[DataFrame, DataFrame] | None,
    threshold: float,
) -> DataFrame:
    """Shared core of the batch, incremental and streaming near-dup
    family: band-collision candidates, then exact verification."""
    return _verify_candidates(
        _lsh_candidates(new_bands, index), new_words, index, threshold
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    index: tuple[DataFrame, DataFrame] | None = None,
    shingle_words: int = 3,
    n_hashes: int = 32,
    bands: int = 16,
    seed: int = 7,
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """Incremental MinHash+LSH near-dup: find all verified pairs with
    Jaccard >= threshold that INVOLVE the new batch — new-vs-new and
    new-vs-corpus — without re-pairing the historical corpus against
    itself. Returns ``(pairs, updated_index)``.

    ``index`` is the corpus index from `minhash_index` (or a previous
    call's ``updated_index``). Candidate generation joins the new batch's
    banded signatures against itself AND against the stored bands; exact
    verification joins hashed shingle sets only for candidate ids. Per
    batch, cost is O(new x collision-rate), never O(corpus²) — the
    standing index turns near-dedup into a streaming-friendly operator."""
    new_bands, new_words = minhash_index(
        new_df, text_col, id_col, shingle_words, n_hashes, bands, seed
    )
    new_bands = new_bands.localCheckpoint(eager=False)  # self-join + store union
    pairs = _lsh_pairs_vs_store(new_bands, new_words, index, threshold)
    if index is not None:
        updated = (
            index[0].unionByName(new_bands),
            index[1].unionByName(new_words),
        )
    else:
        updated = (new_bands, new_words)
    return pairs, updated


# After this many micro-batches the streaming near-dup probe's in-memory
# signature cache folds back into a fresh parquet-store snapshot — bounds
# executor storage-memory for long-running streams while keeping the
# common path free of per-epoch store re-reads.
_STORE_REFRESH_EPOCHS = 64


def minhash_neardup_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float,
    shingle_words: int = 3,
    n_hashes: int = 32,
    bands: int = 16,
    seed: int = 7,
    update_index: bool = True,
):
    """STREAMING near-dedup of an incoming document stream against a
    persisted, GROWING MinHash-LSH index — the production shape of
    continuous crawl ingestion: every micro-batch is flagged against
    everything already indexed (the original corpus plus all earlier
    micro-batches) without ever re-pairing the corpus with itself.
    Completes the streaming x dedup matrix next to the exact
    `streaming_dedup` (fingerprint equality) and the batch
    `minhash_lsh_pairs_incremental` this is the streaming twin of.

    Chaining the signature aggregate, the store joins, and pair dedup in
    ONE streaming query would stack stateful operators structured
    streaming can't chain without event-time watermarks, so this uses the
    standard escape hatch: ``foreachBatch`` runs the VERIFIED batch
    machinery (`minhash_index` + the shared `_lsh_pairs_vs_store` core)
    per micro-batch — bit-equal to applying the batch incremental
    operator to the same batches in sequence, which is what the
    stream==batch pytest asserts.

    Exactly-once: every write is an idempotent epoch-partitioned
    overwrite (same pattern as `stream_to_parquet_exactly_once`), and the
    store read EXCLUDES the current epoch's partitions, so a replayed
    epoch after a partial failure reconstructs identical output instead
    of double-counting itself. Layout: ``{index_dir}/bands`` and
    ``{index_dir}/words`` (epoch-partitioned parquet; seed an initial
    corpus index by writing `minhash_index` output to ``epoch=-1``),
    verified pairs land in ``{out_dir}/epoch=N``.

    Plan at 100 TB: per epoch the cost is O(batch x collision rate) —
    the batch's banded signatures join the standing band store (id +
    two longs per row, ~1-2% of corpus text; bucketable by (band,
    bucket) for a co-located probe), and exact verification touches
    hashed shingle sets of candidate ids only. The DURABLE state is
    parquet only — the streaming checkpoint holds no LSH state, and the
    index stays queryable by the batch pipeline; within a run the probe
    additionally keeps the store snapshot + its own epochs' signatures
    as in-memory checkpoints (refreshed from parquet every
    _STORE_REFRESH_EPOCHS batches) so the growing store is not re-listed
    and re-read every micro-batch. Returns the started StreamingQuery."""
    spark = stream_df.sparkSession
    # Standing-index cache across micro-batches (round 10, the 2x
    # throughput fix): the parquet store stays the DURABLE index — every
    # epoch still lands there with the same idempotent epoch-partitioned
    # overwrites — but the probe no longer re-lists and re-reads the
    # whole growing store every micro-batch. The store is snapshotted
    # into the plan ONCE (lazily, first epoch of this run), and each
    # subsequent epoch's signatures join the snapshot plus the run's own
    # eagerly-checkpointed in-memory epochs (bounded: banded signatures
    # and hashed shingle sets, ~1-2% of corpus text — never raw text).
    # Retry safety is unchanged: a replayed epoch is excluded from BOTH
    # the snapshot (epoch partition filter) and the in-memory dict (key
    # lookup), so it reconstructs identical output. After
    # _STORE_REFRESH_EPOCHS in-memory epochs the cache folds back into a
    # fresh parquet snapshot, bounding executor storage for long runs.
    state: dict = {"base": None, "epochs": {}, "since_snapshot": 0}

    def _read_store(exclude_epochs: list):
        # Excludes the CURRENT epoch (retry safety: a replayed epoch must
        # not probe its own failed attempt's partitions) AND every epoch
        # already held in state["epochs"]: on a fresh pipeline the store
        # does not exist at epoch 0, so the snapshot is adopted at a LATER
        # epoch from parquet that already contains the run's earlier
        # appends — without the exclusion those docs would sit in both the
        # snapshot and the in-memory cache and every pair touching them
        # would be emitted twice (duplicate rows, not just candidates).
        excl = F.col("epoch").isin(exclude_epochs)
        sb = (
            spark.read.option("basePath", f"{index_dir}/bands")
            .parquet(f"{index_dir}/bands")
            .filter(~excl)
            .drop("epoch")
        )
        sw = (
            spark.read.option("basePath", f"{index_dir}/words")
            .parquet(f"{index_dir}/words")
            .filter(~excl)
            .drop("epoch")
        )
        return sb, sw

    def probe(batch_df: DataFrame, epoch_id: int) -> None:
        nb, nw = minhash_index(
            batch_df, text_col, id_col, shingle_words, n_hashes, bands, seed
        )
        # pairs probe + index append; nw is minhash_index's checkpointed
        # shingle table already
        nb = nb.localCheckpoint(eager=False)
        # Refresh the snapshot from parquet once the in-memory epoch cache
        # is full (update_index=True: those epochs' appends are durable, so
        # the fresh snapshot covers them) OR once enough epochs have
        # elapsed since the last adoption (update_index=False: the cache
        # never grows, but an externally-appended shared store must still
        # become visible within _STORE_REFRESH_EPOCHS micro-batches —
        # round 10 snapshotted forever on that path). External appends are
        # invisible between refreshes by design; do not append to the
        # shared store from outside a run that also appends to it, or a
        # replayed-epoch partition overwrite could clobber them.
        state["since_snapshot"] += 1
        if state["base"] is not None and (
            len(state["epochs"]) >= _STORE_REFRESH_EPOCHS
            or state["since_snapshot"] > _STORE_REFRESH_EPOCHS
        ):
            state["base"], state["epochs"] = None, {}
        index = state["base"]
        if index is None:
            # Only the genuinely-missing-index case (first epoch of a
            # fresh pipeline) may be tolerated; any OTHER read failure —
            # corrupt store, transient FS error, schema drift — must
            # propagate and fail the micro-batch, else the epoch silently
            # emits zero new-vs-history pairs while still appending its
            # partitions.
            if _hadoop_path_exists(
                spark, f"{index_dir}/bands"
            ) and _hadoop_path_exists(spark, f"{index_dir}/words"):
                index = _read_store([epoch_id, *state["epochs"]])
                state["base"] = index
                state["since_snapshot"] = 0
        prior = index
        for eid, (eb, ew) in state["epochs"].items():
            if eid == epoch_id:
                continue  # replayed epoch must not see its failed attempt
            prior = (
                (eb, ew)
                if prior is None
                else (prior[0].unionByName(eb), prior[1].unionByName(ew))
            )
        pairs = _lsh_pairs_vs_store(nb, nw, prior, threshold)
        # the pairs write runs FIRST as one fused job — it materializes
        # the nb checkpoint and the shingle-table checkpoint under nw on
        # the way — and the two index appends then run CONCURRENTLY over
        # the materialized checkpoint blocks (Spark schedules jobs from
        # separate threads in parallel), so the epoch pays one fused
        # probe + max(append) instead of four serial jobs
        pairs.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        if update_index:
            appends = [
                (nb, f"{index_dir}/bands/epoch={epoch_id}"),
                (nw, f"{index_dir}/words/epoch={epoch_id}"),
            ]
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(
                        lambda d, p: d.write.mode("overwrite").parquet(p), d, p
                    )
                    for d, p in appends
                ]
                for f in futs:
                    f.result()  # propagate the first failure — epoch must fail
            # nb/nw are already localCheckpoint-ed and materialized;
            # holding the references keeps their checkpoint blocks alive
            # for later epochs' probes
            state["epochs"][epoch_id] = (nb, nw)

    return (
        stream_df.writeStream.foreachBatch(probe)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _gram_hashes_expr(norm_text: Column, k: int) -> Column:
    """Array of xxhash64 values of the character k-grams of an
    ALREADY-normalized text column (see chargram_text_expr), one per
    start position (a short text hashes as a single whole-string gram).
    The k-char gram strings exist only transiently inside expression
    evaluation — the produced column is ``array<bigint>``."""
    length = F.length(norm_text)
    starts = F.sequence(F.lit(1), F.greatest(length - F.lit(k - 1), F.lit(1)))
    return F.transform(starts, lambda i: F.xxhash64(F.substring(norm_text, i, k)))


def winnowed_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    window: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): per doc, hash every character k-gram of the
    normalized text, then keep the MINIMUM hash of each sliding window
    of ``window`` consecutive gram positions. Selection is by hash
    VALUE over window CONTENT, so it is alignment-independent:

      guarantee — two docs sharing a verbatim normalized run of at
      least ``k + window - 1`` characters share a full gram window,
      whose min hash is the same value on both sides, hence both emit
      that fingerprint. Shorter shared runs (>= k) MAY be detected.

    Expected fingerprint density is 2/(window+1) of the gram count —
    the ~4x (at window=8) index-size reduction that makes the
    repeated-passage index practical at 100 TB. Returns (id, fp)
    distinct.

    Plan note: the sliding min is a row window over the posexploded
    hash stream, NOT a nested array expression — slice(transform(...))
    inside a second transform re-evaluates the whole inner array per
    window element (Catalyst inlines the projection), which is
    quadratic per doc. The explode→window form evaluates each gram
    hash once and shuffles only (id, pos, hash) 8-byte payloads."""
    if window < 1:
        raise ValueError("window must be >= 1")
    pos = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        chargram_text_expr(F.col(text_col)).alias("__t"),
    ).select(
        "id", F.posexplode(_gram_hashes_expr(F.col("__t"), k)).alias("pos", "h")
    )
    w_min = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    w_all = Window.partitionBy("id")
    return (
        pos.withColumn("fp", F.min("h").over(w_min))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        # winnowing windows are starts 1..P-w+1; keep the lone window when P < w
        .filter(
            (F.col("pos") <= F.col("__n") - F.lit(window)) | (F.col("pos") == 0)
        )
        .select("id", "fp")
        .distinct()
    )


# A gram (or winnowed fingerprint) present in D docs contributes
# D(D-1)/2 rows to the pair self-join's output THROUGH ONE JOIN KEY —
# i.e. one shuffle task, un-splittable by AQE because the skew IS the
# output, not the plan. _AUTO_GRAM_FREQ is the doc-frequency cap whose
# worst single-key pair count (~5e7 rows) a task absorbs in seconds;
# above it the gram is site boilerplate whose pair output is itself
# quadratic at corpus scale (one 50-char template string across 40% of
# a 100-TB crawl would emit ~1e13 pairs from one key) — no physical
# plan fixes an ANSWER that size, so such grams are dropped from the
# signal: a constant derived from the single-task-fatal size, not a
# tunable someone must remember to set.
_AUTO_GRAM_FREQ = 10_000  # floor(sqrt(2 * 5e7)) — ≤ ~5e7 pairs per key


def _shared_key_pairs(
    df: DataFrame, inv: DataFrame, key: str, out_col: str
) -> DataFrame:
    """Doc pairs sharing at least one ``key`` of the inverted index
    ``inv`` (id, key) — distinct per (id, key) — with the shared-key
    count as ``out_col``. Body of both passage finders.

    Hot-key guard: keys in more than :data:`_AUTO_GRAM_FREQ` docs drop
    out via a broadcast ANTI join against the HOT key set (the
    boilerplate tail, bounded by |index| / cap keys), so count(*) per
    key IS doc frequency. A key's doc-frequency is bounded by the
    corpus doc count, so when |docs| <= cap no key can exceed it and
    one count-star over ``df`` skips the groupBy + anti join, which
    would be a no-op."""
    inv = inv.localCheckpoint(eager=False)  # both sides of the self-join
    if df.count() > _AUTO_GRAM_FREQ:
        hot = (
            inv.groupBy(key)
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > _AUTO_GRAM_FREQ)
            .select(key)
        )
        inv = inv.join(F.broadcast(hot), key, "left_anti")
    a = inv.select(F.col("id").alias("id_a"), key)
    b = inv.select(F.col("id").alias("id_b"), key)
    return (
        a.join(b, on=key)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias(out_col))
    )


def repeated_passage_pairs_winnowed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    window: int = 8,
) -> DataFrame:
    """Scale path of :func:`repeated_passage_pairs`: candidate doc pairs
    sharing at least one winnowed fingerprint. Complete for pairs whose
    shared verbatim run is >= ``min_len + window - 1`` normalized chars
    (the winnowing guarantee); pairs sharing only shorter runs are
    best-effort. The inverted index carries ~2/(window+1) of the
    full-gram entries, same join shape, same hot-key guard
    (:func:`_shared_key_pairs`). Returns (id_a, id_b, n_shared_fp)."""
    inv = winnowed_fingerprints(df, text_col, id_col, k=min_len, window=window)
    return _shared_key_pairs(df, inv, "fp", "n_shared_fp")


def repeated_passage_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
) -> DataFrame:
    """Exact repeated-passage detection (the signal behind Lee et al.
    2022's substring dedup): all doc pairs sharing at least one VERBATIM
    character run of >= ``min_len`` in the whitespace/case-normalized
    text. Two docs share a ``min_len``-char gram IFF they share an exact
    substring of that length, so the char-gram inverted index finds
    every pair with no verification step. Returns
    ``(id_a, id_b, n_shared)`` where n_shared counts distinct shared
    grams (a proxy for overlap extent: a shared run of L chars yields
    L - min_len + 1 grams).

    Plan: grams are hashed to 8 bytes and made distinct INSIDE the
    per-row array (transform + array_distinct) before the explode, so no
    50-char string ever reaches an exchange and the per-doc dedup costs
    zero shuffles (per-doc distinct == per-(id, gram) distinct). Grams
    in more than :data:`_AUTO_GRAM_FREQ` docs are dropped — the hot-key
    guard of :func:`_shared_key_pairs` that keeps the join linear when a
    site template repeats across millions of pages: such a gram
    contributes a quadratic number of OUTPUT pairs through one shuffle
    key, which no plan survives at corpus scale."""
    inv = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        chargram_text_expr(F.col(text_col)).alias("__t"),
    ).select(
        "id",
        F.explode(F.array_distinct(_gram_hashes_expr(F.col("__t"), min_len))).alias(
            "gh"
        ),
    )
    return _shared_key_pairs(df, inv, "gh", "n_shared")


def _deletion_variants(s) -> "F.Column":
    """array<string> of every single-deletion variant of ``s`` (empty
    array for the empty string). Pure expression tree, reusable on
    nested lambdas (the 2-deletion neighborhood maps this over the
    1-deletion array)."""
    n = F.length(s)
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                F.substring(s, i + 1, n),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_edits: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """Fuzzy-string near-dup pairs within Levenshtein distance
    ``max_edits`` (1 or 2) — EXACT, via deletion-neighborhood blocking
    (the SymSpell spelling-correction trick): each string blocks on its
    set of <= ``max_edits``-deletion variants (including itself). For
    any pair at distance d <= max_edits, take an optimal alignment and
    delete from each side its non-matched positions (<= d per side):
    both reach the shared matched subsequence — so candidate generation
    has ZERO recall gap at any max_edits, and the exact `levenshtein`
    check runs on candidates only.

    Scale shape: the neighborhood join runs over DISTINCT STRINGS, not
    rows — duplicate keys are collapsed to one representative first, so
    a saturating key space (the typo-dedup regime: corpus grows, key
    vocabulary doesn't) keeps the variant join CONSTANT-sized as rows
    grow; id pairs expand back from the verified string pairs by
    membership joins, which is output-proportional by definition
    (identical-key pairs at dist 0, cross-key pairs at the verified
    dist). A distinct string of length n emits n+1 variants at
    max_edits=1 and 1 + n + n(n-1)/2 at max_edits=2; every variant is
    hashed to 8 bytes BEFORE the self-join and the block stream carries
    only ``(hash, rep)`` — strings rejoin by rep for the verification
    step, so the O(n²) neighborhood of the 2-edit form costs O(n²)
    16-byte rows, never O(n²) string payloads. ``max_len`` guards the
    quadratic regime: the op targets SHORT KEYS (titles, usernames,
    product codes — the typo-dedup use case); a string longer than
    ``max_len`` RAISES at execution (explicitly — never a silent recall
    drop). Raise ``max_len`` deliberately if your keys warrant it."""
    if max_edits not in (1, 2):
        raise NotImplementedError(
            "deletion-neighborhood blocking supports max_edits in {1, 2}; "
            "higher radii need O(len^max_edits) variants per string"
        )
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
    # collapse duplicate keys: the neighborhood join sees each distinct
    # string ONCE (rep = min id); groups expand back at the end
    groups = src.groupBy("s").agg(F.min("id").alias("rep")).localCheckpoint(
        eager=False
    )
    spairs = _edit_distance_string_pairs(groups, max_edits, max_len)

    # same-key pairs: every id pair within one string group, dist 0
    ga = src.select("s", F.col("id").alias("id_a"))
    gb = src.select("s", F.col("id").alias("id_b"))
    same = (
        ga.join(gb, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("dist"))
    )
    # cross-key pairs: expand each verified string pair to all member
    # id combinations (both joins key on the string — one shuffle each)
    ma = src.select(F.col("s").alias("s_a"), F.col("id").alias("ida"))
    mb = src.select(F.col("s").alias("s_b"), F.col("id").alias("idb"))
    cross = (
        spairs.join(ma, "s_a")
        .join(mb, "s_b")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "dist",
        )
    )
    return same.unionByName(cross)


def _deletion_candidate_pairs(
    groups: DataFrame, max_edits: int, max_len: int
) -> DataFrame:
    """Distinct candidate pairs ``(rep_a, rep_b)`` (rep_a < rep_b) whose
    <= ``max_edits``-deletion neighborhoods intersect, over ``groups`` =
    (s, rep). Strings longer than ``max_len`` raise at execution when
    max_edits=2 (the O(len^2) regime guard)."""
    s = F.col("s")
    if max_edits == 2:
        # null passes through (it generates no variants and never pairs);
        # length(null) <= max_len is null, which would otherwise fall into
        # the raise_error branch
        s = F.when(
            s.isNull() | (F.length(s) <= max_len), s
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"edit_distance_pairs(max_edits=2, max_len={max_len}): "
                        "string exceeds max_len (the 2-deletion neighborhood "
                        "is O(len^2); raise max_len explicitly): "
                    ),
                    F.substring(F.col("s"), 1, 80),
                )
            )
        )
    d1 = _deletion_variants(s)
    variants = F.array_union(F.array(s), d1)
    if max_edits == 2:
        variants = F.array_union(
            variants, F.flatten(F.transform(d1, _deletion_variants))
        )
    blocked = (
        groups.select("rep", F.explode(F.array_distinct(variants)).alias("v"))
        .select("rep", F.xxhash64("v").alias("vh"))
    )
    a = blocked.select(F.col("rep").alias("rep_a"), "vh")
    b = blocked.select(F.col("rep").alias("rep_b"), "vh")
    return (
        a.join(b, on="vh")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .distinct()
    )


def _edit_distance_string_pairs(
    groups: DataFrame, max_edits: int, max_len: int
) -> DataFrame:
    """Verified DISTINCT-STRING pairs ``(s_a, s_b, dist)`` with
    1 <= dist <= max_edits, via the deletion-neighborhood candidate join
    over ``groups`` = (s, rep). Internal half of
    :func:`edit_distance_pairs`; also drives its candidate-count
    instrumentation twin."""
    cands = _deletion_candidate_pairs(groups, max_edits, max_len)
    sa = groups.select(F.col("rep").alias("rep_a"), F.col("s").alias("s_a"))
    sb = groups.select(F.col("rep").alias("rep_b"), F.col("s").alias("s_b"))
    return (
        cands.join(sa, "rep_a")
        .join(sb, "rep_b")
        .withColumn("dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("dist") <= max_edits)  # dist >= 1: distinct strings
        .select("s_a", "s_b", "dist")
    )


def edit_distance_candidate_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_edits: int = 1,
    max_len: int = 64,
) -> dict:
    """Instrumentation twin of :func:`edit_distance_pairs`: one pass that
    returns ``{"n_rows", "n_distinct_strings", "n_candidate_pairs"}`` —
    the candidate count is the size of the deletion-neighborhood join
    output over distinct strings, i.e. exactly what the verification
    stage pays. Lets scale-trend artifacts attribute wall-time growth to
    candidate-pair density in-data instead of arguing about it."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
    groups = src.groupBy("s").agg(F.min("id").alias("rep")).localCheckpoint(
        eager=False
    )
    n_rows = src.count()
    n_strings = groups.count()
    n_cands = _deletion_candidate_pairs(groups, max_edits, max_len).count()
    n_verified = _edit_distance_string_pairs(groups, max_edits, max_len).count()
    return {
        "n_rows": n_rows,
        "n_distinct_strings": n_strings,
        "n_candidate_pairs": n_cands,
        "n_verified_string_pairs": n_verified,
    }


_POLY_B = 1000003  # odd -> invertible mod 2^64, so the prefix trick below works

# winnowing window of remove_repeated_spans' prefilter: ~2/(w+1) of the
# gram stream reaches a shuffle; the prefilter is lossless at any window
_SPANS_PREFILTER_WINDOW = 8

# broadcast bound for the prefilter's flagged-fingerprint semi join:
# 4M rows of 8-byte hashes ≈ 32 MB on the wire — comfortably inside
# driver/executor budgets; above it the join is pinned to shuffle-hash
# (both sides hash-partition on __fp; no driver collection at all).
_FLAGGED_BROADCAST_MAX_ROWS = 4_000_000


def _winnow_candidate_ids(
    docs_n: DataFrame, k: int, window: int, min_doc_freq: int
) -> DataFrame:
    """Phase-1 prefilter of :func:`remove_repeated_spans`: the distinct
    ``__id`` set of documents that CAN contain a >= k-char span shared
    with >= min_doc_freq - 1 other docs — with ZERO false negatives, by
    the winnowing guarantee (Schleimer et al., SIGMOD'03): winnowing
    (k - window + 1)-char grams with a ``window``-gram sliding min means
    any two docs sharing a verbatim normalized run of >= k chars both
    select at least one identical fingerprint (the min of a gram window
    lying fully inside the run — selection is by hash VALUE, so copies
    at different offsets select the same grams). False positives
    (shorter shared runs) are harmless: phase 2 recomputes exact
    doc-freqs. Lossless restriction: a full k-gram with doc-freq >= 2
    is itself a >= k-char shared run, so every doc it appears in is a
    candidate and candidate-local doc-freqs equal global ones.

    The win over running phase 2 directly: fingerprints are computed
    NARROWLY (a numpy rolling hash + rolling min inside mapInPandas —
    text never shuffles, no per-char explode), and only ~2/(window+1)
    of the gram count ever reaches a shuffle, vs the per-char
    (hash, id, pos) stream phase 2 shuffles twice. Docs shorter than k
    normalized chars emit one whole-string fingerprint, mirroring phase
    2's whole-string gram for short docs."""
    import numpy as np
    import pandas as pd

    if window > k:
        window = k  # kp=1 below; guarantee still lands exactly at k
    kp = k - window + 1
    b_const, binv_const = _POLY_B, pow(_POLY_B, -1, 2**64)
    id_field = docs_n.schema["__id"]

    def winnow(batches):
        B = np.uint64(b_const)
        BINV = np.uint64(binv_const)
        sliding = np.lib.stride_tricks.sliding_window_view
        pows: dict = {}  # cached power tables, grown to the longest doc seen

        def pow_table(base, n):
            tab = pows.get(base)
            if tab is None or tab.size < n:
                tab = np.concatenate(
                    (
                        [np.uint64(1)],
                        np.cumprod(np.full(max(n, 1024) - 1, base, dtype=np.uint64)),
                    )
                )
                pows[base] = tab
            return tab

        for pdf in batches:
            docs = [
                (i, np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32))
                for i, t in zip(pdf["__id"].values, pdf["__t"].values)
                if t is not None and len(t) > 0
            ]
            if not docs:
                continue
            ids, fps = [], []
            # chunk so the (rows x maxlen) work matrix stays ~32M cells
            start = 0
            while start < len(docs):
                end, maxlen = start, 1
                while end < len(docs):
                    maxlen = max(maxlen, docs[end][1].size)
                    if (end - start + 1) * maxlen > 32_000_000 and end > start:
                        break
                    end += 1
                chunk = docs[start:end]
                start = end
                L = max(c.size for _, c in chunk)
                M = np.zeros((len(chunk), L), dtype=np.uint64)
                for r, (_, c) in enumerate(chunk):
                    M[r, : c.size] = c
                # prefix sums of c[j] * BINV^j (mod 2^64); gram content
                # hash at start i = (S[i+kp-1] - S[i-1]) * B^i — the B^i
                # rescale cancels the position factor, so equal content
                # hashes equal anywhere in any doc
                S = np.cumsum(M * pow_table(BINV, L)[None, :L], axis=1)
                if L >= kp:
                    g = (
                        S[:, kp - 1 :]
                        - np.concatenate(
                            (np.zeros((len(chunk), 1), dtype=np.uint64), S[:, : L - kp]),
                            axis=1,
                        )
                    ) * pow_table(B, L)[None, : L - kp + 1]
                    wins = (
                        sliding(g, window, axis=1).min(axis=2)
                        if g.shape[1] >= window
                        else None
                    )
                for r, (doc_id, c) in enumerate(chunk):
                    n = c.size
                    if n < k:
                        sel = S[r, n - 1 : n]  # whole-string fp (short-doc gram twin)
                    else:
                        sel = np.unique(wins[r, : n - kp + 1 - window + 1])
                    ids.append(np.full(sel.size, doc_id))
                    fps.append(sel)
            yield pd.DataFrame(
                {
                    "__id": np.concatenate(ids),
                    "__fp": np.concatenate(fps).view(np.int64),
                }
            )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([id_field, StructField("__fp", LongType())])
    fps = (
        ensure_parallelism(docs_n)
        .select("__id", "__t")
        .mapInPandas(winnow, schema=schema)
        .localCheckpoint(eager=False)  # doc-freq AND id-extraction reuse it
    )
    # per-doc-distinct emission makes count(*) the doc frequency
    flagged = (
        fps.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_doc_freq)
        .select("__fp")
        .localCheckpoint(eager=False)  # count + semi join share one compute
    )
    # Join strategy is pinned on the EXACT flagged row count, never left
    # to AQE: on a duplication-saturated corpus the flagged set runs to
    # millions of rows whose COMPRESSED size estimate can sit under the
    # broadcast threshold while the driver-collected build side blows
    # past spark.driver.maxResultSize (hit once at sf10-skew via a
    # merge-hinted sibling probe, round 10). The count() is one
    # map-side-combinable aggregate over 8-byte hashes and materializes
    # the checkpoint the join then reuses.
    n_flagged = flagged.count()
    build = (
        F.broadcast(flagged)
        if n_flagged <= _FLAGGED_BROADCAST_MAX_ROWS
        else flagged.hint("shuffle_hash")
    )
    return fps.join(build, on="__fp", how="left_semi").select("__id").distinct()


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_doc_freq: int = 2,
    keep_first: bool = False,
    out_col: str = "cleaned",
) -> DataFrame:
    """The REWRITE step of exact-substring dedup (Lee et al. 2022,
    arXiv:2107.06499 §3.1 — their suffix-array ExactSubstr pass):
    remove from each document every maximal character span (>=
    ``min_len`` normalized chars) that appears verbatim in at least
    ``min_doc_freq`` documents. :func:`repeated_passage_pairs` only
    FLAGS the pairs; this produces the deduplicated corpus.

    ``keep_first=True`` exempts, per duplicated gram, the document with
    the smallest id — the "keep one occurrence" policy of the paper
    (ownership is per-gram, so a span copied from two different
    canonical docs can be partially kept; deterministic either way).

    Returns ``(id_col, out_col, n_removed_chars)`` where ``out_col`` is
    the whitespace/case-NORMALIZED text with flagged spans cut (the
    paper also rewrites a normalized stream); ``n_removed_chars`` is
    measured on that normalized text. Every input document appears
    exactly once (untouched docs pass through with 0).

    Distributed shape (suffix arrays don't shard; position-tagged char
    k-grams do): the position stream shuffles ``(8-byte gram hash, id,
    pos)`` — never text; duplicated-gram doc-frequencies are one keyed
    window; flagged positions fuse to maximal spans with a per-doc
    gaps-and-islands window (cumulative-max end, island = running count
    of gap starts); the normalized text shuffles exactly once (the
    spans-to-doc join) and kept segments reassemble with the same
    array_sort(collect_list) pattern as ``dedup_lines``. Every stage is
    a DataFrame op on keys bounded by doc length — no suffix sort, no
    driver materialization.

    A lossless winnowing phase runs first (:func:`_winnow_candidate_ids`):
    a narrow numpy rolling-hash pass selects the docs that can possibly
    contain a duplicated span, and the per-char stream below — the
    operator's dominant shuffle, ~28 bytes per character of corpus —
    runs only over those. On a corpus where duplicated docs are a
    minority the amplification drops by that minority fraction; output
    is bit-identical to running the stream over every doc (the parity
    pytest rebuilds that reference)."""
    k = min_len
    docs_n = df.select(
        F.col(id_col).alias("__id"),
        chargram_text_expr(F.col(text_col)).alias("__t"),
    ).withColumn("__len", F.length("__t"))

    # phase-1 winnowing prefilter (lossless — see _winnow_candidate_ids):
    # the per-char machinery below only ever runs over docs that can
    # contain a duplicated span, cutting its shuffle volume by the
    # non-duplicated fraction of the corpus (the sf100 disk-ceiling fix,
    # VERDICT r8 item 2/"what's wrong" 2)
    cand = _winnow_candidate_ids(
        docs_n.filter(F.col("__id").isNotNull()), k, _SPANS_PREFILTER_WINDOW, min_doc_freq
    )
    docs_c = docs_n.join(cand, on="__id", how="left_semi").localCheckpoint(
        eager=False
    )  # pos stream AND span-reassembly text reuse it

    # position-tagged gram stream: char position __p (1-based), gram hash
    # __gh of the k chars at __p, gram length __glen — the gram covers
    # [p, p + glen); short docs (< k chars) carry one whole-string gram.
    # Null-id docs are excluded up front: their rewritten rows could
    # never rejoin the corpus anyway (the rebuild join key is __id, and
    # SQL null never equals), and the doc-freq below must count distinct
    # non-null ids. Null-text and empty docs are excluded so they always
    # pass through untouched, whatever the candidate set holds: >=
    # min_doc_freq null-text docs would all collide on xxhash64(null)'s
    # seed value, get flagged, and rebuild to '' instead of NULL.
    docs_pos = docs_c.filter(
        F.col("__id").isNotNull()
        & F.col("__t").isNotNull()
        & (F.col("__len") > 0)
    )
    starts = F.sequence(F.lit(1), F.greatest(F.col("__len") - F.lit(k - 1), F.lit(1)))
    pos = ensure_parallelism(docs_pos).select(
        "__id",
        "__len",
        F.explode(starts).alias("__p"),
        F.col("__t"),
    ).select(
        "__id",
        "__p",
        F.xxhash64(F.substring(F.col("__t"), F.col("__p"), k)).alias("__gh"),
        F.least(F.lit(k), F.col("__len")).alias("__glen"),
    )

    # exact per-gram doc-frequency: the round-9 fused window — one
    # full-stream shuffle keyed on the gram hash, with the doc-freq (max
    # dense_rank), keep-first owner (min id), and each position's flag
    # decision all local to that one sort. Measured at every local tier
    # it beats the aggregate+join alternative ~3x: the alternative
    # shuffles the per-char stream twice, which is also what killed
    # round 8 at sf100. A window partition never splits, so a corpus-wide
    # boilerplate gram sorts in one task; at sf10 with a gram planted in
    # 40% of docs the prefiltered window still absorbed it faster than a
    # sampled heavy-hitter split did (SCALE_TREND_R10_SPANS skew tiers).
    w_gh = Window.partitionBy("__gh")
    flagged_pos = pos.withColumn(
        "__dr", F.dense_rank().over(w_gh.orderBy("__id"))
    ).withColumn("__df", F.max("__dr").over(w_gh))
    if keep_first:
        flagged_pos = flagged_pos.withColumn("__owner", F.min("__id").over(w_gh))
    hits = flagged_pos.filter(F.col("__df") >= min_doc_freq)
    if keep_first:
        hits = hits.filter(F.col("__id") != F.col("__owner"))
    hits = hits.select("__id", "__p", (F.col("__p") + F.col("__glen")).alias("__e"))

    # gaps-and-islands: a new island starts when this gram begins past
    # every previous gram's end; spans are per-island min-start/max-end
    w = Window.partitionBy("__id").orderBy("__p")
    prev_max_e = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = hits.withColumn(
        "__new", F.when(F.col("__p") > F.coalesce(prev_max_e, F.lit(0)), 1).otherwise(0)
    ).withColumn("__isl", F.sum("__new").over(w))
    spans = islands.groupBy("__id", "__isl").agg(
        F.min("__p").alias("__s"), F.max("__e").alias("__se")
    )

    # kept segments: before/between spans via lag, plus the per-doc tail.
    # MERGE hint: the text side must NEVER broadcast — normalized text
    # compresses far below the auto-broadcast threshold in parquet but
    # explodes to corpus-sized bytes when the build side materializes on
    # the driver (measured at sf10: a 91 MB documents.parquet became a
    # 2.1 GiB broadcast collect and killed the job). Same for the
    # rebuilt-text join below.
    with_text = spans.join(docs_c.hint("merge"), on="__id")
    w2 = Window.partitionBy("__id").orderBy("__s")
    heads = with_text.select(
        "__id",
        F.coalesce(F.lag("__se").over(w2), F.lit(1)).alias("__b"),
        F.col("__s").alias("__limit"),
        "__t",
    ).select(
        "__id",
        "__b",
        F.expr("substring(__t, __b, __limit - __b)").alias("__seg"),
    )
    tails = (
        with_text.groupBy("__id")
        .agg(F.max("__se").alias("__b"), F.first("__t").alias("__t"), F.first("__len").alias("__l"))
        .select("__id", "__b", F.expr("substring(__t, __b, __l - __b + 1)").alias("__seg"))
    )
    rebuilt = (
        heads.unionByName(tails)
        .groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__b", "__seg"))),
                    lambda s: s["__seg"],
                ),
                "",
            ).alias("__clean")
        )
    )

    out = docs_n.join(rebuilt.hint("merge"), on="__id", how="left").select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("__clean"), F.col("__t")).alias(out_col),
        (F.col("__len") - F.length(F.coalesce(F.col("__clean"), F.col("__t"))))
        .cast("long")
        .alias("n_removed_chars"),
    )
    return out
