r"""Text-analysis expression builders for the LLM-data-pipeline tier
(extension layer; no reference analog — SURVEY.md §7.1 step 9).

All pure Column expressions (whole-stage codegen, zero Python in the hot
path): token counting, quality scoring, n-gram-heuristic language ID, and
document fingerprinting.

This module owns the two text normalizations every text operator uses:

- **Word rule** (``normalized_text_expr``, ``words_expr``): lowercase,
  ``trim``, collapse each ``\s+`` run to one space, split on ``" "``.
  ``split_words`` is its Python mirror for driver-side and UDF code.
  Java's regex ``\s`` is exactly the six ASCII whitespace characters
  ``[ \t\n\x0B\f\r]``, so NBSP (U+00A0), em-space (U+2003) and the
  ``\x1c``-``\x1f`` separators are word characters; Python's
  ``str.split()`` splits on all of them, which is why the mirror does not
  use it.
- **Char-gram rule** (``chargram_text_expr``): lowercase and collapse
  ``\s+`` runs, with no ``trim`` — character shingles keep the edge
  whitespace as a space.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Java's \s: the six ASCII whitespace characters (no Unicode spaces)
_JAVA_WS_TO_SPACE = str.maketrans("\t\n\x0b\x0c\r", "     ")

# minimal stopword marker sets per language for the n-gram heuristic
_LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " la ", " et ", " les "],
    "es": [" el ", " de ", " que ", " los "],
}


def normalized_text_expr(text: Column) -> Column:
    """The word rule's normalized text: lowercase, trim, and one space
    per ``\\s+`` run."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def words_expr(text: Column) -> Column:
    """The word rule's word array: ``normalized_text_expr`` split on
    ``" "``. Empty or edge-whitespace text yields ``""`` entries; each
    caller filters them (or counts them) as it needs."""
    return F.split(normalized_text_expr(text), " ")


def split_words(text: str) -> list[str]:
    """Python mirror of ``words_expr`` with the empty tokens dropped:
    the lowercased text split on runs of Java's ``\\s`` characters."""
    return [w for w in text.lower().translate(_JAVA_WS_TO_SPACE).split(" ") if w]


def chargram_text_expr(text: Column) -> Column:
    """The char-gram rule: lowercase and one space per ``\\s+`` run, but
    no trim, unlike the word rule — a leading or trailing whitespace run
    stays a space in the character shingles. Callers MUST materialize
    this as its own projection (withColumn/select) before a
    higher-order function reads it: an expression referenced inside a
    lambda is re-evaluated per array element, so inlining the regex
    costs O(len) regex passes per doc (measured 7x wall time on the
    sf0.1 corpus)."""
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def token_count_expr(text: Column) -> Column:
    """Whitespace token count; empty/null-safe."""
    trimmed = F.trim(text)
    return F.when(
        trimmed.isNull() | (F.length(trimmed) == 0), F.lit(0)
    ).otherwise(F.size(F.split(trimmed, r"\s+")))


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring via length arithmetic — avoids
    regex escaping issues and stays codegen-friendly."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(needle)


def quality_score_exprs(text: Column) -> dict[str, Column]:
    """Heuristic document-quality features: length, token count, mean token
    length, alpha/space/punct ratios, uppercase ratio, and a composite
    [0,1] score. Each is a single expression over the text column."""
    n = F.length(text).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_space = F.length(F.regexp_replace(text, r"[^ \t\n]", ""))
    n_upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    n_tokens = token_count_expr(text).cast("double")
    alpha_ratio = n_alpha / safe_n
    space_ratio = n_space / safe_n
    punct_ratio = (n - n_alpha - n_digit - n_space) / safe_n
    upper_ratio = n_upper / F.greatest(n_alpha.cast("double"), F.lit(1.0))
    mean_token_len = F.when(n_tokens > 0, (n - n_space) / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(20.0)) * F.lit(0.4)
        + alpha_ratio * F.lit(0.4)
        + (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * F.lit(5.0))) * F.lit(0.2)
    )
    return {
        "n_chars": n.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": mean_token_len,
        "alpha_ratio": alpha_ratio,
        "space_ratio": space_ratio,
        "punct_ratio": punct_ratio,
        "upper_ratio": upper_ratio,
        "quality_score": score,
    }


def lang_id_expr(text: Column) -> Column:
    """n-gram/stopword-heuristic language ID: count marker hits per
    language on the lowercased text, take the argmax, 'und' when no
    markers hit. Expression-only (a few replace/length passes)."""
    lowered = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = [
        (lang, sum([_count_occurrences(lowered, m) for m in markers], F.lit(0.0)))
        for lang, markers in _LANG_MARKERS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reverse order so earlier languages win ties (argmax-first semantics)
    for lang, s in reversed(scores):
        expr = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint_expr(text: Column, normalize: bool = True) -> Column:
    """64-bit document fingerprint: xxhash64 of the
    whitespace/case-normalized text — the exact-dedup key. (A rolling
    shingle fingerprint lives in extensions.dedup.)"""
    t = text
    if normalize:
        t = normalized_text_expr(text)
    return F.xxhash64(t)


def ngrams_expr(text: Column, n: int = 3) -> Column:
    """Character n-gram (shingle) array of the normalized text — basis for
    Jaccard/MinHash dedup. Built with sequence+transform: stays in codegen,
    no UDF."""
    t = chargram_text_expr(text)
    length = F.length(t)
    starts = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    return F.when(length >= n, F.transform(starts, lambda i: F.substring(t, i, n))).otherwise(
        F.array(t)
    )


def word_ngrams_expr(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingle array of the normalized text (w-shingling): the
    standard unit for near-dup Jaccard/MinHash. Short docs (<n words)
    yield an empty array.

    Implementation: fold zip_with over k-shifted copies of the word array.
    Higher-order functions are interpreted (not codegen'd), so a
    transform(sequence, i -> slice(w, i, n)) formulation pays per-index
    array allocation — ~10× slower than this linear zip (measured 5.8s vs
    0.6s over 5k docs). zip_with pads the shorter side with nulls; the
    trailing partial grams become null and are filtered.

    The split/normalize result is LET-BOUND via a one-element transform
    (lambda variables are evaluated once), because interpreted HOF trees
    do no common-subexpression elimination: referencing the split
    expression from each of the n shifted copies re-runs the regex n
    times per doc (measured 3× wall time at n=13 on the sf0.1 corpus)."""
    w = words_expr(text)
    big = 1 << 30

    def _body(w0: Column) -> Column:
        acc = w0
        for k in range(1, n):
            shifted = F.slice(w0, k + 1, big)
            acc = F.zip_with(
                acc,
                shifted,
                lambda p, c: F.when(p.isNotNull() & c.isNotNull(), F.concat_ws(" ", p, c)),
            )
        out = F.filter(acc, lambda x: x.isNotNull())
        return F.array_distinct(out) if distinct else out

    return F.get(F.transform(F.array(w), _body), 0)


def build_vocab(
    df,
    text_col: str,
    top_k: int = 1000,
    min_count: int = 1,
):
    """Vocabulary construction for tokenizer training: whitespace-token
    frequencies over the corpus, ranked by (count desc, token asc) with
    contiguous ids 0..k-1. The workhorse plan — explode → hash-aggregate
    (map-side partial counts collapse the per-partition Zipf head, so the
    shuffle carries |vocab| rows per partition, not |tokens|) → TakeOrdered
    top-k. The final rank window runs on k rows only."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.explode(words_expr(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("token").asc())
        .limit(top_k)
    )
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    return counts.withColumn("token_id", F.row_number().over(w) - 1)


def compression_ratio_udf():
    """Arrow-batched zlib compression-ratio UDF: compressed_bytes /
    raw_bytes per document. The standard cheap boilerplate/spam signal —
    repetitive templated text compresses far below organic prose. zlib is
    stdlib (deterministic level 6), the kernel is per-batch Python with no
    shuffle; returns null for null text, 1.0-ish for empty."""
    def ratio(texts):
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    # explicit returnType form: `from __future__ import annotations` makes
    # pd.Series hints unresolvable strings for pyspark's hint inference
    return F.pandas_udf(ratio, "double")


def tfidf_top_terms(df, text_col: str, id_col: str, k: int = 3):
    """Per-document top-k TF-IDF terms (sklearn smooth-idf convention:
    ``idf = ln((1+N)/(1+df)) + 1``, tf = raw in-doc count) — the standard
    keyword/topic signal for corpus exploration and near-dup triage.

    One token pass: per-doc term counts (map-side partial agg), document
    frequencies derived FROM the tf table (|doc,term| rows, never the
    token stream again), idf joined back via broadcast (the vocab table
    is tiny next to the corpus), and a per-doc top-k window with a
    deterministic (score desc, term asc) tie-break. Returns
    ``(id_col, token, rank, score)``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(words_expr(F.col(text_col))).alias("token"),
    ).filter(F.col("token") != "")
    tf = (
        toks.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds the df agg AND the score join
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n"))
    idf = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select("token", (F.log((1.0 + F.col("n")) / (1.0 + F.col("df"))) + 1.0).alias("idf"))
    )
    scored = tf.join(F.broadcast(idf), on="token").select(
        id_col, "token", (F.col("tf") * F.col("idf")).alias("score")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "rank", "score")
    )


def encode_tokens(
    df,
    text_col: str,
    id_col: str,
    vocab,
    unk_id: int = -1,
    out_col: str = "token_ids",
):
    """Tokenize-and-encode: map each whitespace token of the normalized
    text to its id in ``vocab`` (a (token, token_id) frame from
    build_vocab), out-of-vocabulary tokens to ``unk_id``, preserving
    token order — the step between vocabulary construction and
    chunking/packing in a training-data pipeline.

    Plan: posexplode tokens, BROADCAST-join the vocab (real vocabularies
    are ≤ a few hundred k rows — the canonical broadcast dim), reassemble
    per doc with one hash-aggregate over (pos, id) structs sorted
    in-memory per row. The corpus text crosses the wire once, as ids."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.filter(words_expr(F.col(text_col)), lambda t: t != "")
        ).alias("__pos", "token"),
    )
    mapped = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    tid = F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int")
    return (
        mapped.select("__id", "__pos", tid.alias("__tid"))
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tid"))),
                lambda s: s["__tid"],
            ).alias(out_col)
        )
        .select(F.col("__id").alias(id_col), out_col)
    )
