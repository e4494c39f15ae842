"""Distributed BPE (byte-pair-encoding) tokenizer training + encoding —
the vocabulary-learning stage of an LLM data pipeline (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", ACL'16),
re-expressed for Spark.

Algorithm shape and why it scales:

- Training operates on the DISTINCT-WORD frequency table, not the corpus:
  a 100 TB corpus reduces to |vocab| rows (one shuffle) before the first
  merge iteration, and every iteration after that touches only that
  table. This is the standard trick — pair statistics are a function of
  (word, count) pairs only.
- Each merge iteration is: adjacent-pair extraction via
  arrays_zip(slice, slice) (pure expressions), one weighted groupBy over
  8-byte-ish pair keys, a 1-row argmax collect, and one Arrow-batched
  merge application (pandas UDF — the left-to-right greedy merge is
  inherently sequential WITHIN a word, parallel across words).
  localCheckpoint truncates lineage per iteration.
- Encoding applies the learned merge list in order inside one pandas UDF
  pass — no shuffle at all; merges broadcast with the closure.

Tie-breaking is pinned (count desc, then pair lexicographic asc) so
training is deterministic; the pytest witness replays the same corpus
through a pure-Python reference implementation and asserts the identical
merge sequence.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from epic_pandas_spark.functions.text import split_words, words_expr


def _word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, count): the only corpus-sized shuffle in training.
    Shared by the BPE and unigram trainers."""
    from epic_pandas_spark.parallel import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(F.explode(words_expr(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_word(syms: list, a: str, b: str) -> list:
    """Left-to-right greedy non-overlapping merge of the pair (a, b) —
    the Sennrich reference semantics."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _apply_merge_udf(a: str, b: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def apply(syms: pd.Series) -> pd.Series:
        return syms.map(lambda s: _merge_word(list(s), a, b))

    return apply


# bpe_train: distinct-word tables at or below this size run the merge
# loop driver-side on the collected table; larger ones stay distributed.
_BPE_LOCAL_MAX_WORDS = 2_000_000


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list [(left, right), ...]. Stops early when no adjacent pair
    occurs twice (nothing left worth merging).

    One distributed pass reduces the corpus to the (word, count) table.
    When it holds at most ``_BPE_LOCAL_MAX_WORDS`` rows the iterations
    run driver-side on the collected table (identical semantics — the
    reference trainer IS the iteration kernel, and the pytest witness
    proves distributed == reference); above it each iteration is a Spark
    pair-count shuffle + 1-row argmax + Arrow merge. The corpus-sized
    work is the same either way; only where the |vocab|-sized loop runs
    differs, and per-iteration Spark job overhead dominates wall time
    when the vocab is small."""
    from epic_pandas_spark.parallel import collect_at_most

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    # checkpoint: the word-count shuffle's map stage runs at this call
    # (eager=False still plans the input under adaptive execution), the
    # gate's job materializes the rest, and the fall-through to the
    # distributed loop reuses it instead of rescanning the corpus
    freq_df = _word_freq_table(df, text_col).localCheckpoint(eager=False)
    rows = collect_at_most(freq_df, _BPE_LOCAL_MAX_WORDS)
    if rows is not None:
        return _train_on_freq({r["w"]: r["cnt"] for r in rows}, n_merges)
    words = freq_df.withColumn(
        "syms", F.split("w", "")
    ).select("cnt", "syms").localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        n = F.size("syms")
        pairs = words.filter(n >= 2).select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, n - 1).alias("a"),
                    F.slice("syms", 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        if best is None or best["n"] < 2:
            break
        a, b = best["a"], best["b"]
        merges.append((a, b))
        words = words.withColumn(
            "syms", _apply_merge_udf(a, b)(F.col("syms"))
        ).localCheckpoint(eager=True)
    return merges


# bpe_encode: per-task memo bound (distinct words); the memo is cleared
# when it reaches this size, so a task's memory stays bounded on any vocab
_ENCODE_MEMO_MAX_WORDS = 100_000


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list: one Arrow-batched
    pass, no shuffle — each word splits to characters and replays the
    merges in training order (the standard BPE inference rule). The merge
    list travels in the task closure (it's a few KB).

    A word's symbols depend on the word alone, so each task replays the
    merges once per DISTINCT word and looks repeats up in a memo (Zipf
    text repeats most words: the generated sf0.1 corpus holds 280k words,
    ~5k of them distinct). The
    memo lives in the task's iterator, not in the module: a reused Python
    worker starts every task cold, and ``_ENCODE_MEMO_MAX_WORDS`` bounds
    it."""
    from pyspark.sql.functions import pandas_udf

    merge_list = list(merges)
    memo_max = _ENCODE_MEMO_MAX_WORDS  # read here: the closure carries it to workers

    @pandas_udf("array<string>")
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict[str, list] = {}

        def enc_word(word: str) -> list:
            syms = memo.get(word)
            if syms is None:
                syms = list(word)
                for a, b in merge_list:
                    if len(syms) < 2:
                        break
                    syms = _merge_word(syms, a, b)
                if len(memo) >= memo_max:
                    memo.clear()
                memo[word] = syms
            return syms

        def enc(text: str) -> list:
            if text is None:
                return []
            toks: list = []
            for word in split_words(text):
                toks.extend(enc_word(word))
            return toks

        for texts in batches:
            yield texts.map(enc)

    return df.withColumn(out_col, encode(F.col(text_col)))


def _train_on_freq(freq: dict, n_merges: int) -> list[tuple[str, str]]:
    """Iteration kernel over a (word -> count) table: identical counting
    (adjacent pairs weighted by word frequency, overlaps included) and
    tie-breaking (count desc, pair lexicographic asc) as the distributed
    loop. Used by both driver-side training and the test reference.

    Pair counts are kept incrementally, as in Sennrich's ``learn_bpe``:
    a merge re-counts only the words that contain the merged pair (an
    index maps each pair to those words), instead of every word."""
    from collections import Counter, defaultdict

    words = {w: list(w) for w in freq}
    stats: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> words containing it

    def count(w: str, syms: list, sign: int) -> None:
        for pair in zip(syms, syms[1:]):
            stats[pair] += sign * freq[w]
            if sign > 0:
                where[pair].add(w)
            elif stats[pair]:
                where[pair].discard(w)
            else:  # no word holds the pair any more
                del stats[pair], where[pair]

    for w, syms in words.items():
        count(w, syms, 1)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        merges.append(best[0])
        a, b = best[0]
        for w in list(where[best[0]]):
            count(w, words[w], -1)
            words[w] = _merge_word(words[w], a, b)
            count(w, words[w], 1)
    return merges


def bpe_train_reference(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Pure-Python reference (test witness) over raw texts."""
    from collections import Counter

    freq: Counter = Counter()
    for t in texts:
        freq.update(split_words(t))
    return _train_on_freq(dict(freq), n_merges)
