"""Distributed unigram-LM (SentencePiece-style) tokenizer training +
encoding — the OTHER standard subword family beside BPE (Kudo 2018,
"Subword Regularization: Improving Neural Network Translation Models
with Multiple Subword Candidates", arXiv:1804.10959; SentencePiece,
arXiv:1808.06226). The reference engine has no tokenizer tier; this is
an extension obligation alongside functions/bpe.py.

Algorithm shape and why it scales (mirrors the BPE design):

- **Everything trains on the DISTINCT-WORD frequency table**, not the
  corpus: one corpus-sized shuffle builds (word, count), and every EM /
  prune round after that touches only that table — pair/piece
  statistics are a function of (word, count) alone.
- **Seed vocabulary** = the most frequent substrings (length ≤
  ``max_piece_len``) of the distinct words, weighted by word count —
  an expression-only double explode (positions × lengths) +
  one grouped sum + TakeOrdered; all single characters are always
  kept so segmentation is total.
- **E-step** = full forward-backward over each word's segmentation
  lattice (NOT Viterbi-only hard EM): posterior expected piece counts,
  computed in an Arrow-batched pandas UDF with the current piece
  log-prob table broadcast in the closure (it is vocab-sized), emitted
  as (piece, count) pairs and reduced by ONE grouped sum per round.
- **Bit-stable across partitionings**: each word's expected counts are
  quantized to integer micro-counts (``round(x * 2^20)``, the same
  integer-sum trick as extensions.curation DSIR weights) before the
  grouped sum, so the reduction is an exact integer sum — training is
  reproducible on any cluster layout, and the pytest witness can
  assert EXACT parity with a pure-Python reference EM.
- **M-step** collects the new vocab-sized count table (the same
  bounded-collect class as k-means centroids: |vocab| rows, never
  corpus rows) and renormalizes log-probs on the driver.
- **Prune** after each ``em_rounds_per_prune`` rounds (never single
  chars) until ``vocab_size`` remains. ``prune="count"`` (default)
  drops the lowest-expected-count pieces — the standard practical
  approximation; ``prune="likelihood"`` applies SentencePiece's EXACT
  loss criterion (likelihood drop when each piece re-segments via its
  best alternative — a second lattice pass per candidate over the
  candidate's own string, vocab-sized driver work).
- **Encode** = Viterbi segmentation (max log-prob path) in one
  Arrow-batched pass, vocab in the closure, no shuffle.

At 100 TB: the corpus is touched exactly once (word-frequency shuffle);
every training iteration is bounded by |distinct words| × piece
positions, the broadcast is vocab-sized, and nothing corpus-sized is
ever collected.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from epic_pandas_spark.functions.bpe import _word_freq_table
from epic_pandas_spark.functions.text import split_words

_Q = 1 << 20  # integer micro-count quantum (bit-stable grouped sums)


def _seed_vocab(words: DataFrame, max_piece_len: int, seed_size: int) -> list:
    """Top-``seed_size`` substrings by (count × length) + every single
    character. Expression-only: positions × lengths double explode."""
    n = F.length("w")
    subs = (
        words.select(
            "cnt",
            n.alias("len"),
            F.explode(F.sequence(F.lit(1), n)).alias("p"),
            F.col("w"),
        )
        .select(
            "cnt",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_piece_len), F.col("len") - F.col("p") + 1)
                )
            ).alias("l"),
            F.col("w"),
            F.col("p"),
        )
        .select(F.substring("w", F.col("p"), F.col("l")).alias("piece"), "cnt", "l")
        .groupBy("piece")
        .agg(F.sum(F.col("cnt") * F.col("l")).alias("score"))
        # materialize once (the grouped sum's map stage runs at the
        # checkpoint call, the rest on the first collect): the top-N and
        # the single-char collects would otherwise EACH re-run the
        # positions x lengths double-explode + grouped sum over the
        # distinct-word table. The checkpointed state is the (piece,
        # score) aggregate — bounded by distinct substrings, never
        # corpus rows.
        .localCheckpoint(eager=False)
    )
    top = [
        r["piece"]
        for r in subs.orderBy(F.col("score").desc(), F.col("piece").asc())
        .limit(seed_size)
        .collect()
    ]
    chars = {
        r["piece"]
        for r in subs.filter(F.length("piece") == 1).select("piece").collect()
    }
    return sorted(set(top) | chars)


def _em_expected_counts(word: str, cnt: int, logp: dict, max_len: int) -> dict:
    """Forward-backward posterior expected piece counts for one word,
    weighted by its corpus count. Pure function — shared verbatim by the
    distributed E-step UDF and the pure-Python reference trainer, so
    parity is structural."""
    n = len(word)
    NEG = -1e30
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    get, log, exp = logp.get, math.log, math.exp  # hot loop: skip attr lookups
    spans = []  # (i, j, piece_logp)
    by_j: list = [()] * (n + 1)  # per-end-position (i, lp) rows, reused by beta
    for j in range(1, n + 1):
        row = []
        for i in range(max(0, j - max_len), j):
            lp = get(word[i:j])
            if lp is None:
                continue
            row.append((i, lp))
            spans.append((i, j, lp))
            ai = alpha[i]
            if ai <= NEG / 2:
                continue
            s = ai + lp
            aj = alpha[j]
            if aj == NEG:
                alpha[j] = s
            else:
                m = max(aj, s)
                alpha[j] = m + log(exp(aj - m) + exp(s - m))
        by_j[j] = row
    if alpha[n] <= NEG / 2:
        return {}
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for j in range(n, 0, -1):
        bj = beta[j]
        if bj <= NEG / 2:
            continue
        # same (i, lp) sequence the forward pass saw — no second dict probe
        for i, lp in by_j[j]:
            s = lp + bj
            bi = beta[i]
            if bi == NEG:
                beta[i] = s
            else:
                m = max(bi, s)
                beta[i] = m + log(exp(bi - m) + exp(s - m))
    out: dict = {}
    an = alpha[n]
    for i, j, lp in spans:
        post = exp(alpha[i] + lp + beta[j] - an)
        if post > 1e-12:
            piece = word[i:j]
            # keep the original left-to-right association: a different
            # float grouping can flip round() at a quantum boundary
            out[piece] = out.get(piece, 0) + int(round(post * cnt * _Q))
    return out


def _viterbi(word: str, logp: dict, max_len: int) -> list:
    """Max-log-prob segmentation; ties break toward the LONGER last
    piece (deterministic). Unknown characters pass through as
    single-char pieces with a large penalty so encoding is total."""
    n = len(word)
    UNK = -1e9
    best = [(-math.inf, 0)] * (n + 1)
    best[0] = (0.0, 0)
    for j in range(1, n + 1):
        cand = []
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is None and j - i == 1:
                lp = UNK
            if lp is None or best[i][0] == -math.inf:
                continue
            cand.append((best[i][0] + lp, i))
        # ties: prefer the longer final piece (smaller i)
        best[j] = min(cand, key=lambda t: (-t[0], t[1])) if cand else (-math.inf, 0)
    if best[n][0] == -math.inf:
        return [word]
    out, j = [], n
    while j > 0:
        i = best[j][1]
        out.append(word[i:j])
        j = i
    return out[::-1]


def _alt_logprob(piece: str, logp: dict, max_len: int) -> float:
    """Log-prob of the best segmentation of ``piece`` EXCLUDING the
    single-piece segmentation itself — SentencePiece's 'alternative'
    score in its exact prune criterion. Unknown chars take the Viterbi
    UNK penalty so the alternative always exists."""
    n = len(piece)
    NEG = -math.inf
    UNK = -1e9
    best = [NEG] * (n + 1)
    best[0] = 0.0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            if i == 0 and j == n:
                continue  # the piece itself is not an alternative
            lp = logp.get(piece[i:j])
            if lp is None and j - i == 1:
                lp = UNK
            if lp is None or best[i] == NEG:
                continue
            s = best[i] + lp
            if s > best[j]:
                best[j] = s
    return best[n]


def _prune_order(logp: dict, counts: dict, max_len: int, prune: str) -> list:
    """Multi-char pieces in prune order (drop from the front), as
    (key, piece) tuples. Shared verbatim by the distributed trainer and
    the pure-Python reference so parity is structural.

    ``prune='count'``: lowest expected mass first (the standard
    practical approximation — sort key is the current log-prob).
    ``prune='likelihood'``: SentencePiece's exact loss — for each piece,
    the corpus log-likelihood drop if every occurrence re-segmented via
    the piece's best ALTERNATIVE segmentation:
    ``loss = E[count] * (logp(piece) - alt_logprob(piece))``; the
    lowest-loss pieces (cheapest to remove) prune first. One extra
    lattice pass per piece over the piece's own ≤max_len string —
    vocab-sized driver work, nothing touches the corpus."""
    if prune == "count":
        items = ((lp, p) for p, lp in logp.items() if len(p) > 1)
    else:
        items = (
            (counts.get(p, 0) * (lp - _alt_logprob(p, logp, max_len)), p)
            for p, lp in logp.items()
            if len(p) > 1
        )
    return sorted(items, key=lambda t: (t[0], t[1]))


def _renormalize(counts: dict) -> dict:
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("unigram_train: EM produced no piece mass")
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0}


def _floor_chars(counts: dict, vocab) -> dict:
    """Floor every single-character piece of the current vocab at 1
    micro-count so the module contract holds: chars ALWAYS survive EM
    (a char whose quantized expected count rounds to 0 would otherwise
    silently vanish from the trained vocab, leaving totality to the
    Viterbi UNK penalty instead of a learned probability). Shared by the
    distributed trainer and the pure-Python reference — parity is
    structural."""
    out = dict(counts)
    for p in vocab:
        if len(p) == 1 and out.get(p, 0) <= 0:
            out[p] = 1
    return out


# unigram_train: distinct-word tables at or below this size run EM
# driver-side; larger ones run the distributed E-step.
_UNIGRAM_LOCAL_MAX_WORDS = 50_000


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 200,
    max_piece_len: int = 8,
    seed_multiplier: int = 4,
    em_rounds_per_prune: int = 2,
    prune_frac: float = 0.25,
    prune: str = "count",
) -> dict:
    """Learn a unigram-LM piece vocabulary; returns ``{piece: log_prob}``
    of size ≤ ``vocab_size`` (single characters always survive pruning).

    The distinct-word table runs the iteration kernel driver-side when
    it holds at most ``_UNIGRAM_LOCAL_MAX_WORDS`` rows, else the Spark EM
    loop runs it (identical semantics — the kernel is the same function
    the distributed E-step calls, and the integer quantization makes
    both tiers EXACTLY equal). The bound gates a WALL-time crossover, not
    a memory fit: the driver kernel is single-core while the Spark E-step
    spreads the same per-word lattices over every core, so past ~50k
    distinct words the distributed loop wins despite per-round job
    overhead (sf10: ~500k distinct words x ~12 E-step rounds ran
    single-threaded under a 2M bound).

    ``prune='count'`` (default) drops the lowest-expected-mass pieces —
    the standard practical approximation. ``prune='likelihood'`` applies
    SentencePiece's exact loss criterion (see :func:`_prune_order`):
    a second lattice pass per candidate piece over the piece's OWN
    string, so the exact mode costs vocab-sized driver work per prune
    round and still never touches the corpus."""
    from epic_pandas_spark.parallel import collect_at_most

    if vocab_size < 2:
        raise ValueError("vocab_size must be >= 2")
    if prune not in ("count", "likelihood"):
        raise ValueError("prune must be 'count' or 'likelihood'")
    if em_rounds_per_prune < 1:
        raise ValueError("em_rounds_per_prune must be >= 1")

    # checkpoint: the word-count shuffle's map stage runs at this call
    # (eager=False still plans the input under adaptive execution), the
    # seeding collects materialize the rest once; the gate and the
    # distributed E-steps reuse it
    freq_df = _word_freq_table(df, text_col).localCheckpoint(eager=False)
    seed = _seed_vocab(freq_df, max_piece_len, seed_size=vocab_size * seed_multiplier)
    # init: uniform over the seed
    logp = {p: -math.log(len(seed)) for p in seed}

    rows = collect_at_most(freq_df, _UNIGRAM_LOCAL_MAX_WORDS)
    distributed = rows is None
    words_local = None if distributed else [(r["w"], r["cnt"]) for r in rows]

    def e_step(cur_logp: dict) -> dict:
        if not distributed:
            acc: dict = {}
            for w, c in words_local:
                for p, q in _em_expected_counts(w, c, cur_logp, max_piece_len).items():
                    acc[p] = acc.get(p, 0) + q
            return acc
        lp = dict(cur_logp)

        def part(batches):
            for pdf in batches:
                acc: dict = {}
                for w, c in zip(pdf["w"], pdf["cnt"]):
                    for p, q in _em_expected_counts(w, int(c), lp, max_piece_len).items():
                        acc[p] = acc.get(p, 0) + q
                if acc:
                    yield pd.DataFrame(
                        {"piece": list(acc.keys()), "q": list(acc.values())}
                    )

        rows = (
            freq_df.mapInPandas(part, schema="piece string, q long")
            .groupBy("piece")
            .agg(F.sum("q").alias("q"))
            .collect()  # vocab-sized: |pieces| rows, never corpus rows
        )
        return {r["piece"]: r["q"] for r in rows}

    while True:
        for _ in range(em_rounds_per_prune):
            counts = _floor_chars(e_step(logp), logp)
            logp = _renormalize(counts)
        if len(logp) <= vocab_size:
            break
        # prune multi-char pieces (chars are load-bearing)
        multi = _prune_order(logp, counts, max_piece_len, prune)
        n_single = sum(1 for p in logp if len(p) == 1)
        target_multi = max(0, vocab_size - n_single)
        n_drop = max(
            min(len(multi) - target_multi, max(1, int(len(multi) * prune_frac))), 0
        )
        if n_drop == 0:
            break
        dropped = {p for _, p in multi[:n_drop]}
        logp = _renormalize(
            {p: math.exp(lp) for p, lp in logp.items() if p not in dropped}
        )
    return logp


def unigram_train_reference(
    texts: list, vocab_size: int = 200, max_piece_len: int = 8, **kw
) -> dict:
    """Pure-Python witness: same seed scoring, same quantized EM kernel,
    same prune rule over raw texts — the pytest parity target."""
    from collections import Counter

    freq: Counter = Counter()
    for t in texts:
        freq.update(split_words(t))
    # seed: same (count x len) scoring + all chars, same tie-break
    subs: Counter = Counter()
    chars = set()
    for w, c in freq.items():
        for i in range(len(w)):
            chars.add(w[i])
            for l in range(1, min(max_piece_len, len(w) - i) + 1):
                subs[w[i : i + l]] += c * l
    seed_size = vocab_size * kw.get("seed_multiplier", 4)
    top = [
        p
        for p, _ in sorted(subs.items(), key=lambda t: (-t[1], t[0]))[:seed_size]
    ]
    vocab = sorted(set(top) | chars)
    logp = {p: -math.log(len(vocab)) for p in vocab}
    em_rounds = kw.get("em_rounds_per_prune", 2)
    prune_frac = kw.get("prune_frac", 0.25)
    prune = kw.get("prune", "count")
    while True:
        for _ in range(em_rounds):
            acc: dict = {}
            for w, c in freq.items():
                for p, q in _em_expected_counts(w, c, logp, max_piece_len).items():
                    acc[p] = acc.get(p, 0) + q
            acc = _floor_chars(acc, logp)
            logp = _renormalize(acc)
        if len(logp) <= vocab_size:
            break
        multi = _prune_order(logp, acc, max_piece_len, prune)
        n_single = sum(1 for p in logp if len(p) == 1)
        target_multi = max(0, vocab_size - n_single)
        n_drop = max(
            min(len(multi) - target_multi, max(1, int(len(multi) * prune_frac))), 0
        )
        if n_drop == 0:
            break
        dropped = {p for _, p in multi[:n_drop]}
        logp = _renormalize(
            {p: math.exp(lp) for p, lp in logp.items() if p not in dropped}
        )
    return logp


def unigram_encode(
    df: DataFrame,
    text_col: str,
    logp: dict,
    out_col: str = "tokens",
) -> DataFrame:
    """Viterbi-tokenize ``text_col``: one Arrow-batched pass, vocab in
    the closure, no shuffle. Unknown characters surface as single-char
    tokens (encoding is total), mirroring SentencePiece's byte/char
    fallback.

    A per-worker distinct-word memo (in the UDF closure, so it lives as
    long as the deserialized function — across all Arrow batches of a
    task, not rebuilt per batch) caches each word's segmentation:
    natural corpora are Zipf-distributed, so the same words recur
    thousands of times and the Viterbi lattice runs once per DISTINCT
    word instead of once per occurrence (the tokenization is a pure
    function of the word given a fixed vocab). The memo is capped so a
    pathological all-unique stream can't grow executor memory."""
    from pyspark.sql.functions import pandas_udf

    lp = dict(logp)
    max_len = max((len(p) for p in lp), default=1)
    memo_cap = 2_000_000
    # One memo per python-worker process, shared across Arrow batches: the
    # closure (incl. this dict) is deserialized once per worker, while the
    # UDF body runs per ~10k-row batch — defining the dict inside the body
    # would rebuild it every batch and forfeit most of the Zipf win.
    memo: dict = {}

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        def enc(text):
            if text is None:
                return []
            toks: list = []
            for word in split_words(text):
                seg = memo.get(word)
                if seg is None:
                    seg = _viterbi(word, lp, max_len)
                    if len(memo) < memo_cap:
                        memo[word] = seg
                toks.extend(seg)
            return toks

        return texts.map(enc)

    return df.withColumn(out_col, encode(F.col(text_col)))
