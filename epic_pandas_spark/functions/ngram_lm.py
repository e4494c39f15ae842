"""Distributed n-gram language model with Stupid Backoff scoring — the
perplexity-filtering step of a web-corpus curation pipeline (the CCNet
recipe: score every document against a LM trained on a fixed reference
corpus, then keep/bucket by perplexity; CCNet itself uses a 5-gram model).

Extension tier: no reference analog (SURVEY.md §7.1 step 9). The scoring
rule is Stupid Backoff (Brants et al. 2007, "Large Language Models in
Machine Translation"): the canonical distributed-LM score — unnormalized,
one count-table lookup per order, designed exactly for this
count-tables-as-distributed-joins shape. For any order K:

    S(v | u_{K-1}..u_1) = c(u_{K-1}..u_1 v) / c(u_{K-1}..u_1)   if seen
                        = alpha * S(v | u_{K-2}..u_1)           else
    S(v)                = (c(v) + 1) / (N + |V|)    add-one unigram: the
                          floor for the first tokens and any OOV word

A token whose document position only provides m < K context words starts
the chain at order m with NO penalty (the context doesn't exist — that is
not a backoff); each unseen-gram fall-through multiplies by alpha once,
so a token scored at order j from available order m carries alpha^(m-j).

Plan at 100 TB: training is K hash-aggregates over ONE exploded
(token, context...) stream (localCheckpoint, so the corpus is scanned
once; map-side partials collapse the Zipf head, so each shuffle carries
~|distinct grams| rows per partition); the only collect is two scalars
(N, |V|). Each k-gram table is then annotated with its CONTEXT's count by
one model-sized join at train time (gram_k ⋈ gram_{k-1} — tables, not
corpus), so scoring needs exactly ONE join per order: the token stream
probes K count tables on gram keys — broadcast when the model comes from
a FIXED reference corpus (the CCNet shape: the model does not grow with
the scored corpus), shuffle-hash otherwise (corpus-proportional sides
must never auto-broadcast — the remove_repeated_spans lesson). Document
text never shuffles; only tokens and counts move.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from epic_pandas_spark.functions.text import split_words, words_expr

MAX_ORDER = 5


class NGramLM(NamedTuple):
    """A trained Stupid-Backoff model: one count table per order plus
    scalar totals.

    ``grams[0]`` is the unigram table ``(v, c)``; ``grams[k-1]`` for
    k >= 2 is the k-gram table ``(u{k-1}, ..., u1, v, c, c_ctx)`` where
    ``u{j}`` is the token j positions back and ``c_ctx`` is the count of
    the gram's (k-1)-token context (annotated at train time so scoring
    is one join per order). ``n_tokens``/``vocab_size`` are the UNPRUNED
    totals, so add-one unigram probabilities stay a proper distribution
    even when the stored tables are pruned."""

    grams: tuple
    n_tokens: int
    vocab_size: int
    order: int

    @property
    def unigrams(self) -> DataFrame:
        return self.grams[0]

    @property
    def bigrams(self) -> DataFrame | None:
        return self.grams[1] if self.order >= 2 else None


def _ctx_cols(order: int) -> list[str]:
    """Context column names, outermost first: [u{K-1}, ..., u1]."""
    return [f"u{j}" for j in range(order - 1, 0, -1)]


def _token_stream_expr(text: Column, order: int) -> Column:
    """array<struct<v, u1..u{order-1}>> over the normalized whitespace
    tokenization; u{j} is the token j positions back, null when the
    position has no such context. The split result is let-bound via a
    one-element transform (interpreted HOF trees do no CSE — see
    word_ngrams_expr), so the regex runs once per doc."""
    w = F.filter(words_expr(text), lambda t: t != "")

    def _body(w0: Column) -> Column:
        # F.get is 0-based and yields null out-of-bounds (incl. negative),
        # so early tokens' missing contexts are null with no ANSI error
        return F.transform(
            w0,
            lambda t, i: F.struct(
                t.alias("v"),
                *[F.get(w0, i - j).alias(f"u{j}") for j in range(1, order)],
            ),
        )

    return F.get(F.transform(F.array(w), _body), 0)


def _token_stream(df: DataFrame, text_col: str, id_col: str | None, order: int) -> DataFrame:
    cols = [F.col(id_col)] if id_col else []
    ctx = [f"u{j}" for j in range(1, order)]
    return df.select(
        *cols, F.explode(_token_stream_expr(F.col(text_col), order)).alias("__p")
    ).select(
        *([id_col] if id_col else []),
        F.col("__p.v").alias("v"),
        *[F.col(f"__p.{u}").alias(u) for u in ctx],
    )


def ngram_lm_train(
    df: DataFrame,
    text_col: str,
    order: int = 2,
    min_count: int = 1,
) -> NGramLM:
    """Train the count tables on ``df[text_col]`` for any order 1-5
    (CCNet's recipe uses 5).

    One exploded (v, u1..u{order-1}) stream feeds all ``order``
    aggregates (localCheckpoint so the corpus is scanned once); totals
    are a single two-scalar collect. Each k-gram table (k >= 2) is
    annotated with its context's count via one MODEL-sized join against
    the (k-1)-gram table — O(|grams|) rows, never the corpus — so
    scoring probes one table per order. ``min_count`` prunes the STORED
    tables only — totals keep the full counts, so pruned/unseen grams
    fall through to the same add-one unigram floor. A pruned gram's
    context always survives the same pruning (c(context) >= c(gram)),
    so every stored ratio's denominator exists by construction."""
    if not (1 <= order <= MAX_ORDER):
        raise ValueError(f"order must be in 1..{MAX_ORDER}")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")

    toks = _token_stream(df, text_col, None, order)
    # ONE corpus-wide aggregate (round 11, guide §1.2 "remove passes"):
    # group the token stream by its FULL context (u{K-1}..u1, v) with
    # nulls as values — each token position lands in exactly one row —
    # and derive every lower-order table by MODEL-sized rollups:
    # c_k(u{k-1}..u1, v) = Σ c_full over the outer context columns,
    # restricted to u{k-1} IS NOT NULL (the same positions the old
    # per-order corpus aggregates counted). The corpus stream is
    # aggregated once instead of `order` times; the rollup chain then
    # costs one shuffle per order over |full-gram| rows, never the
    # corpus. Counts are exact integers either way — identical tables.
    # Checkpoint the count tables: scoring joins each table into its own
    # plan subtree, and without a materialized boundary Spark re-runs
    # the aggregation once per join (and the totals collect below pays
    # for the unigram materialization anyway).
    if order == 1:
        full = toks.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    else:
        full = toks.groupBy(*_ctx_cols(order), "v").agg(
            F.count(F.lit(1)).alias("c")
        )
    full = full.localCheckpoint(eager=False)

    raw: list[DataFrame] = []
    for k in range(order, 0, -1):  # build downward: K, K-1, ..., 1
        if k == order:
            raw.append(full)
            continue
        keys = (_ctx_cols(k) + ["v"]) if k >= 2 else ["v"]
        prev = raw[-1]  # the (k+1)-gram table, keys (u{k}..u1, v)
        gk = (
            prev.groupBy(*keys)
            .agg(F.sum("c").alias("c"))
            .localCheckpoint(eager=False)
        )
        raw.append(gk)
    raw.reverse()  # raw[k-1] = k-gram table, as before
    # the full-context table counts EVERY position (nulls included); the
    # stored k-gram tables for k >= 2 carry only positions with enough
    # context, exactly like the old per-order corpus aggregates
    for k in range(2, order + 1):
        raw[k - 1] = raw[k - 1].filter(F.col(f"u{k - 1}").isNotNull())

    uni = raw[0]
    n_tokens, vocab_size = uni.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).first()

    grams: list[DataFrame] = [uni]
    for k in range(2, order + 1):
        gk, prev = raw[k - 1], raw[k - 2]
        # context of (u{k-1},...,u1,v) is the (k-1)-gram (u{k-1},...,u1):
        # in the (k-1)-gram table its columns (u{k-2},...,u1,v) shift one
        # position outward — u{j} -> u{j+1}, v -> u1
        if k == 2:
            ctx = prev.select(F.col("v").alias("u1"), F.col("c").alias("c_ctx"))
        else:
            ctx = prev.select(
                *[F.col(f"u{j}").alias(f"u{j + 1}") for j in range(k - 2, 0, -1)],
                F.col("v").alias("u1"),
                F.col("c").alias("c_ctx"),
            )
        # inner join is total: a k-gram's context occurs wherever the
        # k-gram does, so every row finds its c_ctx. Model-sized join.
        # NOT checkpointed (round 11): each annotated table is consumed
        # exactly once (the scoring broadcast build, or one save), and
        # the RAW tables it joins are checkpointed above — so a boundary
        # here only added order-1 extra materializations per train with
        # nothing reusing them.
        annotated = gk.join(ctx, on=_ctx_cols(k), how="inner")
        if min_count > 1:
            annotated = annotated.filter(F.col("c") >= min_count)
        grams.append(annotated)
    if min_count > 1:
        grams[0] = grams[0].filter(F.col("c") >= min_count)
    return NGramLM(tuple(grams), int(n_tokens or 0), int(vocab_size or 0), order)


def ngram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: NGramLM,
    alpha: float = 0.4,
    strategy: str = "broadcast",
    quantize_scale: int | None = None,
    signals: bool = False,
) -> DataFrame:
    """Per-document Stupid-Backoff score: ``(id_col, n_tokens,
    avg_logprob, perplexity)`` with ``perplexity = exp(-avg_logprob)``
    (an unnormalized pseudo-perplexity, monotone in the backoff score —
    the filtering signal, not a true LM perplexity).

    ``signals=True`` adds two novelty diagnostics from the same pass
    (free: indicator columns folded into the existing aggregate):
    ``oov_frac`` — fraction of tokens absent from the model vocabulary
    (high on foreign-language/garbled text even when perplexity is
    moderate) — and, for order >= 2, ``backoff_frac`` — fraction of
    in-context tokens whose LONGEST AVAILABLE gram was unseen (the
    token backed off at least once: high on topically novel but
    well-formed text).

    Documents with no tokens (null/empty text) produce no output row.
    ``strategy='broadcast'`` for fixed-reference-corpus models (CCNet
    shape); ``'shuffle'`` pins shuffle_hash joins when the model is
    corpus-proportional; ``None`` leaves the choice to Catalyst/AQE.

    ``quantize_scale`` (e.g. 1_000_000) rounds each per-token log-prob
    to integer micro-nats BEFORE the per-doc sum and adds the exact
    integer total as a ``logp_scaled`` column (``avg_logprob`` then
    derives from it). Integer sums are exactly associative, so scores
    are bit-stable under any partitioning, micro-batching, or
    accumulation order — the same discipline as DSIR's ratio table, and
    what makes the streaming twin bit-equal to this batch form.

    Plan: the token stream probes ONE table per order — K left joins,
    all broadcast under the default strategy, in one codegen stage;
    each k-gram row carries its context count (train-time annotation),
    so no separate denominator joins exist."""
    if model.n_tokens <= 0:
        raise ValueError("model has no tokens")
    if strategy not in ("broadcast", "shuffle", None):
        raise ValueError("strategy must be 'broadcast', 'shuffle', or None")

    def _side(d: DataFrame) -> DataFrame:
        if strategy == "broadcast":
            return F.broadcast(d)
        if strategy == "shuffle":
            return d.hint("shuffle_hash")
        return d

    K = model.order
    toks = _token_stream(df, text_col, id_col, K)
    j = toks.join(
        _side(model.grams[0].select("v", F.col("c").alias("__c1"))), "v", "left"
    )
    for k in range(2, K + 1):
        keys = _ctx_cols(k) + ["v"]
        tab = _side(
            model.grams[k - 1].select(
                *keys, F.col("c").alias(f"__c{k}"), F.col("c_ctx").alias(f"__x{k}")
            )
        )
        # left joins on null context columns never match — tokens without
        # enough context fall through to lower orders, as in the SQL oracle
        j = j.join(tab, keys, "left")

    denom = float(model.n_tokens + model.vocab_size)
    p_uni = (F.coalesce(F.col("__c1"), F.lit(0)).cast("double") + 1.0) / F.lit(denom)
    la = F.lit(math.log(alpha))
    if K >= 2:
        # m = highest order this position PROVIDES (1 + #non-null contexts);
        # scoring at order j < m multiplies by alpha^(m-j)
        m = F.lit(1)
        for jj in range(1, K):
            m = m + F.when(F.col(f"u{jj}").isNotNull(), 1).otherwise(0)
        logp = None
        for k in range(K, 1, -1):
            cond = F.col(f"u{k - 1}").isNotNull() & F.col(f"__c{k}").isNotNull()
            val = (m - F.lit(k)).cast("double") * la + F.log(
                F.col(f"__c{k}").cast("double") / F.col(f"__x{k}")
            )
            logp = F.when(cond, val) if logp is None else logp.when(cond, val)
        logp = logp.otherwise((m - F.lit(1)).cast("double") * la + F.log(p_uni))
    else:
        logp = F.log(p_uni)

    sig_aggs, sig_cols = [], []
    if signals:
        sig_aggs.append(
            F.avg(F.when(F.col("__c1").isNull(), 1.0).otherwise(0.0)).alias("oov_frac")
        )
        sig_cols.append("oov_frac")
        if K >= 2:
            in_ctx = F.col("u1").isNotNull()
            # backed off <=> the longest AVAILABLE gram (order m) missed
            top_missing = None
            for k in range(K, 1, -1):
                cond = m == k
                miss = F.col(f"__c{k}").isNull()
                top_missing = (
                    F.when(cond, miss) if top_missing is None else top_missing.when(cond, miss)
                )
            top_missing = top_missing.otherwise(F.lit(False))
            sig_aggs.append(
                (
                    F.sum(F.when(in_ctx & top_missing, 1).otherwise(0))
                    / F.greatest(F.sum(F.when(in_ctx, 1).otherwise(0)), F.lit(1))
                ).alias("backoff_frac")
            )
            sig_cols.append("backoff_frac")

    keep = [F.col(id_col)]
    if quantize_scale is not None:
        q = F.round(logp * F.lit(float(quantize_scale))).cast("long")
        out = (
            j.select(*keep, q.alias("__q"), *_signal_inputs(K, signals))
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum("__q").alias("logp_scaled"),
                *sig_aggs,
            )
            .withColumn(
                "avg_logprob",
                F.col("logp_scaled")
                / (F.col("n_tokens") * F.lit(float(quantize_scale))),
            )
        )
        return out.select(
            id_col,
            "n_tokens",
            "logp_scaled",
            "avg_logprob",
            F.exp(-F.col("avg_logprob")).alias("perplexity"),
            *sig_cols,
        )
    out = (
        j.select(*keep, logp.alias("__logp"), *_signal_inputs(K, signals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("__logp").alias("avg_logprob"),
            *sig_aggs,
        )
    )
    return out.select(
        id_col,
        "n_tokens",
        "avg_logprob",
        F.exp(-F.col("avg_logprob")).alias("perplexity"),
        *sig_cols,
    )


def _signal_inputs(order: int, signals: bool) -> list[Column]:
    """Columns the signal aggregates reference, threaded through the
    pre-aggregation projection (__c1 for oov; context + count columns
    for backoff detection when order >= 2). Empty when signals are off —
    the aggregate reads only the logp column then."""
    if not signals:
        return []
    cols = [F.col("__c1")]
    if order >= 2:
        cols += [F.col(f"u{j}") for j in range(1, order)]
        cols += [F.col(f"__c{k}") for k in range(2, order + 1)]
    return cols


def ngram_lm_save(model: NGramLM, path: str) -> None:
    """Persist a trained model: one parquet table per order plus a
    1-row meta table carrying the scalar totals — the train-offline /
    score-online handoff (and the only way a STREAMING scorer can see
    the model: stream-static joins need static frames, not lineage back
    to a batch training job). Layout: ``{path}/gram{k}`` for k=1..order
    and ``{path}/meta``."""
    spark = model.grams[0].sparkSession
    for k, g in enumerate(model.grams, start=1):
        g.write.mode("overwrite").parquet(f"{path}/gram{k}")
    meta = spark.createDataFrame(
        [(model.n_tokens, model.vocab_size, model.order)],
        "n_tokens long, vocab_size long, order int",
    )
    meta.write.mode("overwrite").parquet(f"{path}/meta")


def ngram_lm_load(spark, path: str) -> NGramLM:
    """Load a model persisted by :func:`ngram_lm_save`."""
    meta = spark.read.parquet(f"{path}/meta").first()
    order = int(meta["order"])
    grams = tuple(spark.read.parquet(f"{path}/gram{k}") for k in range(1, order + 1))
    return NGramLM(grams, int(meta["n_tokens"]), int(meta["vocab_size"]), order)


def ngram_lm_score_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    model: NGramLM,
    alpha: float = 0.4,
    quantize_scale: int = 1_000_000,
) -> DataFrame:
    """Streaming perplexity scorer — score documents ARRIVING AS A
    STREAM against a persisted LM (load with :func:`ngram_lm_load`).

    Same pattern as streaming DSIR: the model is a bounded static dim,
    so each micro-batch's (token, contexts) stream looks it up via
    stream-static broadcast joins, then one keyed streaming aggregate
    accumulates ``(n_tokens, logp_scaled)`` per document. The per-token
    log-probs are quantized to integer micro-nats, so the streaming sum
    is exactly associative: a document split across micro-batches (e.g.
    append-style row shards) accumulates to the identical integer total
    the batch twin computes, bit for bit. Run with output mode
    ``update``/``complete`` (streaming agg). The plan is IDENTICAL to
    :func:`ngram_lm_score` — Spark's incrementalizer turns the same
    declarative plan into the stateful streaming form; this wrapper
    documents the contract (static model, stream-safe expressions only)
    and anchors the stream==batch equivalence test."""
    return ngram_lm_score(
        stream_df, text_col, id_col, model,
        alpha=alpha, strategy="broadcast", quantize_scale=quantize_scale,
    )


def ngram_lm_score_reference(
    train_texts: list[str],
    score_docs: list[tuple[object, str]],
    order: int = 2,
    min_count: int = 1,
    alpha: float = 0.4,
) -> dict[object, tuple[int, float]]:
    """Pure-Python twin of train+score for parity tests (any order
    1-5): returns ``{id: (n_tokens, avg_logprob)}`` under identical
    semantics — longest available gram, alpha^(m-j) fall-through,
    add-one unigram floor."""
    from collections import Counter

    counts: list[Counter] = [Counter() for _ in range(order)]
    for t in train_texts:
        ws = split_words(t)
        for k in range(1, order + 1):
            counts[k - 1].update(
                tuple(ws[i - k + 1 : i + 1]) for i in range(k - 1, len(ws))
            )
    n_tokens = sum(counts[0].values())
    vocab = len(counts[0])
    kept = [{g: c for g, c in counts[k].items() if c >= min_count} for k in range(order)]
    denom = n_tokens + vocab
    out: dict[object, tuple[int, float]] = {}
    for did, t in score_docs:
        ws = split_words(t)
        if not ws:
            continue
        total = 0.0
        for i, v in enumerate(ws):
            m = min(order, i + 1)
            lp = None
            for k in range(m, 1, -1):
                gram = tuple(ws[i - k + 1 : i + 1])
                c = kept[k - 1].get(gram)
                if c is not None:
                    ctx = kept[k - 2][gram[:-1]]
                    lp = (m - k) * math.log(alpha) + math.log(c / ctx)
                    break
            if lp is None:
                p1 = (kept[0].get((v,), 0) + 1) / denom
                lp = (m - 1) * math.log(alpha) + math.log(p1)
            total += lp
        out[did] = (len(ws), total / len(ws))
    return out
