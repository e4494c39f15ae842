"""The word rule of the text operators lives in functions/text.py:
``words_expr`` in Spark and ``split_words`` in Python must agree word
for word, including on non-ASCII whitespace (Java's ``\\s`` is ASCII
only, so NBSP and em-space are word characters), and no module may
restate either rule by hand."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from epic_pandas_spark.functions.text import split_words, words_expr

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "epic_pandas_spark")

_SPARK_RULE = "F.regexp_replace(F.lower(F.trim("
_PY_RULE = ".lower().strip().split()"
# the unigram_tokenize witness checks the encoders against the rule, so
# it restates it on purpose (whitespace removed, not collapsed)
_WITNESS_TAIL = 'r"\\s+", "")'

_TEXTS = [
    "a\u00a0b c",
    "x\u2003y",
    "\tlead",
    "a\x0bb",
    "a\x1cb",
    "  two  spaces ",
    "the dog\u2003sat",
    "",
    None,
]


def _package_lines():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG)
                with open(path, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        yield rel, i, line.rstrip("\n")


def test_word_rule_is_written_once():
    spark_copies = [
        (rel, i)
        for rel, i, line in _package_lines()
        if _SPARK_RULE in line
        and rel != os.path.join("functions", "text.py")
        and not (rel == os.path.join("plans", "registry.py") and line.endswith(_WITNESS_TAIL))
    ]
    py_copies = [(rel, i) for rel, i, line in _package_lines() if _PY_RULE in line]
    assert spark_copies == [], "use functions.text.words_expr / normalized_text_expr"
    assert py_copies == [], "use functions.text.split_words"


def test_split_words_mirrors_words_expr(spark):
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "i int, text string")
    got = {
        r["i"]: r["w"]
        for r in df.select(
            "i", F.filter(words_expr(F.col("text")), lambda w: w != "").alias("w")
        ).collect()
    }
    for i, t in enumerate(_TEXTS):
        want = None if t is None else split_words(t)
        assert (None if got[i] is None else list(got[i])) == want, repr(t)


def test_bpe_encode_keeps_nbsp_words_whole(spark):
    from epic_pandas_spark.functions.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame([("cat\u00a0sat cat\u00a0sat cat\u00a0sat",)], "text string")
    merges = bpe_train(df, "text", n_merges=10)
    # the trainer sees one 7-char word and merges it into one symbol
    tokens = bpe_encode(df, "text", merges).first()["tokens"]
    assert list(tokens) == ["cat\u00a0sat"] * 3


def test_unigram_encode_reconstructs_em_space_text(spark):
    """The identity behind the unigram_tokenize query's `reconstructs`
    column holds on text with an em-space inside a word."""
    from epic_pandas_spark.functions.unigram import unigram_encode, unigram_train

    train = spark.createDataFrame(
        [("the dog sat on the mat",), ("the cat sat",)], "text string"
    )
    vocab = unigram_train(train, "text", vocab_size=20, max_piece_len=3)
    docs = spark.createDataFrame([("the dog\u2003sat",)], "text string")
    row = (
        unigram_encode(docs, "text", vocab)
        .select(
            "tokens",
            (
                F.array_join("tokens", "")
                == F.regexp_replace(F.lower(F.trim("text")), r"\s+", "")
            ).alias("reconstructs"),
        )
        .first()
    )
    assert row["reconstructs"], list(row["tokens"])
