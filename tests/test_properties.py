"""Property-based tests (hypothesis) for driver-side pure kernels — the
randomized layer the reference's golden-output suite lacks (SURVEY.md §5)."""

from hypothesis import given, settings, strategies as st

from epic_pandas_spark.operators.sampling import allocate_counts
from epic_pandas_spark.operators.windows import gaussian_kernel


@given(
    st.dictionaries(
        st.integers(0, 50),
        st.floats(0.01, 100.0, allow_nan=False),
        min_size=1,
        max_size=20,
    ),
    st.integers(0, 10_000),
)
@settings(max_examples=200, deadline=None)
def test_allocate_counts_sums_to_n(dist, n):
    counts = allocate_counts(dist, n)
    assert sum(counts.values()) == n  # largest remainder never loses a row
    assert set(counts) == set(dist)
    assert all(v >= 0 for v in counts.values())


@given(st.integers(1, 10_000), st.integers(1, 100))
@settings(max_examples=200, deadline=None)
def test_allocate_counts_uniform_balance(n_strata_seed, n_rows):
    # uniform distribution: per-stratum counts differ by at most 1
    k = n_strata_seed % 20 + 1
    counts = allocate_counts({i: 1.0 for i in range(k)}, n_rows)
    assert max(counts.values()) - min(counts.values()) <= 1


@given(st.floats(0.1, 10.0, allow_nan=False), st.floats(0.5, 6.0, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_gaussian_kernel_normalized_symmetric(sigma, truncate):
    k = gaussian_kernel(sigma, truncate)
    assert abs(sum(k) - 1.0) < 1e-9
    assert len(k) % 2 == 1
    for a, b in zip(k, reversed(k)):
        assert abs(a - b) < 1e-12
    mid = len(k) // 2
    assert k[mid] == max(k)


def test_word_ngrams_match_python_reference(spark):
    """Spark shingle expression vs a trivially-correct Python reference,
    over a grid of generated word sequences (one Spark job for all)."""
    import random

    from pyspark.sql import functions as F

    from epic_pandas_spark.functions.text import word_ngrams_expr

    rng = random.Random(42)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    cases = ["", "one", "x y", "  padded   spaces  "] + [
        " ".join(rng.choices(vocab, k=rng.randint(1, 12))) for _ in range(30)
    ]

    def py_ngrams(text, n=3):
        words = " ".join(text.lower().split()).split(" ") if text.strip() else [""]
        if text.strip() == "":
            words = [""]
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, t string")
    got = {
        r["i"]: r["g"]
        for r in df.select("i", word_ngrams_expr(F.col("t"), 3).alias("g")).collect()
    }
    for i, t in enumerate(cases):
        assert got[i] == py_ngrams(t), (t, got[i], py_ngrams(t))


def test_approx_sketch_queries_within_error_bound(spark):
    """The approx-at-scale twins (`quantiles_approx` via percentile_approx,
    `n_distinct_approx` via HyperLogLog++) must land inside their declared
    error bounds — the registry queries compute the bound check themselves
    (within_bound column) so the driver's rows-only run also exercises it;
    this test asserts it holds."""
    from epic_pandas_spark.plans.registry import REGISTRY
    from tests.conftest import SF_DIR

    row = REGISTRY["quantiles_approx"][0](spark, SF_DIR).first()
    assert row["within_bound"] is True, row.asDict()
    assert row["max_rel_err"] >= 0.0
    # n_distinct_approx returns the oracle-expressible contract row since
    # round 12 (exact count + bound check; the sketch value itself is
    # engine-specific and stays out of the compared output)
    row = REGISTRY["n_distinct_approx"][0](spark, SF_DIR).first()
    assert row["within_bound"] is True, row.asDict()
    assert row["n_exact"] > 0


@given(
    weights=st.lists(st.floats(0.01, 100.0), min_size=1, max_size=20),
    n=st.integers(1, 60),
)
@settings(max_examples=10, deadline=None)
def test_sample_with_replacement_always_exact_n(spark, weights, n):
    """Property: for ANY positive weight vector and draw count, exactly n
    rows come back and every row is from the population."""
    from epic_pandas_spark.operators.sampling import sample_with_replacement

    df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)], "k long, w double"
    )
    out = sample_with_replacement(df, n, weights="w", seed=13).collect()
    assert len(out) == n
    assert {r["k"] for r in out} <= set(range(len(weights)))


@given(
    tokens=st.lists(st.integers(1, 50), min_size=1, max_size=40),
    budget=st.integers(10, 200),
)
@settings(max_examples=10, deadline=None)
def test_pack_sequences_bins_are_contiguous_and_bounded(spark, tokens, budget):
    """Property: bin ids are contiguous non-decreasing in doc order, every
    bin's PRECEDING-total start is inside its budget window, and only the
    bin-crossing document can push a bin past the budget."""
    from epic_pandas_spark.operators import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n long"
    )
    rows = pack_sequences(df, "n", budget, order_by=["doc_id"]).orderBy("doc_id").collect()
    bins = [r["bin_id"] for r in rows]
    assert bins[0] == 0
    assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
    # reconstruct: bin id must equal floor(preceding_total / budget)
    total = 0
    for r in rows:
        assert r["bin_id"] == total // budget
        total += r["n"]


def test_scrub_pii_idempotent_and_clean(spark):
    """Scrubbing twice equals scrubbing once (placeholders contain no
    digits/@, so nothing re-matches), and a Python re reference finds no
    surviving email/IP/long-number in the output — over a grid of
    generated PII-laced texts in one Spark job."""
    import random
    import re

    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.curation import scrub_pii_expr

    rng = random.Random(7)
    frags = [
        "plain words here",
        "a.b+tag@ex-mail.org",
        "10.0.0.1",
        "255.255.255.255",
        "+1 (415) 555-0142",
        "+44 20-7946-0958",
        "123456789012",
        "short 12345",
        "v2.0 release",
        "a@b.co",
    ]
    cases = [" ".join(rng.choices(frags, k=rng.randint(1, 6))) for _ in range(40)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, t string")
    once = scrub_pii_expr(F.col("t"))
    got = df.select(
        "i", once.alias("s1"), scrub_pii_expr(once).alias("s2")
    ).collect()
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ip = re.compile(r"\b\d{1,3}(\.\d{1,3}){3}\b")
    longnum = re.compile(r"\b\d{7,}\b")
    for r in got:
        assert r["s1"] == r["s2"], ("not idempotent", cases[r["i"]], r["s1"], r["s2"])
        for pat in (email, ip, longnum):
            assert not pat.search(r["s1"]), (cases[r["i"]], r["s1"], pat.pattern)


def test_decontaminate_matches_python_reference(spark):
    """Distinct-overlap counts vs a set-based Python reference over random
    word-salad docs (one Spark job)."""
    import random

    from epic_pandas_spark.extensions.curation import decontaminate

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(12)]
    train = [(i, " ".join(rng.choices(vocab, k=rng.randint(3, 15)))) for i in range(25)]
    evald = [(100 + i, " ".join(rng.choices(vocab, k=rng.randint(3, 15)))) for i in range(5)]
    n = 3

    def grams(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    eval_grams = set().union(*(grams(t) for _, t in evald)) if evald else set()
    want = {i: len(grams(t) & eval_grams) for i, t in train}

    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evald, "doc_id long, text string")
    out = decontaminate(tdf, edf, "text", "doc_id", n=n, min_hits=1)
    got = {r["doc_id"]: r["n_eval_hits"] for r in out.collect()}
    assert got == want


def test_repetition_stats_match_python_reference(spark):
    """top/dup char fractions vs a Counter-based Python reference over
    random word lists (one Spark job)."""
    import random
    from collections import Counter

    from epic_pandas_spark.extensions.curation import repetition_stats

    rng = random.Random(99)
    vocab = ["a", "bb", "ccc", "dddd"]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(2, 20)))) for i in range(30)]

    def py_stats(t, n):
        w = t.split()
        grams = [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
        c = Counter(grams)
        total = sum(cnt * len(g) for g, cnt in c.items())
        top = max(cnt * len(g) for g, cnt in c.items())
        dup = sum(cnt * len(g) for g, cnt in c.items() if cnt > 1)
        return round(top / total, 6), round(dup / total, 6)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in repetition_stats(df, "text", "doc_id", ns=(1, 2)).collect()
    }
    for i, t in docs:
        for n in (1, 2):
            if len(t.split()) < n:
                continue
            top, dup = py_stats(t, n)
            assert abs(got[i][f"top{n}_frac"] - top) < 1e-6, (t, n)
            assert abs(got[i][f"dup{n}_frac"] - dup) < 1e-6, (t, n)


def test_jaccard_plans_match_bruteforce_reference(spark):
    """Both EXACT Jaccard plans (inverted-index and AllPairs/PPJoin) vs a
    brute-force Python reference on a seeded high-collision corpus — a
    6-word vocabulary plus near-copies of each doc put pairs on and just
    below every threshold, the regime where the fp-boundary regression
    lived. The reference mirrors the
    engine's arithmetic (double intersection/union ratio compared to the
    double threshold) so only PRUNING differences can fail it. MinHash-LSH
    joins at t=0.8, where 16 bands of 2 rows collide with probability
    1 - 0.36^16 at the threshold: its verification over hashed shingle
    sets must give the string reference's pairs and scores exactly."""
    import random

    from epic_pandas_spark.extensions.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
        minhash_lsh_pairs,
    )

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e", "f"]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(3, 14))))
        for i in range(40)
    ]
    # the independent draws alone give no pair at these thresholds, so each
    # doc also gets a copy with its last word dropped and one with a word
    # appended: |s|-1 of |s| and |s| of |s|+1 shingles shared, which puts
    # pairs on every threshold (4/5 = 0.8 exactly) and just below it
    docs += [(100 + i, t.rsplit(" ", 1)[0]) for i, t in docs]
    docs += [(200 + i, f"{t} {rng.choice(vocab)}") for i, t in docs[:40]]

    def shingles(text, n=3):
        words = text.split()
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}

    sets = {i: shingles(t) for i, t in docs if shingles(t)}
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for t in (0.5, 0.6, 0.8):
        expected = set()
        for a in sets:
            for b in sets:
                if a < b:
                    inter = len(sets[a] & sets[b])
                    union = len(sets[a] | sets[b])
                    if union and inter / union >= t:
                        expected.add((a, b, round(inter / union, 9)))
        naive = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(df, "text", "doc_id", threshold=t).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs_prefix(df, "text", "doc_id", threshold=t).collect()
        }
        assert len(expected) >= 20, f"too few reference pairs at t={t}"
        assert naive == expected, f"naive t={t}"
        assert pref == expected, f"prefix t={t}"
        if t == 0.8:
            lsh = {
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in minhash_lsh_pairs(df, "text", "doc_id", threshold=t).collect()
            }
            assert lsh == expected, f"minhash_lsh t={t}"
