"""Unit/property tests for the corpus-curation tier
(extensions/curation.py): semantics the registry oracles can't see —
hash-order properties of the shuffle, with-replacement upsampling,
min_hits thresholds, exact repetition fractions on hand-computed docs."""

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.extensions.curation import (
    filter_by_blocklist,
    hashed_feature_scores,
    decontaminate,
    repetition_stats,
    resample_mixture,
    scrub_pii_expr,
    shuffle_rows,
    write_training_shards,
)


def test_decontaminate_counts_and_threshold(spark):
    train = spark.createDataFrame(
        [
            # shares the full eval 3-gram window twice over -> 2 distinct hits
            (1, "the quick brown fox jumps"),
            # shares exactly one 3-gram ("quick brown fox")
            (2, "a quick brown fox sleeps"),
            # no overlap
            (3, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox")], "doc_id long, text string"
    )
    out = decontaminate(train, eval_df, "text", "doc_id", n=3, min_hits=1)
    rows = {r["doc_id"]: (r["n_eval_hits"], r["contaminated"]) for r in out.collect()}
    assert rows[1] == (2, True)
    assert rows[2] == (1, True)
    assert rows[3] == (0, False)

    strict = decontaminate(train, eval_df, "text", "doc_id", n=3, min_hits=2)
    flags = {r["doc_id"]: r["contaminated"] for r in strict.collect()}
    assert flags == {1: True, 2: False, 3: False}


def test_repetition_stats_hand_computed(spark):
    # "aa aa b": words aa(2),b(1) -> total chars 2*2+1=5, top = aa 4, dup = 4
    # 2-grams "aa aa"(1), "aa b"(1) -> total 5+4=9, top 5, dup 0
    df = spark.createDataFrame([(1, "aa aa b")], "doc_id long, text string")
    r = repetition_stats(df, "text", "doc_id", ns=(1, 2)).collect()[0]
    assert r["top1_frac"] == pytest.approx(4 / 5)
    assert r["dup1_frac"] == pytest.approx(4 / 5)
    assert r["top2_frac"] == pytest.approx(5 / 9)
    assert r["dup2_frac"] == 0.0


def test_repetition_stats_no_repetition_doc(spark):
    df = spark.createDataFrame([(1, "x yy zzz")], "doc_id long, text string")
    r = repetition_stats(df, "text", "doc_id", ns=(1,)).collect()[0]
    # heaviest word is zzz: 3 of 6 chars; nothing duplicated
    assert r["top1_frac"] == pytest.approx(3 / 6)
    assert r["dup1_frac"] == 0.0


def _domains_df(spark, counts: dict):
    rows = []
    i = 0
    for dom, n in counts.items():
        for _ in range(n):
            rows.append((i, dom))
            i += 1
    return spark.createDataFrame(rows, "id long, dom string")


def test_resample_mixture_exact_counts(spark):
    df = _domains_df(spark, {"a": 50, "b": 30, "c": 20})
    out = resample_mixture(df, "dom", {"a": 0.5, "b": 0.3, "c": 0.2}, 40, seed=1)
    got = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": 20, "b": 12, "c": 8}
    # sampled ids are real rows, no duplicates in the without-replacement path
    ids = [r["id"] for r in out.select("id").collect()]
    assert len(ids) == len(set(ids))


def test_resample_mixture_infeasible_raises(spark):
    df = _domains_df(spark, {"a": 50, "b": 2})
    with pytest.raises(ValueError, match="allow_upsample"):
        resample_mixture(df, "dom", {"a": 0.5, "b": 0.5}, 40, seed=1)


def test_resample_mixture_upsample_with_replacement(spark):
    df = _domains_df(spark, {"a": 50, "b": 2})
    out = resample_mixture(
        df, "dom", {"a": 0.5, "b": 0.5}, 40, seed=1, allow_upsample=True
    )
    got = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": 20, "b": 20}
    # the 20 b-rows are drawn with replacement from the 2 real b rows
    b_ids = {r["id"] for r in out.filter(F.col("dom") == "b").select("id").collect()}
    assert b_ids <= {50, 51}


def test_shuffle_rows_permutation_properties(spark):
    df = spark.range(500).select(F.col("id"), (F.col("id") % 7).alias("k"))
    s1 = [r["id"] for r in shuffle_rows(df, seed=1).collect()]
    s1_again = [r["id"] for r in shuffle_rows(df.repartition(13), seed=1).collect()]
    s2 = [r["id"] for r in shuffle_rows(df, seed=2).collect()]
    assert sorted(s1) == list(range(500))          # a permutation
    assert s1 == s1_again                          # deterministic, partitioning-proof
    assert s1 != s2                                # seed changes the order
    assert s1 != list(range(500))                  # actually shuffled


def test_scrub_pii_goldens(spark):
    cases = [
        ("mail bob.smith+x@corp-mail.io now", "mail <EMAIL> now"),
        ("from 192.168.0.1 port", "from <IP> port"),
        ("call +44 (0) 20-7946-0958 today", "call <PHONE> today"),
        ("ref 900712345 end", "ref <NUM> end"),
        ("short 123456 stays", "short 123456 stays"),
        ("no pii at all", "no pii at all"),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)], "i long, t string")
    got = {r["i"]: r["s"] for r in df.select("i", scrub_pii_expr(F.col("t")).alias("s")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_filter_by_blocklist(spark):
    df = spark.createDataFrame(
        [(1, "a.com"), (2, "b.com"), (3, "c.com"), (4, "b.com")], "id long, domain string"
    )
    bl = spark.createDataFrame([("b.com",), ("z.com",)], "domain string")
    kept = filter_by_blocklist(df, "domain", bl)
    assert sorted(r["id"] for r in kept.collect()) == [1, 3]
    # blocklist with a differently-named column
    bl2 = spark.createDataFrame([("c.com",)], "bad string")
    kept2 = filter_by_blocklist(df, "domain", bl2, block_col="bad")
    assert sorted(r["id"] for r in kept2.collect()) == [1, 2, 4]


def test_hashed_feature_scores_bounds_and_missing_buckets(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta"), (3, "alpha alpha alpha")],
        "doc_id long, text string",
    )
    # empty weight table: every bucket missing -> z = bias -> sigmoid(bias)
    empty = spark.createDataFrame([], "bucket long, w double")
    out = {
        r["doc_id"]: r["score"]
        for r in hashed_feature_scores(docs, "text", "doc_id", empty, bias=0.0).collect()
    }
    assert all(abs(v - 0.5) < 1e-12 for v in out.values())
    # real weights: scores stay in (0, 1) and repeated-token doc gets the
    # same score as its single token would
    w = spark.range(1 << 10).select(
        F.col("id").alias("bucket"), ((F.col("id") % 3) - 1.0).alias("w")
    )
    out2 = {
        r["doc_id"]: r["score"]
        for r in hashed_feature_scores(
            docs, "text", "doc_id", w, n_buckets=1 << 10
        ).collect()
    }
    assert all(0.0 < v < 1.0 for v in out2.values())
    single = spark.createDataFrame([(9, "alpha")], "doc_id long, text string")
    s9 = hashed_feature_scores(single, "text", "doc_id", w, n_buckets=1 << 10).collect()[0]["score"]
    assert abs(out2[3] - s9) < 1e-12  # mean over identical tokens == single token


def test_write_training_shards_manifest_and_bounds(spark, tmp_path):
    df = spark.range(500).select(F.col("id"), (F.col("id") % 5).alias("k"))
    out = str(tmp_path / "shards")
    manifest = write_training_shards(df, out, shard_rows=100, seed=3)
    rows = manifest.collect()
    assert sum(r["n_rows"] for r in rows) == 500      # nothing lost
    assert all(r["n_rows"] <= 100 for r in rows)      # bound respected
    assert len(rows) >= 5
    back = spark.read.parquet(out)
    assert sorted(r["id"] for r in back.collect()) == list(range(500))
    with pytest.raises(ValueError):
        write_training_shards(df, out, shard_rows=0)


def test_dedup_lines_drops_boilerplate_keeps_order(spark):
    from epic_pandas_spark.extensions.curation import dedup_lines

    rows = [
        (1, "HEADER\nalpha body one\n\nfooter shared"),
        (2, "HEADER\nbeta body two\nfooter shared"),
        (3, "HEADER\ngamma body three\nonly mine"),
        (4, "totally unique document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup_lines(df, "text", "doc_id").collect()}
    # HEADER (3 docs) and 'footer shared' (2 docs) vanish; blank line survives
    assert out[1] == "alpha body one\n"
    assert out[2] == "beta body two"
    assert out[3] == "gamma body three\nonly mine"
    assert out[4] == "totally unique document"

    # threshold: allow up to 2 docs -> footer stays, HEADER still drops
    out2 = {r["doc_id"]: r["text"] for r in dedup_lines(df, "text", "doc_id", max_line_freq=2).collect()}
    assert out2[1] == "alpha body one\n\nfooter shared"
    assert out2[2] == "beta body two\nfooter shared"

    # whitespace-insensitive matching: '  HEADER ' counts as HEADER
    df3 = spark.createDataFrame(
        [(1, "  HEADER \nx"), (2, "HEADER\ny")], "doc_id long, text string"
    )
    out3 = {r["doc_id"]: r["text"] for r in dedup_lines(df3, "text", "doc_id").collect()}
    assert out3 == {1: "x", 2: "y"}

    # a doc that is ALL boilerplate comes back empty, not missing
    df4 = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    )
    out4 = {r["doc_id"]: r["text"] for r in dedup_lines(df4, "text", "doc_id").collect()}
    assert out4 == {1: "", 2: "", 3: "other"}


def test_encode_tokens_order_oov_and_empty(spark):
    from epic_pandas_spark.functions.text import encode_tokens

    vocab = spark.createDataFrame(
        [("alpha", 0), ("beta", 1), ("gamma", 2)], "token string, token_id int"
    )
    docs = spark.createDataFrame(
        [
            (1, "beta ALPHA beta unknown gamma"),
            (2, "   "),
            (3, "zzz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["token_ids"] for r in encode_tokens(docs, "text", "doc_id", vocab, unk_id=-1).collect()}
    assert out[1] == [1, 0, 1, -1, 2]  # case-normalized, order preserved
    assert out[3] == [-1]
    assert 2 not in out or out[2] == []  # blank doc yields no tokens


def test_dedup_lines_matches_python_model_on_random_corpus(spark):
    """Model-based check on a seeded random corpus: Spark's hashed
    distinct-doc-frequency pipeline must agree line-for-line with a
    direct Python implementation of the C4 rule."""
    import random
    from collections import Counter

    from epic_pandas_spark.extensions.curation import dedup_lines

    rng = random.Random(1234)
    pool = [f"boilerplate line {i}" for i in range(12)]
    docs = {}
    for d in range(60):
        lines = []
        for _ in range(rng.randint(1, 8)):
            if rng.random() < 0.5:
                lines.append(rng.choice(pool))
            else:
                lines.append(f"unique {d} {rng.randint(0, 10**9)}")
            if rng.random() < 0.2:
                lines.append("   ")  # short/blank lines are never counted
        docs[d] = "\n".join(lines)

    max_freq = 3
    freq = Counter()
    for t in docs.values():
        for s in {ln.strip() for ln in t.split("\n") if len(ln.strip()) >= 1}:
            freq[s] += 1
    hot = {s for s, n in freq.items() if n > max_freq}
    want = {
        d: "\n".join(
            ln
            for ln in t.split("\n")
            if not (len(ln.strip()) >= 1 and ln.strip() in hot)
        )
        for d, t in docs.items()
    }

    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, "text", "doc_id", max_line_freq=max_freq).collect()
    }
    assert got == want


def test_dsir_weights_match_numpy_model(spark):
    """dsir_importance_weights == a direct numpy replication of the DSIR
    formula (hashed unigram+bigram counts, Laplace smoothing, quantized
    log-ratio) on a hand-built corpus."""
    import hashlib
    import math

    from epic_pandas_spark.extensions.curation import (
        dsir_importance_weights,
        dsir_log_ratio_table,
        md5_bucket_expr,
    )

    source = {
        1: "the cat sat on the mat",
        2: "der hund lief schnell weg und kam nie wieder",
        3: "the dog ran fast to the house",
        4: "ein kleiner hund schlief auf dem sofa",
        5: "one",
        6: "",
    }
    target = {
        10: "the cat and the dog sat on the sofa",
        11: "a dog ran to the mat",
    }
    m, alpha, scale = 512, 1.0, 1_000_000

    def grams(text):
        w = [x for x in text.lower().strip().split() if x]
        return w + [f"{a}_{b}" for a, b in zip(w, w[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    from collections import Counter

    cs = Counter(bucket(g) for t in source.values() for g in grams(t))
    ct = Counter(bucket(g) for t in target.values() for g in grams(t))
    ns, nt = sum(cs.values()), sum(ct.values())
    ratio = {
        b: round(
            (
                math.log((ct.get(b, 0) + alpha) / (nt + alpha * m))
                - math.log((cs.get(b, 0) + alpha) / (ns + alpha * m))
            )
            * scale
        )
        for b in set(cs) | set(ct)
    }
    want = {
        d: sum(ratio.get(bucket(g), 0) for g in grams(t))
        for d, t in source.items()
        if grams(t)
    }

    sdf = spark.createDataFrame(list(source.items()), "doc_id long, text string")
    tdf = spark.createDataFrame(list(target.items()), "doc_id long, text string")
    be = md5_bucket_expr(m)
    rt = dsir_log_ratio_table(sdf, tdf, "text", m, alpha, scale, bucket_expr=be)
    got_rows = dsir_importance_weights(
        sdf, "text", "doc_id", rt, m, scale, bucket_expr=be
    ).collect()
    got = {r["doc_id"]: r["logw_scaled"] for r in got_rows}
    assert got == want
    # the double view is exactly the scaled integer / scale
    for r in got_rows:
        assert r["logw"] == r["logw_scaled"] / scale
    # gram-less doc 6 drops from the stream (no features -> no evidence)
    assert 6 not in got


def test_dsir_select_prefers_target_like_docs(spark):
    """Planted two-vocabulary corpus: target speaks vocab A, source is a
    mix — top-mode DSIR must select exactly the vocab-A documents, and
    gumbel mode must be seed-deterministic and biased the same way."""
    from epic_pandas_spark.extensions.curation import dsir_select

    a_words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    b_words = ["zork", "quux", "fnord", "blarg", "wibble"]

    def doc(words, i, n=12):
        return " ".join(words[(i + j) % len(words)] for j in range(n))

    source = [(i, doc(a_words, i)) for i in range(20)] + [
        (100 + i, doc(b_words, i)) for i in range(20)
    ]
    target = [(1000 + i, doc(a_words, i + 3)) for i in range(10)]
    sdf = spark.createDataFrame(source, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")

    top = dsir_select(sdf, tdf, "text", "doc_id", k=20, n_buckets=4096, mode="top")
    ids = {r["doc_id"] for r in top.collect()}
    assert ids == set(range(20))

    g1 = dsir_select(
        sdf, tdf, "text", "doc_id", k=10, n_buckets=4096, mode="gumbel", seed=7
    ).collect()
    g2 = dsir_select(
        sdf, tdf, "text", "doc_id", k=10, n_buckets=4096, mode="gumbel", seed=7
    ).collect()
    assert [r["doc_id"] for r in g1] == [r["doc_id"] for r in g2]
    # softmax over well-separated weights: vocab-A docs dominate the sample
    a_frac = sum(1 for r in g1 if r["doc_id"] < 100) / len(g1)
    assert a_frac >= 0.8

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dsir_select(sdf, tdf, "text", "doc_id", k=5, mode="bogus")


def test_dsir_target_flag_matches_two_frame_form(spark):
    """Round 11 one-pass fit: when the target is a labeled subset of the
    source, passing target_flag must produce the IDENTICAL ratio table
    (exact integers) and identical selection as target =
    source.filter(flag)."""
    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.curation import (
        dsir_log_ratio_table,
        dsir_select,
    )

    words = ["alpha", "beta", "gamma", "zork", "quux", "fnord"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(10)),
         "en" if i % 3 == 0 else "de")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    flag = F.col("lang") == "en"

    rt_two = {
        r["bucket"]: r["ratio_scaled"]
        for r in dsir_log_ratio_table(
            df, df.filter(flag), "text", n_buckets=1024
        ).collect()
    }
    rt_flag = {
        r["bucket"]: r["ratio_scaled"]
        for r in dsir_log_ratio_table(
            df, None, "text", n_buckets=1024, target_flag=flag
        ).collect()
    }
    assert rt_two == rt_flag  # exact integer table equality

    sel_two = {
        (r["doc_id"], r["logw"])
        for r in dsir_select(
            df, df.filter(flag), "text", "doc_id", k=15, n_buckets=1024
        ).collect()
    }
    sel_flag = {
        (r["doc_id"], r["logw"])
        for r in dsir_select(
            df, None, "text", "doc_id", k=15, n_buckets=1024, target_flag=flag
        ).collect()
    }
    assert sel_two == sel_flag

    with pytest.raises(ValueError, match="not both"):
        dsir_log_ratio_table(
            df, df.filter(flag), "text", n_buckets=1024, target_flag=flag
        )


def test_canonicalize_url_hand_cases(spark):
    from epic_pandas_spark.extensions.web import (
        canonicalize_url_expr,
        registrable_domain_expr,
        url_host_expr,
        url_scheme_expr,
    )

    cases = [
        # (raw, canonical, host, domain)
        ("HTTPS://Example.COM:443/a/?utm_source=x#top", "https://example.com/a", "example.com", "example.com"),
        ("https://example.com/a", "https://example.com/a", "example.com", "example.com"),
        ("http://example.com:80/", "http://example.com/", "example.com", "example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x", "example.com", "example.com"),
        ("https://news.site.example.com", "https://news.site.example.com/", "news.site.example.com", "example.com"),
        ("  https://a.io/p/?b=2&a=1&fbclid=zz  ", "https://a.io/p?a=1&b=2", "a.io", "a.io"),
        ("https://a.io/p?utm_campaign=c&utm_medium=m", "https://a.io/p", "a.io", "a.io"),
        ("https://user:pw@Host.io:443/q", "https://user:pw@host.io/q", "host.io", "host.io"),
        ("ftp://Files.example.org:21/data/", "ftp://files.example.org:21/data", "files.example.org", "example.org"),
        ("not a url", "not a url", "", ""),
        ("https://localhost/x/", "https://localhost/x", "localhost", "localhost"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "raw string")
    out = df.select(
        "raw",
        canonicalize_url_expr("raw").alias("canon"),
        url_host_expr("raw").alias("host"),
        registrable_domain_expr("raw").alias("domain"),
        url_scheme_expr("raw").alias("scheme"),
    ).collect()
    got = {r["raw"]: r for r in out}
    for raw, canon, host, domain in cases:
        r = got[raw]
        assert r["canon"] == canon, (raw, r["canon"], canon)
        assert r["host"] == host, (raw, r["host"], host)
        assert r["domain"] == domain, (raw, r["domain"], domain)
    assert got["HTTPS://Example.COM:443/a/?utm_source=x#top"]["scheme"] == "https"
    # idempotence: canonicalizing a canonical URL is a no-op
    out2 = (
        df.select(canonicalize_url_expr("raw").alias("c1"))
        .select("c1", canonicalize_url_expr("c1").alias("c2"))
        .collect()
    )
    for r in out2:
        assert r["c1"] == r["c2"], r


def test_canonicalize_url_equivalence_classes(spark):
    """Every messy variant of the same logical URL (scheme/host case,
    default port, trailing slash, tracking params in any position,
    fragment) must collapse to ONE canonical string; distinct logical
    URLs must stay distinct."""
    import itertools

    from pyspark.sql import functions as F

    from epic_pandas_spark.extensions.web import canonicalize_url_expr

    rows = []
    for li, (host, path, realq) in enumerate(
        [
            ("site-a.com", "/x/y", "id=1"),
            ("site-a.com", "/x/y", "id=2"),
            ("b.example.org", "/", ""),
            ("b.example.org", "/p", "a=1&b=2"),
        ]
    ):
        for scheme, port, slash, track, frag in itertools.product(
            ["https://", "HTTPS://", "HttpS://"],
            ["", ":443"],
            ["", "/"] if path != "/" else [""],
            ["", "utm_source=x", "fbclid=zz"],
            ["", "#frag"],
        ):
            qparts = [p for p in (realq, track) if p]
            # tracking param first or last — order must not matter
            for qp in {tuple(qparts), tuple(reversed(qparts))}:
                q = ("?" + "&".join(qp)) if qp else ""
                rows.append((li, scheme + host.upper() + port + path + slash + q + frag))
                rows.append((li, scheme + host + port + path + slash + q + frag))
    df = spark.createDataFrame(rows, "lid int, raw string")
    agg = (
        df.select("lid", canonicalize_url_expr("raw").alias("c"))
        .groupBy("lid")
        .agg(F.countDistinct("c").alias("n"), F.min("c").alias("canon"))
        .collect()
    )
    by_lid = {r["lid"]: r for r in agg}
    assert len(by_lid) == 4
    for lid, r in by_lid.items():
        assert r["n"] == 1, (lid, r)
    # distinct logical URLs stay distinct
    canons = {r["canon"] for r in by_lid.values()}
    assert len(canons) == 4, canons


def test_url_ipv6_literals(spark):
    """Bracketed IPv6 authorities: host keeps its brackets, the port is
    split after the closing bracket (never on the colons inside), default
    ports are stripped, and registrable_domain passes IP literals
    through — RFC 3986 §3.2.2."""
    from epic_pandas_spark.extensions.web import (
        canonicalize_url_expr,
        registrable_domain_expr,
        url_host_expr,
    )

    cases = [
        # (raw, canon, host, domain)
        ("https://[::1]:8080/x", "https://[::1]:8080/x", "[::1]", "[::1]"),
        ("https://[::1]:443/x/", "https://[::1]/x", "[::1]", "[::1]"),
        ("http://[2001:DB8::1]/a?utm_source=t", "http://[2001:db8::1]/a",
         "[2001:db8::1]", "[2001:db8::1]"),
        ("https://u@[2001:db8::2]:9443/p", "https://u@[2001:db8::2]:9443/p",
         "[2001:db8::2]", "[2001:db8::2]"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "raw string")
    got = {
        r["raw"]: r
        for r in df.select(
            "raw",
            canonicalize_url_expr("raw").alias("canon"),
            url_host_expr("raw").alias("host"),
            registrable_domain_expr("raw").alias("domain"),
        ).collect()
    }
    for raw, canon, host, domain in cases:
        r = got[raw]
        assert r["canon"] == canon, (raw, r["canon"])
        assert r["host"] == host, (raw, r["host"])
        assert r["domain"] == domain, (raw, r["domain"])


def test_psl_registrable_domain_rule_algebra(spark):
    """Full PSL rule algebra: normal multi-label suffixes, wildcard
    (*.ck), exception (!www.ck), implicit-* default for unknown TLDs,
    public-suffix-only hosts -> null, IP literals and dotless hosts ->
    null; duplicate bases across kinds in a caller-supplied table must
    NOT duplicate rows."""
    from epic_pandas_spark.extensions.web import (
        parse_psl_rules,
        psl_registrable_domain,
    )

    cases = {
        "example.co.uk": "example.co.uk",
        "news.bbc.co.uk": "bbc.co.uk",
        "co.uk": None,                      # is itself a public suffix
        "example.com": "example.com",       # implicit '*' default rule
        "a.b.example.com": "example.com",
        "foo.bar.ck": "foo.bar.ck",         # *.ck: bar.ck is the suffix
        "bar.ck": None,                     # *.ck: host IS a suffix
        "www.ck": "www.ck",                 # !www.ck exception
        "foo.www.ck": "www.ck",
        "shop.example.com.au": "example.com.au",
        "localhost": None,
        "[::1]": None,
        "UPPER.Example.CO.UK": "example.co.uk",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    out = {r["host"]: r["registrable_domain"]
           for r in psl_registrable_domain(df, "host").collect()}
    assert out == cases

    # caller-supplied rules in PSL file format, with a comment line and a
    # base that appears under two kinds (must not duplicate corpus rows)
    rules = parse_psl_rules(
        spark, ["// comment", "", "co.uk", "*.co.uk", "!special.co.uk"]
    )
    df2 = spark.createDataFrame(
        [("a.b.co.uk",), ("x.special.co.uk",)], "host string"
    )
    got = psl_registrable_domain(df2, "host", psl=rules).collect()
    assert len(got) == 2  # no row duplication from the dual-kind base
    vals = {r["host"]: r["registrable_domain"] for r in got}
    # *.co.uk: b.co.uk is a suffix -> registrable = a.b.co.uk;
    # !special.co.uk prevails -> registrable = special.co.uk
    assert vals == {"a.b.co.uk": "a.b.co.uk",
                    "x.special.co.uk": "special.co.uk"}

    # max_suffix_labels=1 must be well-formed (greatest() needs >= 2
    # operands; regression for the 1-element exception-list call) and
    # still resolve 1-label suffixes + the implicit '*' default
    df3 = spark.createDataFrame(
        [("example.com",), ("a.example.com",), ("com",)], "host string"
    )
    got1 = {r["host"]: r["registrable_domain"]
            for r in psl_registrable_domain(df3, "host", max_suffix_labels=1).collect()}
    assert got1 == {"example.com": "example.com",
                    "a.example.com": "example.com",
                    "com": None}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        psl_registrable_domain(df3, "host", max_suffix_labels=0)


def test_psl_vendored_snapshot_resolves_real_rules(spark):
    """The default rule source is the full vendored publicsuffix.org
    snapshot, not the hand-picked subset: rules that exist ONLY in the
    real list must resolve — private-section suffixes (github.io),
    multi-label Japanese geo wildcards (*.kawasaki.jp) and their
    exceptions (!city.kawasaki.jp), and 3-label ICANN suffixes absent
    from the fixture (pvt.k12.ma.us)."""
    from epic_pandas_spark.extensions.web import (
        DEFAULT_PSL_RULES,
        psl_registrable_domain,
        psl_snapshot_lines,
    )

    lines = psl_snapshot_lines()
    rules = [ln for ln in lines if ln and not ln.startswith("//")]
    assert len(rules) > 9000  # a real snapshot, not a subset
    assert "github.io" in rules and "!city.kawasaki.jp" in rules
    # the readable test fixture stays a strict subset of the real list
    assert {"co.uk", "com.au", "co.jp"} <= set(rules)
    assert {"co.uk", "com.au", "co.jp"} <= set(DEFAULT_PSL_RULES)

    cases = {
        "project.pages.github.io": "pages.github.io",   # private-section rule
        "a.b.kawasaki.jp": "a.b.kawasaki.jp",            # *.kawasaki.jp wildcard
        "x.city.kawasaki.jp": "city.kawasaki.jp",        # !city.kawasaki.jp
        "school.pvt.k12.ma.us": "school.pvt.k12.ma.us",  # pvt.k12.ma.us IS a suffix
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    out = {r["host"]: r["registrable_domain"]
           for r in psl_registrable_domain(df, "host").collect()}
    assert out == cases


def test_filter_by_group_quantile_semantics(spark):
    """Per-group threshold: each group's cutoff is its OWN quantile (a
    global cutoff would keep nothing from the low group); keep modes
    complement each other; nulls never pass; bad mode raises."""
    from epic_pandas_spark.extensions.curation import filter_by_group_quantile

    rows = [("lo", float(i)) for i in range(1, 11)]          # 1..10
    rows += [("hi", float(i)) for i in range(101, 111)]      # 101..110
    rows += [("hi", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    kept = filter_by_group_quantile(df, "v", "g", 0.5, mode="exact")
    got = sorted((r["g"], r["v"]) for r in kept.collect())
    # median of 1..10 = 5.5 -> keep 6..10; median of 101..110 -> 106..110
    assert got == [("hi", float(v)) for v in range(106, 111)] + \
                  [("lo", float(v)) for v in range(6, 11)]
    below = filter_by_group_quantile(df, "v", "g", 0.5, keep="below",
                                     mode="exact")
    assert below.count() == 10  # the complement (nulls in neither half)
    with_th = filter_by_group_quantile(
        df, "v", "g", 0.5, mode="exact", threshold_col="th"
    )
    ths = {r["g"]: r["th"] for r in with_th.select("g", "th").distinct().collect()}
    assert ths == {"lo": 5.5, "hi": 105.5}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        filter_by_group_quantile(df, "v", "g", 0.5, keep="nope")


def test_resample_mixture_tokens_quota_semantics(spark):
    """Each domain lands in [quota, quota + max_doc_tokens) when it has
    enough tokens; atomic-document overshoot is bounded by one doc; the
    keep set is deterministic across partitionings; short domains raise
    unless allow_short (then they keep everything)."""
    from epic_pandas_spark.extensions.curation import resample_mixture_tokens

    rows = [(i, "a", 100) for i in range(50)]        # a: 5000 tokens
    rows += [(100 + i, "b", 333) for i in range(30)]  # b: 9990 tokens
    df = spark.createDataFrame(rows, "id long, dom string, tok long")
    kept = resample_mixture_tokens(
        df, "dom", "tok", "id", weights={"a": 0.5, "b": 0.5}, n_tokens=4000
    )
    sums = {r["dom"]: r["t"] for r in
            kept.groupBy("dom").agg(F.sum("tok").alias("t")).collect()}
    assert 2000 <= sums["a"] < 2000 + 100
    assert 2000 <= sums["b"] < 2000 + 333
    # deterministic under a different partitioning
    kept2 = resample_mixture_tokens(
        df.repartition(7), "dom", "tok", "id",
        weights={"a": 0.5, "b": 0.5}, n_tokens=4000,
    )
    assert sorted(r["id"] for r in kept.collect()) == \
           sorted(r["id"] for r in kept2.collect())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fewer tokens"):
        resample_mixture_tokens(
            df, "dom", "tok", "id", weights={"a": 1.0}, n_tokens=6000
        )
    allkept = resample_mixture_tokens(
        df, "dom", "tok", "id", weights={"a": 1.0}, n_tokens=6000,
        allow_short=True,
    )
    assert allkept.filter(F.col("dom") == "a").count() == 50  # keeps all


def test_filter_by_group_quantile_null_group_label(spark):
    """A NULL group label is a real group: its rows get their own
    threshold instead of silently vanishing through a non-null-safe
    join (and the same null-safe contract holds for per-group hist
    bins)."""
    from epic_pandas_spark.extensions.curation import filter_by_group_quantile

    rows = [("a", float(i)) for i in range(1, 11)]
    rows += [(None, float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v double")
    kept = filter_by_group_quantile(df, "v", "g", 0.5, mode="exact")
    got = sorted(((r["g"], r["v"]) for r in kept.collect()),
                 key=lambda t: (t[0] or "", t[1]))
    assert [t for t in got if t[0] is None] == [(None, float(i)) for i in range(6, 11)]
    assert [t for t in got if t[0] == "a"] == [("a", float(i)) for i in range(6, 11)]
    # hist + per_group bins keeps the null group too
    kept_h = filter_by_group_quantile(
        df, "v", "g", 0.5, mode="hist", accuracy=1000, bins="per_group"
    )
    assert kept_h.filter(F.col("g").isNull()).count() == 5


def test_bucket_by_group_quantiles_tertiles(spark):
    """Per-group tertile labels: each group of 1..9 splits 3/3/3 at the
    exact 1/3 and 2/3 interpolated thresholds, independent of the other
    group's range."""
    from epic_pandas_spark.extensions.curation import bucket_by_group_quantiles

    rows = [("a", float(i)) for i in range(1, 10)]
    rows += [("b", float(i * 100)) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = bucket_by_group_quantiles(df, "v", "g", mode="exact")
    got = {(r["g"], r["v"]): r["bucket"] for r in out.collect()}
    for g, scale in (("a", 1.0), ("b", 100.0)):
        # quantile_cont thresholds over 1..9 are 3.666.. and 6.333..
        assert [got[(g, i * scale)] for i in range(1, 10)] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )


def test_bucket_by_group_quantiles_nulls_and_validation(spark):
    from epic_pandas_spark.extensions.curation import bucket_by_group_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None), (None, 5.0)],
        "g string, v double",
    )
    out = bucket_by_group_quantiles(df, "v", "g", mode="exact")
    got = {(r["g"], r["v"]): r["bucket"] for r in out.collect()}
    assert got[("a", None)] is None          # null value -> null bucket
    assert got[(None, 5.0)] == "head"        # null group label is a real group
    assert len(got) == 5                     # no rows dropped
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bucket_by_group_quantiles(df, "v", "g", probs=(0.5, 0.2))
    with _pytest.raises(ValueError):
        bucket_by_group_quantiles(df, "v", "g", labels=("x", "y"))


def test_bucket_by_group_quantiles_custom_cuts(spark):
    """Non-tertile cuts: a single median cut gives len(labels)=2, and the
    boundary row (v == threshold) takes the lower bucket (<= semantics,
    matching quantile_cont oracles)."""
    from epic_pandas_spark.extensions.curation import bucket_by_group_quantiles

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 6)], "g string, v double"
    )
    out = bucket_by_group_quantiles(
        df, "v", "g", probs=(0.5,), labels=("lo", "hi"), mode="exact"
    )
    got = {r["v"]: r["bucket"] for r in out.collect()}
    assert got == {1.0: "lo", 2.0: "lo", 3.0: "lo", 4.0: "hi", 5.0: "hi"}


def _train_docs(spark):
    # planted signal: label-1 docs use 'good'-family tokens, label-0 'bad'
    rows = []
    for i in range(30):
        rows.append((i, f"good great fine token{i % 5}", 1))
        rows.append((100 + i, f"bad awful poor token{i % 5}", 0))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_train_quality_classifier_parity_vs_numpy(spark):
    """The distributed GD loop computes the same weights as a dense
    numpy replay of the identical math on the identical features."""
    from epic_pandas_spark.extensions.curation import (
        train_quality_classifier,
        train_quality_classifier_reference,
    )

    df = _train_docs(spark)
    n_buckets = 64
    w_df, bias, n_docs = train_quality_classifier(
        df, "text", "label", "doc_id", n_buckets=n_buckets, iters=10, lr=5.0, l2=0.01
    )
    assert n_docs == 60
    got = {r["bucket"]: r["w"] for r in w_df.collect()}

    # extract the exact feature vectors (same hashing) and replay in numpy
    feat = (
        df.selectExpr(
            "doc_id", "label",
            "explode(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')) tok",
        )
        .filter("tok != ''")
        .selectExpr("doc_id", "label", f"pmod(xxhash64(tok), {n_buckets}) bucket")
        .groupBy("doc_id", "label", "bucket").count()
        .collect()
    )
    from collections import defaultdict
    per_doc = defaultdict(lambda: [dict(), 0])
    for r in feat:
        per_doc[r["doc_id"]][0][r["bucket"]] = r["count"]
        per_doc[r["doc_id"]][1] = r["label"]
    docs = []
    for cnts, y in per_doc.values():
        tot = sum(cnts.values())
        docs.append(({k: v / tot for k, v in cnts.items()}, float(y)))
    want, want_bias = train_quality_classifier_reference(
        docs, n_buckets, iters=10, lr=5.0, l2=0.01
    )
    assert bias == pytest.approx(want_bias, abs=1e-9)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_train_quality_classifier_separates_and_scores(spark):
    """End-to-end composition: trained weights fed to
    hashed_feature_scores separate the planted classes."""
    from epic_pandas_spark.extensions.curation import (
        hashed_feature_scores,
        train_quality_classifier,
    )

    df = _train_docs(spark)
    w_df, bias, _ = train_quality_classifier(
        df, "text", "label", "doc_id", n_buckets=256, iters=40, lr=10.0
    )
    scores = hashed_feature_scores(
        df, "text", "doc_id", w_df.withColumnRenamed("w", "w"),
        n_buckets=256, bias=bias,
    )
    got = {r["doc_id"]: r["score"] for r in scores.collect()}
    pos = [got[i] for i in range(30)]
    neg = [got[100 + i] for i in range(30)]
    assert min(pos) > 0.8 and max(neg) < 0.2


def test_train_quality_classifier_validation(spark):
    from epic_pandas_spark.extensions.curation import train_quality_classifier

    df = _train_docs(spark)
    with pytest.raises(ValueError):
        train_quality_classifier(df, "text", "label", "doc_id", iters=0)
    with pytest.raises(ValueError):
        train_quality_classifier(df, "text", "label", "doc_id", lr=0)
    empty = df.filter("label IS NULL")
    with pytest.raises(ValueError, match="no labeled"):
        train_quality_classifier(empty, "text", "label", "doc_id")


def test_classifier_train_oracle_replays_null_label_filtering(spark, tmp_path):
    """Round-10 advisory: the registry's DuckDB classifier-train oracle
    must replay the trainer's null-label filtering — a null-lang doc
    carries no label, so the trainer drops it and divides residuals by
    the LABELED count. Before round 11 the oracle's tok/bias/ndocs CTEs
    scanned ALL documents (null-y rows silently dropped out of SUM but
    still inflated ndocs), matching only because the generated corpora
    never emit null lang. Planted corpus with nulls; full Spark-vs-DuckDB
    parity on the trained weight table."""
    import duckdb

    from epic_pandas_spark.plans.registry import REGISTRY
    from tests.conftest import assert_matches_oracle

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "pack my box with five dozen liquor jugs", "en"),
        (3, "le renard brun rapide saute par dessus le chien", "fr"),
        (4, "der schnelle braune fuchs springt ueber den hund", "de"),
        (5, "this doc has no language label at all whatsoever", None),
        (6, "ce document non plus aucune etiquette de langue", None),
        (7, "sphinx of black quartz judge my vow", "en"),
        (8, "zwei boxkaempfer jagen eva quer durch sylt", "de"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    fn, sql = REGISTRY["quality_classifier_train"]
    got = fn(spark, str(tmp_path))
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        assert_matches_oracle(got, con, sql)
    finally:
        con.close()
