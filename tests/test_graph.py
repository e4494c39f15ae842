"""PageRank witnesses: exact numpy power-iteration replay (same update
rule, same iteration count -> agreement to 1e-9) and the K_{1,k} star
closed form at the fixpoint."""

import numpy as np
import pytest

from epic_pandas_spark.extensions.graph import degree_stats, pagerank


def _numpy_pagerank(edge_list, n_iter, d=0.85, directed=False):
    nodes = sorted({u for e in edge_list for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    adj = set()
    for u, v in edge_list:
        if u == v:
            continue
        adj.add((idx[u], idx[v]))
        if not directed:
            adj.add((idx[v], idx[u]))
    out_deg = np.zeros(n)
    for u, v in adj:
        out_deg[u] += 1
    r = np.ones(n)
    for _ in range(n_iter):
        recv = np.zeros(n)
        for u, v in adj:
            recv[v] += r[u] / out_deg[u]
        dangling = r[out_deg == 0].sum()
        r = (1 - d) + d * dangling / n + d * recv
    return {u: r[idx[u]] for u in nodes}


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for directed in (False, True):
        got = {
            r["id"]: r["rank"]
            for r in pagerank(df, n_iter=8, directed=directed).collect()
        }
        want = _numpy_pagerank(edges, n_iter=8, directed=directed)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (directed, k, got[k], want[k])


def test_pagerank_star_closed_form_and_mass_conservation(spark):
    # d=0.5: the star alternation contracts by d per round, so 30
    # rounds land within ~1e-9 of the fixpoint (d=0.85 would need ~140)
    k, d = 6, 0.5
    df = spark.createDataFrame([(0, i) for i in range(1, k + 1)], "src long, dst long")
    ranks = {r["id"]: r["rank"] for r in pagerank(df, damping=d, n_iter=30).collect()}
    rc_expected = (1 - d) * (1 + d * k) / (1 - d * d)
    assert abs(ranks[0] - rc_expected) < 1e-8
    assert abs(sum(ranks.values()) - (k + 1)) < 1e-9  # mass conserved
    leaf_vals = [v for n, v in ranks.items() if n != 0]
    assert max(leaf_vals) - min(leaf_vals) < 1e-12  # symmetry


def test_pagerank_validation_and_degree_stats(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)
    deg = {r["id"]: r["degree"] for r in degree_stats(df).collect()}
    assert deg == {1: 1, 2: 2, 3: 1}  # self-loop dropped


def test_pagerank_eager_and_lazy_rounds_identical(spark, monkeypatch):
    """A node bound of 0 forces the large-graph path (eager per-round
    localCheckpoints); the default keeps small graphs in one
    lazy plan. Both must produce the same ranks — the strategy is a
    physical choice, never a semantic one. (Tolerance is ULP-scale: the
    eager path's different partitioning reorders the dangling-mass float
    sum.)"""
    import random

    from epic_pandas_spark.extensions import graph

    rng = random.Random(3)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    df = spark.createDataFrame(edges, "src long, dst long")

    def ranks(directed: bool) -> dict:
        return {r["id"]: r["rank"]
                for r in pagerank(df, n_iter=6, directed=directed).collect()}

    lazy = {directed: ranks(directed) for directed in (False, True)}
    monkeypatch.setattr(graph, "_PAGERANK_LAZY_MAX_NODES", 0)
    for directed in (False, True):
        eager = ranks(directed)
        assert set(lazy[directed]) == set(eager), directed
        for k in eager:
            assert abs(lazy[directed][k] - eager[k]) < 1e-12, (directed, k)


def test_triangle_counts_closed_forms(spark):
    """K4 (every node: 3 triangles, coeff 1), a 4-cycle (0 triangles),
    and a star (0 triangles) — closed forms covering dense, sparse, and
    skewed-hub shapes. Input arrives dirty (duplicates, both directions,
    self-loops) to prove canonicalization."""
    from epic_pandas_spark.extensions.graph import triangle_counts

    k4 = [(i, j) for i in range(4) for j in range(4) if i != j]  # both dirs
    cyc = [(10, 11), (11, 12), (12, 13), (13, 10), (10, 10)]  # + self-loop
    star = [(20, 21), (20, 22), (20, 23), (21, 20)]  # + reverse dup
    df = spark.createDataFrame(k4 + cyc + star, "src long, dst long")
    got = {
        r["id"]: (r["degree"], r["triangles"], round(r["coeff"], 9))
        for r in triangle_counts(df).collect()
    }
    for i in range(4):
        assert got[i] == (3, 3, 1.0)
    for i in (10, 11, 12, 13):
        assert got[i] == (2, 0, 0.0)
    assert got[20] == (3, 0, 0.0)
    for i in (21, 22, 23):
        assert got[i] == (1, 0, 0.0)


def test_triangle_counts_random_graph_vs_networkx_free_model(spark):
    """Model-based: per-node triangle counts on a random graph must equal
    a brute-force O(n^3) Python count (no networkx needed)."""
    import itertools
    import random

    from epic_pandas_spark.extensions.graph import triangle_counts

    rng = random.Random(7)
    nodes = list(range(30))
    edges = {tuple(sorted(e)) for e in
             (rng.sample(nodes, 2) for _ in range(120))}
    tri = {n: 0 for n in nodes}
    deg = {n: 0 for n in nodes}
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    for a, b, c in itertools.combinations(nodes, 3):
        if ((a, b) in edges and (b, c) in edges and (a, c) in edges):
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["id"]: (r["degree"], r["triangles"]) for r in triangle_counts(df).collect()}
    want = {n: (deg[n], tri[n]) for n in nodes if deg[n] > 0}
    assert got == want


def test_triangle_counts_snowflake_and_string_ids(spark):
    """Rank comparison is a (degree, id) struct, not a packed long — so
    snowflake-scale ids (~1e18, which overflow/collide under
    degree*1e11+id packing) and string ids both count exactly."""
    from epic_pandas_spark.extensions.graph import triangle_counts

    base = 4_611_686_018_427_387_904  # 2^62
    big = [(base, base + 1), (base + 1, base + 2), (base + 2, base)]
    got = {
        r["id"]: (r["degree"], r["triangles"])
        for r in triangle_counts(
            spark.createDataFrame(big, "src long, dst long")
        ).collect()
    }
    assert got == {base: (2, 1), base + 1: (2, 1), base + 2: (2, 1)}

    s_edges = [("alpha", "beta"), ("beta", "gamma"), ("gamma", "alpha"),
               ("gamma", "delta")]
    got_s = {
        r["id"]: (r["degree"], r["triangles"])
        for r in triangle_counts(
            spark.createDataFrame(s_edges, "src string, dst string")
        ).collect()
    }
    assert got_s == {"alpha": (2, 1), "beta": (2, 1), "gamma": (3, 1),
                     "delta": (1, 0)}
