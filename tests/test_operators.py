"""Golden-output unit tests in the reference's own style (SURVEY.md §5):
small fixed frames, deterministic seeds, exact expected values — covering
operator behaviors the registry queries don't (container fills, weighted
sampling clamps, ingestion hooks, alignment checks, papply wrappers)."""

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.keyed import alignable, is_key_unique, with_row_key, zip_with_index
from epic_pandas_spark.operators import (
    fillna,
    sample_at_most,
    sample_with_distribution,
    upsert,
)
from epic_pandas_spark.operators.sampling import allocate_counts
from epic_pandas_spark.operators.sparse import stack, coo_is_square, coo_transpose, coo_todense
from epic_pandas_spark.parallel import collect_at_most, papply, grouped_papply
from epic_pandas_spark.sources.ingest import df_from_iterable, series_from_iterable


# --- fillna (reference tests/test_utils.py:23-56) --------------------------

def test_fillna_scalar_and_mapping(spark):
    df = spark.createDataFrame(
        [(0, 1.0, "x"), (1, None, None), (2, 5.0, "z")], "k long, a double, s string"
    )
    filled = fillna(df, {"a": 0.0, "s": "missing"}).orderBy("k").collect()
    assert [r["a"] for r in filled] == [1.0, 0.0, 5.0]
    assert [r["s"] for r in filled] == ["x", "missing", "z"]


def test_fillna_empty_containers(spark):
    df = spark.createDataFrame(
        [(0, [1, 2], {"a": 1}), (1, None, None)],
        "k long, arr array<int>, m map<string,int>",
    )
    filled = fillna(df, {"arr": list, "m": dict}).orderBy("k").collect()
    assert filled[1]["arr"] == []
    assert filled[1]["m"] == {}


def test_fillna_container_type_mismatch_raises(spark):
    df = spark.createDataFrame([(0, 1.0)], "k long, a double")
    with pytest.raises(TypeError):
        fillna(df, {"a": list})


# --- sampling (reference tests/test_utils.py:9-21) -------------------------

def test_allocate_counts_largest_remainder():
    assert allocate_counts({0: 4, 1: 2}, 6) == {0: 4, 1: 2}
    assert allocate_counts({"a": 1, "b": 1, "c": 1}, 10) == {"a": 3, "b": 4, "c": 3}


def test_stratified_infeasible_raises(spark):
    df = spark.createDataFrame([(i, i % 2) for i in range(10)], "k long, pop int")
    df = df.withColumn("pop", F.col("pop").cast("string"))
    with pytest.raises(ValueError, match="stratum"):
        sample_with_distribution(df, "pop", 12, {"0": 4, "1": 2}, seed=42)


def test_stratified_exact_counts(spark):
    df = spark.createDataFrame([(i, str(i % 2)) for i in range(10)], "k long, pop string")
    out = sample_with_distribution(df, "pop", 6, {"0": 4, "1": 2}, seed=42)
    counts = {r["pop"]: r["n"] for r in out.groupBy("pop").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 4, "1": 2}


def test_sample_at_most_clamps(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    assert sample_at_most(df, n=50, seed=1).count() == 10
    assert sample_at_most(df, n=3, seed=1).count() == 3
    assert sample_at_most(df, frac=2.0, seed=1).count() == 10


def test_sample_at_most_weighted_prefers_heavy(spark):
    rows = [(i, 1000.0 if i < 3 else 0.001) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, w double")
    picked = {r["k"] for r in sample_at_most(df, n=3, weights="w", seed=7).collect()}
    assert picked == {0, 1, 2}


def test_sample_deterministic_across_runs(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    a = sorted(r["k"] for r in sample_at_most(df, n=10, seed=5).collect())
    b = sorted(r["k"] for r in sample_at_most(df.repartition(7), n=10, seed=5).collect())
    assert a == b  # hash-derived randomness is partitioning-invariant


def test_sample_with_replacement_exact_n_and_valid_rows(spark):
    df = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, v long")
    out = sample_at_most(df, n=200, replace=True, seed=3).collect()
    assert len(out) == 200  # n > population only works WITH replacement
    assert {r["__draw_id"] for r in out} == set(range(200))  # every draw filled once
    valid = {(i, i * 10) for i in range(50)}
    assert {(r["k"], r["v"]) for r in out} <= valid  # draws are real rows
    multiplicities = {}
    for r in out:
        multiplicities[r["k"]] = multiplicities.get(r["k"], 0) + 1
    assert max(multiplicities.values()) > 1  # 200 draws from 50 rows must repeat


def test_sample_with_replacement_deterministic_across_partitioning(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    a = sorted(r["k"] for r in sample_at_most(df, n=40, replace=True, seed=5).collect())
    b = sorted(
        r["k"]
        for r in sample_at_most(df.repartition(7), n=40, replace=True, seed=5).collect()
    )
    assert a == b


def test_sample_with_replacement_weighted_expectation(spark):
    """Weighted multinomial: a row holding 90% of the total weight should
    receive ~90% of the draws (binomial sd for n=2000, p=0.9 is ~1.3%;
    the 5% tolerance is ~7 sd — deterministic given the fixed seed)."""
    df = spark.createDataFrame(
        [(0, 9.0)] + [(i, 1.0 / 9) for i in range(1, 10)], "k long, w double"
    )
    out = sample_at_most(df, n=2000, weights="w", replace=True, seed=11).collect()
    assert len(out) == 2000
    heavy = sum(1 for r in out if r["k"] == 0)
    assert abs(heavy / 2000 - 0.9) < 0.05


def test_sample_with_replacement_rejects_empty_and_zero_weight(spark):
    from epic_pandas_spark.operators.sampling import sample_with_replacement

    empty = spark.createDataFrame([], "k long")
    with pytest.raises(ValueError, match="empty"):
        sample_with_replacement(empty, 5).count()
    zeroed = spark.createDataFrame([(1, 0.0)], "k long, w double")
    with pytest.raises(ValueError, match="empty"):
        sample_with_replacement(zeroed, 5, weights="w").count()
    assert sample_with_replacement(empty.unionByName(empty), 0, seed=1).count() == 0


# --- upsert / keyed-frame --------------------------------------------------

def test_upsert_insert_and_update(spark):
    orig = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    new = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    out = {r["k"]: r["v"] for r in upsert(orig, new, key="k").collect()}
    assert out == {1: "a", 2: "B", 3: "C"}


def test_alignable_and_uniqueness(spark):
    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(2,), (1,)], "k long")
    c = spark.createDataFrame([(1,), (1,)], "k long")
    d = spark.createDataFrame([(1,), (3,)], "k long")
    assert alignable(a, b, key="k")
    assert not alignable(a, c, key="k")  # duplicate keys
    assert not alignable(a, d, key="k")  # different key sets
    assert is_key_unique(a, "k") and not is_key_unique(c, "k")


def test_row_keys(spark):
    df = spark.createDataFrame([("x",), ("y",), ("z",)], "v string").repartition(3)
    ids = [r["__key"] for r in with_row_key(df).collect()]
    assert len(set(ids)) == 3
    zipped = sorted(r["__key"] for r in zip_with_index(df).collect())
    assert zipped == [0, 1, 2]


# --- ingestion (reference create.py semantics) -----------------------------

def test_df_from_iterable_schema_union_and_collapse(spark):
    records = [
        ("k1", {"a": 1.0, "sub": {"x": 2.0, "y": 3.0}}),
        ("k2", {"a": 4.0, "b": 5.0, "dropme": None}),
    ]
    df = df_from_iterable(spark, records, key_col="key")
    rows = {r["key"]: r.asDict() for r in df.collect()}
    assert rows["k1"]["sub_x"] == 2.0 and rows["k1"]["sub_y"] == 3.0
    assert rows["k1"]["b"] is None  # null backfill for missing field
    assert rows["k2"]["b"] == 5.0
    assert "dropme" not in df.columns  # None fields dropped


def test_df_from_iterable_transform_skips(spark):
    records = [("a", {"v": 1}), ("b", {"v": 2}), ("c", {"v": 3})]
    df = df_from_iterable(
        spark, records, transform=lambda r: None if r["v"] == 2 else r
    )
    assert sorted(r["__key"] for r in df.collect()) == ["a", "c"]


def test_series_from_iterable(spark):
    df = series_from_iterable(spark, [("a", 1), ("b", 2)])
    assert set(df.columns) == {"__key", "value"}
    assert df.count() == 2


# --- papply wrappers (reference parallel.py) -------------------------------

def test_papply_batch_apply(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    out = papply(df, lambda pdf: pdf.assign(v2=pdf.v * 2), "k long, v double, v2 double")
    assert {r["k"]: r["v2"] for r in out.collect()} == {i: 2.0 * i for i in range(10)}


def test_grouped_papply(spark):
    df = spark.createDataFrame([(i % 3, float(i)) for i in range(9)], "g int, v double")

    def demean(pdf):
        pdf["v"] = pdf["v"] - pdf["v"].mean()
        return pdf

    out = grouped_papply(df, ["g"], demean, "g int, v double")
    sums = out.groupBy("g").agg(F.round(F.sum("v"), 9).alias("s")).collect()
    assert all(r["s"] == 0.0 for r in sums)


def test_collect_at_most_bounds_the_collect(spark):
    """The driver-tier gate: at most n rows come back as a list, n + 1
    rows as None, and an empty frame as []."""
    df = spark.range(5).localCheckpoint(eager=False)
    assert sorted(r["id"] for r in collect_at_most(df, 5)) == [0, 1, 2, 3, 4]
    assert collect_at_most(df, 4) is None
    assert collect_at_most(df.filter("id < 0"), 3) == []


# --- COO sparse ------------------------------------------------------------

def test_stack_and_coo_roundtrip(spark):
    df = spark.createDataFrame(
        [("r1", 1.0, None), ("r2", None, 2.0)], "k string, c1 double, c2 double"
    )
    coo = stack(df, "k", ["c1", "c2"])
    assert {(r["row_key"], r["col_key"], r["value"]) for r in coo.collect()} == {
        ("r1", "c1", 1.0),
        ("r2", "c2", 2.0),
    }
    assert coo_is_square(coo).first()["is_square"] is False
    t = coo_transpose(coo)
    assert {r["row_key"] for r in t.collect()} == {"c1", "c2"}
    dense = coo_todense(coo).orderBy("row_key").collect()
    assert dense[0]["c1"] == 1.0 and dense[0]["c2"] == 0.0


def test_drop_duplicates_keep_last(spark):
    from epic_pandas_spark.operators import drop_duplicates_by_key

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "k long, seq long, v string"
    )
    out = {r["k"]: r["v"] for r in
           drop_duplicates_by_key(df, key="k", keep="last", order_by=["seq"]).collect()}
    assert out == {1: "b", 2: "c"}


def test_papply_series_udf(spark):
    from epic_pandas_spark.parallel import papply_series

    double_it = papply_series(lambda s: s * 2.0, "double")
    df = spark.createDataFrame([(1.0,), (2.5,)], "v double")
    assert sorted(r["o"] for r in df.select(double_it("v").alias("o")).collect()) == [2.0, 5.0]


def test_assemble_frame_alignment(spark):
    from epic_pandas_spark.keyed import assemble_frame

    s1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "__key long, value double")
    s2 = spark.createDataFrame([(2, "x"), (3, "y")], "__key long, value string")
    out = {r["__key"]: (r["a"], r["b"]) for r in assemble_frame({"a": s1, "b": s2}).collect()}
    assert out == {1: (10.0, None), 2: (20.0, "x"), 3: (None, "y")}


def test_identity_series(spark):
    from epic_pandas_spark.keyed import identity_series

    df = spark.createDataFrame([(5,), (7,)], "k long")
    rows = {(r["k"], r["value"]) for r in identity_series(df, key="k").collect()}
    assert rows == {(5, 5), (7, 7)}


def test_iterrows_sized_and_indexed(spark):
    from epic_pandas_spark.keyed import iterrows

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    it = iterrows(df.repartition(2))
    assert len(it) == 3  # Sized: progress-bar friendly like the reference
    assert sorted(r["v"] for r in it) == ["a", "b", "c"]
    indexed = iterrows(df, key="k", index=True)
    assert sorted((i, r["v"]) for i, r in indexed) == [(1, "a"), (2, "b"), (3, "c")]
    multi = iterrows(df, key=["k", "v"], index=True)
    assert sorted(i for i, _ in multi) == [(1, "a"), (2, "b"), (3, "c")]


def test_stack_indices_zips_levels(spark):
    from epic_pandas_spark.keyed import stack_indices

    a = spark.createDataFrame([(10,), (20,), (30,)], "k long")
    b = spark.createDataFrame([("x", 1), ("y", 2), ("z", 3)], "name string, k long")
    out = stack_indices([(a, "k"), (b, ["name", "k"])])
    assert out.columns == ["k", "name", "k_1"]  # levels in order, dup renamed
    rows = sorted((r["k"], r["name"], r["k_1"]) for r in out.collect())
    assert rows == [(10, "x", 1), (20, "y", 2), (30, "z", 3)]


def test_stack_indices_length_mismatch_raises(spark):
    from epic_pandas_spark.keyed import stack_indices

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(1,)], "j long")
    with pytest.raises(ValueError, match="same length"):
        stack_indices([(a, "k"), (b, "j")])


def test_even_slices_balanced(spark):
    from epic_pandas_spark.operators import even_slices

    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    out = even_slices(df, 3, order_by=["k"]).groupBy("slice_id").count().collect()
    sizes = sorted(r["count"] for r in out)
    assert sizes == [3, 3, 4]


def test_even_slices_sharded_matches_global_per_shard(spark):
    """partition_by slices each shard independently, identically to
    running the global form on that shard alone — the scale path must be
    a pure re-partitioning of the semantic spec."""
    from epic_pandas_spark.operators import even_slices

    df = spark.createDataFrame(
        [(i, i % 2) for i in range(11)], "k long, shard long"
    )
    sharded = {
        (r["shard"], r["k"]): r["slice_id"]
        for r in even_slices(df, 3, order_by=["k"], partition_by=["shard"]).collect()
    }
    for s in (0, 1):
        solo = {
            (s, r["k"]): r["slice_id"]
            for r in even_slices(
                df.filter(F.col("shard") == s), 3, order_by=["k"]
            ).collect()
        }
        assert {k: v for k, v in sharded.items() if k[0] == s} == solo


def test_pack_sequences_sharded_matches_global_per_shard(spark):
    """pack_sequences(partition_by=shard) must equal packing each shard
    with the global (partition_by=None) semantic spec independently."""
    from epic_pandas_spark.operators import pack_sequences

    rows = [(i, i % 3, (i * 37) % 100 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, shard long, n long")
    sharded = {
        r["doc_id"]: r["bin_id"]
        for r in pack_sequences(
            df, "n", 100, order_by=["doc_id"], partition_by=["shard"]
        ).collect()
    }
    expect = {}
    for s in (0, 1, 2):
        for r in pack_sequences(
            df.filter(F.col("shard") == s), "n", 100, order_by=["doc_id"]
        ).collect():
            expect[r["doc_id"]] = r["bin_id"]
    assert sharded == expect


def test_pack_sequences_greedy_bins(spark):
    """Golden check of the running-total bin math: budget 10, token runs
    4+4 fill bin 0, the 5 that crosses starts at total 8 -> bin 0 (greedy
    contiguous: a row belongs to the bin its PRECEDING total falls in)."""
    from epic_pandas_spark.operators import pack_sequences

    df = spark.createDataFrame(
        [(0, 4), (1, 4), (2, 5), (3, 9), (4, 1)], "doc_id long, n long"
    )
    got = [
        (r["doc_id"], r["bin_id"])
        for r in pack_sequences(df, "n", 10, order_by=["doc_id"]).orderBy("doc_id").collect()
    ]
    # preceding totals: 0, 4, 8, 13, 22 -> bins 0, 0, 0, 1, 2
    assert got == [(0, 0), (1, 0), (2, 0), (3, 1), (4, 2)]


def test_estimate_size_bytes_positive(spark):
    from epic_pandas_spark.operators import estimate_size_bytes
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    assert estimate_size_bytes(li) > 0
    # measured Arrow size: positive, and a long column of n rows must
    # serialize to at least 8n bytes
    n = li.count()
    measured = estimate_size_bytes(li.select("l_orderkey"), method="arrow")
    assert measured >= 8 * n
    with pytest.raises(ValueError, match="method"):
        estimate_size_bytes(li, method="exact")


def test_value_counts_keeps_nulls_when_asked(spark):
    from epic_pandas_spark.operators import value_counts

    df = spark.createDataFrame([("a",), ("a",), (None,)], "v string")
    with_nulls = value_counts(df, "v", dropna=False).collect()
    assert {r["value"]: r["count"] for r in with_nulls} == {"a": 2, None: 1}
    without = value_counts(df, "v", dropna=True).collect()
    assert {r["value"]: r["count"] for r in without} == {"a": 2}


def test_drop_null_array_elements(spark):
    from epic_pandas_spark.operators.nulls import drop_null_array_elements

    df = spark.createDataFrame([([1.0, None, float("nan"), 2.0],)], "arr array<double>")
    out = drop_null_array_elements(df, "arr").first()["arr"]
    assert out == [1.0, 2.0]


def test_upsert_without_broadcast_hint(spark):
    orig = spark.createDataFrame([(1, "a")], "k long, v string")
    new = spark.createDataFrame([(1, "A"), (2, "B")], "k long, v string")
    out = {r["k"]: r["v"] for r in upsert(orig, new, key="k", broadcast_new=False).collect()}
    assert out == {1: "A", 2: "B"}


def test_coo_is_square_true_case(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 2.0)], "row_key string, col_key string, value double"
    )
    assert coo_is_square(df).first()["is_square"] is True


def _random_sparse(rng, shape, density=0.4):
    """(dense ndarray, COO row list) pair — dense is the test oracle (the
    csr_matrix arithmetic the reference inherits; no scipy in-container)."""
    import numpy as np

    dense = rng.standard_normal(shape) * (rng.random(shape) < density)
    rows = [
        (int(r), int(c), float(dense[r, c]))
        for r in range(shape[0])
        for c in range(shape[1])
        if dense[r, c] != 0
    ]
    return dense, rows


def test_spmm_matches_dense_matmul(spark):
    """spmm must reproduce dense @ on the nonzero support — the exact
    arithmetic the reference's SparseDataFrame inherits (sparse.py:22)."""
    import numpy as np

    from epic_pandas_spark.operators.sparse import spmm

    rng = np.random.default_rng(7)
    a_dense, a_rows = _random_sparse(rng, (8, 6))
    b_dense, b_rows = _random_sparse(rng, (6, 5))
    schema = "row_key long, col_key long, value double"
    da = spark.createDataFrame(a_rows, schema)
    db = spark.createDataFrame(b_rows, schema)
    expect = a_dense @ b_dense
    got = {
        (r["row_key"], r["col_key"]): r["value"]
        for r in spmm(da, db, broadcast_right=True).collect()
        if abs(r["value"]) > 1e-12
    }
    expected = {
        (r, c): float(expect[r, c])
        for r in range(8)
        for c in range(5)
        if abs(expect[r, c]) > 1e-12
    }
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-9


def test_coo_elementwise_matches_dense(spark):
    import numpy as np

    from epic_pandas_spark.operators.sparse import coo_elementwise

    rng = np.random.default_rng(3)
    a_dense, a_rows = _random_sparse(rng, (6, 6))
    b_dense, b_rows = _random_sparse(rng, (6, 6))
    schema = "row_key long, col_key long, value double"
    da = spark.createDataFrame(a_rows, schema)
    db = spark.createDataFrame(b_rows, schema)
    for op, expect in (
        ("add", a_dense + b_dense),
        ("sub", a_dense - b_dense),
        ("multiply", a_dense * b_dense),
    ):
        got = {
            (r["row_key"], r["col_key"]): r["value"]
            for r in coo_elementwise(da, db, op=op).collect()
            if abs(r["value"]) > 1e-12
        }
        expected = {
            (r, c): float(expect[r, c])
            for r in range(6)
            for c in range(6)
            if abs(expect[r, c]) > 1e-12
        }
        assert set(got) == set(expected), op
        for k in expected:
            assert abs(got[k] - expected[k]) < 1e-9, op


def test_char_ngrams_expr(spark):
    from epic_pandas_spark.functions.text import ngrams_expr

    df = spark.createDataFrame([("abcd",)], "t string")
    grams = df.select(ngrams_expr(F.col("t"), 3).alias("g")).first()["g"]
    assert grams == ["abc", "bcd"]


def test_word_ngrams_short_doc_empty(spark):
    from epic_pandas_spark.functions.text import word_ngrams_expr

    df = spark.createDataFrame([("one two",), ("a b c d",)], "t string")
    rows = [r["g"] for r in df.select(word_ngrams_expr(F.col("t"), 3).alias("g")).collect()]
    assert rows[0] == []
    assert rows[1] == ["a b c", "b c d"]


def test_column_stats_strategies_agree(spark):
    from epic_pandas_spark.operators import column_stats
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    cust = load_table(spark, SF_DIR, "customer")
    cols = ["c_mktsegment", "c_nationkey"]
    a = {r["column"]: tuple(r) for r in column_stats(cust, cols, strategy="melt").collect()}
    b = {r["column"]: tuple(r) for r in column_stats(cust, cols, strategy="per-column").collect()}
    assert a == b


def test_column_stats_counts_nulls(spark):
    from epic_pandas_spark.operators import column_stats

    df = spark.createDataFrame([("a",), ("a",), (None,), ("b",)], "v string")
    row = column_stats(df, ["v"]).first()
    assert row["n_unique"] == 2 and row["n_null"] == 1
    assert row["top_value"] == "a" and row["top_count"] == 2 and row["second_value"] == "b"


def test_quantiles_auto_routing_and_parity(spark, monkeypatch):
    """operators.stats.quantiles: mode='exact' equals pandas/DuckDB
    linear interpolation; auto routes exact under the plan-stat
    crossover and sketch above it; the sketch twin stays within the GK
    rank bound; grouped routing carries the group column."""
    import numpy as np

    from epic_pandas_spark.operators import stats
    from epic_pandas_spark.operators.stats import quantiles
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    vals = np.array([r["l_extendedprice"] for r in li.select("l_extendedprice").collect()])

    exact = quantiles(li, "l_extendedprice", [0.25, 0.75], mode="exact").first()
    assert abs(exact["q0_25"] - np.quantile(vals, 0.25)) < 1e-6
    assert abs(exact["q0_75"] - np.quantile(vals, 0.75)) < 1e-6

    # sf0.001 scan is far below the 8 MiB crossover -> auto == exact
    auto = quantiles(li, "l_extendedprice", [0.25, 0.75], mode="auto").first()
    assert auto == exact
    # force the sketch route with a tiny crossover -> GK bound holds
    with monkeypatch.context() as m:
        m.setattr(stats, "_QUANTILES_EXACT_MAX_BYTES", 1)
        approx = quantiles(li, "l_extendedprice", [0.25, 0.75], mode="auto").first()
    assert abs(approx["q0_25"] - exact["q0_25"]) / exact["q0_25"] < 0.01

    grouped = quantiles(
        li, "l_extendedprice", [0.5], by=["l_returnflag"], names=["med"]
    )
    got = {r["l_returnflag"]: r["med"] for r in grouped.collect()}
    assert set(got) == {"N", "A", "R"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode"):
        quantiles(li, "l_extendedprice", [0.5], mode="bogus")
    with _pytest.raises(ValueError, match="names"):
        quantiles(li, "l_extendedprice", [0.5], names=["a", "b"])


def test_grouped_hist_quantiles_bound_and_codegen(spark, monkeypatch):
    """mode='hist': per-group estimates honor the sketch guarantee
    (within one bin width of the closed interval between the floor(t)
    and ceil(t) order statistics), degenerate all-equal columns return
    the constant, auto+by routes to hist above the crossover, and the
    data-path aggregate is a codegen HashAggregate — NO
    ObjectHashAggregate (the grouped-GK tax this path exists to
    remove)."""
    import math

    import numpy as np

    from epic_pandas_spark.operators import stats
    from epic_pandas_spark.operators.stats import quantiles
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    n_bins = 2000
    probs = [0.0, 0.5, 0.95, 1.0]
    hist = quantiles(
        li, "l_extendedprice", probs, by=["l_returnflag"], mode="hist",
        accuracy=n_bins, names=["p0", "p50", "p95", "p100"],
    )
    got = {r["l_returnflag"]: r for r in hist.collect()}
    rows = li.select("l_returnflag", "l_extendedprice").collect()
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r["l_returnflag"], []).append(float(r["l_extendedprice"]))
    allv = [v for vs in by_g.values() for v in vs]
    width = (max(allv) - min(allv)) / n_bins
    for g, vs in by_g.items():
        vs.sort()
        for p, name in zip(probs, ["p0", "p50", "p95", "p100"]):
            t = 1 + p * (len(vs) - 1)
            lo_stat = vs[max(0, math.floor(t) - 1)]
            hi_stat = vs[min(len(vs) - 1, math.ceil(t) - 1)]
            est = got[g][name]
            assert lo_stat - width <= est <= hi_stat + width, (g, name, est)

    # degenerate: every value identical -> every prob returns it exactly
    const = spark.createDataFrame([("a", 7.5)] * 9, "g string, v double")
    row = quantiles(const, "v", [0.0, 0.5, 1.0], by=["g"], mode="hist",
                    names=["a", "b", "c"]).first()
    assert (row["a"], row["b"], row["c"]) == (7.5, 7.5, 7.5)

    # auto + by above the crossover routes to hist (not grouped GK)
    monkeypatch.setattr(stats, "_QUANTILES_EXACT_MAX_BYTES", 1)
    routed = quantiles(
        li, "l_extendedprice", [0.5], by=["l_returnflag"], mode="auto",
        names=["med"],
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan
    assert "percentile" not in plan.lower()
    med = {r["l_returnflag"]: r["med"] for r in routed.collect()}
    exact = {
        g: float(np.quantile(np.array(vs), 0.5)) for g, vs in by_g.items()
    }
    for g in exact:
        assert abs(med[g] - exact[g]) / exact[g] < 0.01, g


def test_salted_agg_matches_plain_groupby(spark):
    from epic_pandas_spark.operators.skew import salted_agg
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    salted = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 6))
        for r in salted_agg(
            li, ["l_returnflag"], {"n": ("*", "count"), "qty": ("l_quantity", "sum")}
        ).collect()
    }
    plain = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 6))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    assert salted == plain


def test_asof_join_tolerance_and_unmatched(spark):
    from epic_pandas_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 10:00:00")],
        "k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0)], "k long, ts string, px double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["k"], str(r["ts"])): r["px"]
        for r in asof_join(left, right, key="k", value_cols=["px"]).collect()
    }
    assert out[(1, "2024-01-01 10:00:00")] == 5.0
    assert out[(1, "2024-01-01 12:00:00")] == 5.0  # carried forward
    assert out[(2, "2024-01-01 10:00:00")] is None  # no right rows for key 2

    tight = {
        (r["k"], str(r["ts"])): r["px"]
        for r in asof_join(left, right, key="k", value_cols=["px"], tolerance_seconds=3600).collect()
    }
    assert tight[(1, "2024-01-01 10:00:00")] == 5.0
    assert tight[(1, "2024-01-01 12:00:00")] is None  # older than tolerance


def test_range_join_bucket_pruning_correct(spark):
    from epic_pandas_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [(i, f"2024-01-0{d} 12:00:00") for i, d in enumerate([1, 2, 5])], "i long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(100, "2024-01-01 00:00:00", "2024-01-03 00:00:00")], "iv long, s string, e string"
    ).select("iv", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    out = {r["i"] for r in range_join(left, iv, "ts", "s", "e").collect()}
    assert out == {0, 1}


def test_sample_frac_exact_count(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    assert sample_at_most(df, frac=0.33, seed=3).count() == 3  # round(3.3)
    assert sample_at_most(df, frac=0.5, seed=3).count() == 5
    with pytest.raises(ValueError, match="weights"):
        sample_at_most(df.withColumn("w", F.lit(1.0)), frac=0.5, weights="w")


def test_range_join_left_keeps_unmatched(spark):
    from epic_pandas_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [(0, "2024-01-02 12:00:00"), (1, "2024-02-01 12:00:00")], "i long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", "2024-01-03 00:00:00")], "iv long, s string, e string"
    ).select("iv", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    out = {r["i"]: r["iv"] for r in range_join(left, iv, "ts", "s", "e", how="left").collect()}
    assert out == {0: 7, 1: None}


def test_approx_aggregates_within_tolerance(spark):
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.count_distinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50a"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
    assert abs(row["p50a"] - row["p50"]) / row["p50"] < 0.01


# --- regression tests for code-review fixes --------------------------------

def test_range_join_left_bucket_match_but_no_containment(spark):
    # same daily bucket, interval does NOT contain the row: left row must
    # still appear once, null-filled
    from epic_pandas_spark.operators.temporal import range_join

    left = spark.createDataFrame([(0, "2024-01-01 10:00:00")], "i long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    iv = spark.createDataFrame(
        [(7, "2024-01-01 11:00:00", "2024-01-01 12:00:00")], "iv long, s string, e string"
    ).select("iv", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    rows = range_join(left, iv, "ts", "s", "e", how="left").collect()
    assert len(rows) == 1 and rows[0]["iv"] is None


def test_dense_row_ids_with_nulls(spark):
    from epic_pandas_spark.operators import unique_row_ids

    df = spark.createDataFrame([(1.0,), (None,), (1.0,)], "v double")
    ids = [r["row_id"] for r in unique_row_ids(df, ["v"], strategy="dense").collect()]
    assert None not in ids
    assert len(set(ids)) == 2


def test_stratified_sampling_int_strata(spark):
    df = spark.createDataFrame([(i, i % 2) for i in range(20)], "k long, pop int")
    out = sample_with_distribution(df, "pop", 10, {0: 0.5, 1: 0.5}, seed=1)
    counts = {r["pop"]: r["n"] for r in out.groupBy("pop").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 5, 1: 5}


def test_order_by_key_list_int_keys(spark):
    from epic_pandas_spark.keyed import order_by_key_list

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    out = [r["v"] for r in order_by_key_list(df, [3, 1], key="k").collect()]
    assert out == ["c", "a"]


def test_sample_frames_short_payload_empty(spark):
    from epic_pandas_spark.extensions.multimodal import sample_frames

    df = spark.createDataFrame([(1, bytearray(b"abc"))], "id long, payload binary")
    assert sample_frames(df, "payload", frame_size=100, every_n=1).count() == 0


def test_dropna_array_keeps_strings(spark):
    from epic_pandas_spark.operators.nulls import drop_null_array_elements

    df = spark.createDataFrame([(["a", None, "b"],)], "arr array<string>")
    assert drop_null_array_elements(df, "arr").first()["arr"] == ["a", "b"]


def test_alignable_frame_empty_inputs_true(spark):
    from epic_pandas_spark.keyed import alignable_frame

    empty = spark.createDataFrame([], "k long")
    assert alignable_frame(empty, empty, key="k").first()["alignable"] is True


def test_entropy_char_vs_byte_on_non_ascii(spark):
    from epic_pandas_spark.functions.entropy import entropy_udf, byte_entropy_udf
    import math

    df = spark.createDataFrame([("héllo",)], "t string")
    row = df.select(
        entropy_udf(F.col("t")).alias("chars"), byte_entropy_udf(F.col("t")).alias("bytes")
    ).first()
    # chars h,é,l,l,o -> distribution [2,1,1,1]/5
    expected = 0.4 * math.log2(5 / 2) + 0.6 * math.log2(5)
    assert abs(row["chars"] - expected) < 1e-9
    assert row["bytes"] != row["chars"]  # 'é' is 2 UTF-8 bytes


def test_rolling_agg_min_periods(spark):
    from epic_pandas_spark.operators.windows import rolling_agg

    df = spark.createDataFrame([(i, float(i)) for i in range(5)], "t long, v double")
    out = rolling_agg(df, "v", ["t"], window=3, agg="sum", min_periods=3, out_col="s")
    rows = {r["t"]: r["s"] for r in out.collect()}
    assert rows[0] is None and rows[1] is None  # fewer than min_periods
    assert rows[2] == 3.0 and rows[4] == 9.0


def test_ffill_bfill_interpolate(spark):
    from epic_pandas_spark.operators.windows import ffill, bfill, interpolate_linear

    df = spark.createDataFrame(
        [(0, None), (1, 10.0), (2, None), (3, None), (4, 40.0), (5, None)],
        "t long, v double",
    )
    f = {r["t"]: r["v"] for r in ffill(df, "v", ["t"]).collect()}
    assert f == {0: None, 1: 10.0, 2: 10.0, 3: 10.0, 4: 40.0, 5: 40.0}
    b = {r["t"]: r["v"] for r in bfill(df, "v", ["t"]).collect()}
    assert b == {0: 10.0, 1: 10.0, 2: 40.0, 3: 40.0, 4: 40.0, 5: None}
    i = {r["t"]: r["v"] for r in interpolate_linear(df, "v", ["t"]).collect()}
    assert i[0] is None and i[1] == 10.0
    assert i[2] == 20.0 and i[3] == 30.0  # linear between 10 and 40
    assert i[4] == 40.0 and i[5] == 40.0  # trailing carries forward


def test_split_train_val_properties(spark):
    from epic_pandas_spark.operators.sampling import split_train_val

    df = spark.createDataFrame([(i, i % 97) for i in range(5000)], "k long, g long")
    out = split_train_val(df, 0.25, seed=3)
    frac = out.filter(F.col("split") == "val").count() / 5000
    assert abs(frac - 0.25) < 0.05  # expectation, ~8 sd tolerance
    # deterministic and partitioning-invariant
    a = {(r["k"], r["split"]) for r in out.collect()}
    b = {(r["k"], r["split"]) for r in split_train_val(df.repartition(7), 0.25, seed=3).collect()}
    assert a == b
    # group-aware: every group entirely in one split
    by_group = split_train_val(df, 0.25, by=["g"], seed=3)
    purity = by_group.groupBy("g").agg(F.count_distinct("split").alias("n")).collect()
    assert all(r["n"] == 1 for r in purity)
    with pytest.raises(ValueError, match="val_frac"):
        split_train_val(df, 1.5)


def test_build_vocab_ranks_and_ids(spark):
    from epic_pandas_spark.functions.text import build_vocab

    df = spark.createDataFrame(
        [("b b b a a c",), ("a b  ",), ("",)], "text string"
    )
    rows = build_vocab(df, "text", top_k=2).orderBy("token_id").collect()
    # a:3, b:4, c:1 -> top-2 is b(0), a(1); empty strings never count
    assert [(r["token"], r["count"], r["token_id"]) for r in rows] == [
        ("b", 4, 0),
        ("a", 3, 1),
    ]


def test_coo_frame_operator_surface(spark):
    """CooFrame mirrors the reference SparseDataFrame's csr operator
    syntax: a @ a.T, a + a, a - a, 2 * a, .multiply, .diagonal."""
    import numpy as np

    from epic_pandas_spark.operators.sparse import CooFrame

    dense = np.array([[1.0, 0.0, 2.0], [0.0, 3.0, 0.0], [4.0, 0.0, 5.0]])
    rows = [
        (int(r), int(c), float(dense[r, c]))
        for r in range(3)
        for c in range(3)
        if dense[r, c] != 0
    ]
    a = CooFrame(spark.createDataFrame(rows, "row_key long, col_key long, value double"))

    def as_dense(cf):
        out = np.zeros((3, 3))
        for r in cf.df.collect():
            out[r["row_key"], r["col_key"]] = r["value"]
        return out

    assert np.allclose(as_dense(a @ a.T), dense @ dense.T)
    assert np.allclose(as_dense(a + a), 2 * dense)
    assert np.allclose(as_dense(2 * a), 2 * dense)
    sub = as_dense(a - a)
    assert np.allclose(sub, 0 * dense)
    assert np.allclose(as_dense(a.multiply(a)), dense * dense)
    diag = {r["row_key"]: r["value"] for r in a.diagonal().collect()}
    assert diag == {0: 1.0, 1: 3.0, 2: 5.0}
    with pytest.raises(ValueError, match="missing columns"):
        CooFrame(spark.createDataFrame([(1,)], "x long"))


def test_salted_join_matches_plain_join(spark):
    from epic_pandas_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, v) for k in ["hot"] * 50 + ["a", "b", "c"] for v in [1.0]]
        + [("nokey", 2.0)],
        "k string, v double",
    )
    right = spark.createDataFrame(
        [("hot", 10), ("a", 1), ("b", 2), ("z", 9)], "k string, w int"
    )
    for how in ["inner", "left", "left_semi", "left_anti"]:
        got = salted_join(left, right, "k", how=how, n_salts=4)
        want = left.join(right, "k", how)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), how
    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(left, right, "k", how="right")


def test_hll_sketches_merge_and_bound(spark):
    from pyspark.sql import functions as F
    from epic_pandas_spark.operators.sketches import (
        distinct_sketches,
        rollup_distinct_sketches,
    )

    df = spark.range(20000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 7919).alias("v")
    )
    # merged per-group sketches vs one global sketch: same estimate
    per_g = distinct_sketches(df, ["g"], "v")
    merged = rollup_distinct_sketches(per_g, []).collect()[0][0]
    direct = rollup_distinct_sketches(
        distinct_sketches(df.select(F.lit(0).alias("all"), "v"), ["all"], "v"), []
    ).collect()[0][0]
    assert merged == direct
    # and within the HLL error envelope of the truth
    assert abs(merged - 7919) / 7919 < 0.05
    # low cardinality -> sparse mode is exact
    small = distinct_sketches(df.filter(F.col("v") < 100), ["g"], "v")
    est = {r["g"]: r["d"] for r in rollup_distinct_sketches(small, ["g"], out_col="d").collect()}
    truth = {
        r["g"]: r["d"]
        for r in df.filter(F.col("v") < 100).groupBy("g").agg(F.count_distinct("v").alias("d")).collect()
    }
    assert est == truth


def test_morton_interleave_known_values(spark):
    from pyspark.sql import functions as F
    from epic_pandas_spark.operators.layout import morton_interleave_expr

    df = spark.createDataFrame([(0, 0), (3, 0), (0, 3), (3, 3), (2, 1)], "x int, y int")
    z = df.select(
        "x", "y", morton_interleave_expr([F.col("x"), F.col("y")], bits=2).alias("z")
    ).collect()
    got = {(r["x"], r["y"]): r["z"] for r in z}
    # x bits land at even positions, y at odd: (3,0)->0b0101, (0,3)->0b1010
    assert got == {(0, 0): 0, (3, 0): 5, (0, 3): 10, (3, 3): 15, (2, 1): 6}


def test_zorder_layout_prunes_both_columns(spark, tmp_path):
    from pyspark.sql import functions as F
    from epic_pandas_spark.operators.layout import write_zordered

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(ev, zpath, ["user_id", "event_id"], bits=8, n_files=8)
    # baseline: single-column layout, same file count
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def files_hit(path, col, lo, hi):
        stats = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
            .collect()
        )
        assert len(stats) == 8
        return sum(1 for r in stats if r["mx"] >= lo and r["mn"] <= hi)

    # slabs at the 15-30% percentile band: inside the low half of each
    # dimension, so they don't straddle the curve's top-bit boundary (a
    # mid-range slab touches both halves by construction — the known
    # z-order worst case). The single-column layout can't prune the
    # non-sorted dimension at all; the z layout prunes BOTH.
    lo, hi = ev.agg(
        F.expr("percentile(event_id, array(0.15, 0.3))").alias("p")
    ).first()["p"]
    assert files_hit(spath, "event_id", lo, hi) == 8
    assert files_hit(zpath, "event_id", lo, hi) <= 6
    u = ev.agg(F.expr("percentile(user_id, array(0.15, 0.3))").alias("p")).first()["p"]
    assert files_hit(zpath, "user_id", u[0], u[1]) <= 6


def test_sentence_split_udtf(spark):
    from epic_pandas_spark.parallel import sentence_split_udtf

    spark.udtf.register("sentence_split_t", sentence_split_udtf())
    spark.createDataFrame(
        [(1, "Hello there! How are you? Fine."), (2, "  "), (3, None)],
        "id long, text string",
    ).createOrReplaceTempView("__t")
    rows = spark.sql(
        "SELECT id, s.sent_idx, s.sentence FROM __t, LATERAL sentence_split_t(text) s"
    ).collect()
    got = {(r["id"], r["sent_idx"]): r["sentence"] for r in rows}
    assert got == {
        (1, 0): "Hello there",
        (1, 1): "How are you",
        (1, 2): "Fine",
    }  # blank and NULL docs emit nothing


def test_hll_sketch_store_roundtrip(spark, tmp_path):
    """The sketch-store pattern: persist per-group sketches to parquet,
    read them back in a later 'batch', union with new-batch sketches and
    estimate — without touching the first batch's raw data again."""
    from pyspark.sql import functions as F
    from epic_pandas_spark.operators.sketches import (
        distinct_sketches,
        rollup_distinct_sketches,
    )

    batch1 = spark.range(0, 5000).select((F.col("id") % 997).alias("v"), F.lit("d1").alias("g"))
    batch2 = spark.range(0, 5000).select(((F.col("id") % 997) + 500).alias("v"), F.lit("d1").alias("g"))
    store = str(tmp_path / "sketches")
    distinct_sketches(batch1, ["g"], "v").write.mode("overwrite").parquet(store)
    merged = rollup_distinct_sketches(
        spark.read.parquet(store).unionByName(distinct_sketches(batch2, ["g"], "v")),
        ["g"],
    ).first()
    truth = batch1.select("v").union(batch2.select("v")).distinct().count()  # 1497
    assert abs(merged["approx_distinct"] - truth) / truth < 0.05


def test_cap_per_group_quota_and_determinism(spark):
    from pyspark.sql import functions as F
    from epic_pandas_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(90)], "k long, g string"
    )
    out = cap_per_group(df, ["g"], k=15, seed=3)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 15, "small": 10}  # small group untouched
    # deterministic + partitioning-invariant subset
    a = sorted(r["k"] for r in out.collect())
    b = sorted(r["k"] for r in cap_per_group(df.repartition(7), ["g"], k=15, seed=3).collect())
    assert a == b
    # order_by keeps the TOP rows instead of a random subset
    best = cap_per_group(df, ["g"], k=2, order_by=F.col("k").desc())
    kept = sorted(r["k"] for r in best.filter(F.col("g") == "big").collect())
    assert kept == [78, 79]


def test_negative_samples_contract(spark):
    from pyspark.sql import functions as F
    from epic_pandas_spark.operators.sampling import negative_samples

    df = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "vec_id long, label int"
    )
    negs = negative_samples(df, "vec_id", "label", k=3, pool_size=64, seed=2)
    rows = negs.collect()
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(per_anchor) == set(range(100))
    assert all(len(v) == 3 for v in per_anchor.values())
    # no negative shares its anchor's label; no self-pairs
    for r in rows:
        assert r["neg_label"] != r["anchor_id"] % 5
        assert r["neg_id"] != r["anchor_id"]
    # deterministic and partitioning-invariant
    again = sorted(
        (r["anchor_id"], r["neg_id"])
        for r in negative_samples(
            df.repartition(7), "vec_id", "label", k=3, pool_size=64, seed=2
        ).collect()
    )
    assert again == sorted((r["anchor_id"], r["neg_id"]) for r in rows)


def test_bloom_filter_no_false_negatives_and_fp_bound(spark):
    """Every inserted item must test positive (Bloom guarantees zero
    false negatives); a disjoint probe set must false-positive at no more
    than ~3x the sized fpp (slack for small-sample variance)."""
    from epic_pandas_spark.operators.sketches import (
        bloom_filter_build,
        bloom_might_contain_expr,
    )

    members = spark.range(0, 2000).select(F.col("id").alias("v"))
    words, m, k = bloom_filter_build(members, "v", expected_items=2000, fpp=0.01)
    assert m % 64 == 0 and k >= 1 and len(words) == m // 64
    expr = bloom_might_contain_expr(F.col("v"), words, m, k)
    n_members = members.filter(expr).count()
    assert n_members == 2000  # no false negatives, ever
    probes = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("v"))
    fp_rate = probes.filter(expr).count() / 20_000
    assert fp_rate <= 0.03, f"false-positive rate {fp_rate} far above sized 1%"


def test_bloom_filter_param_validation():
    from epic_pandas_spark.operators.sketches import _bloom_params

    with pytest.raises(ValueError):
        _bloom_params(0, 0.01)
    with pytest.raises(ValueError):
        _bloom_params(100, 1.5)
    m, k = _bloom_params(1000, 0.01)
    assert m >= 9000 and 6 <= k <= 8  # textbook ~9.6 bits/item, k≈6.6


def test_exact_dedup_incremental_bloom_prefilter_equivalence(spark):
    """bloom_fpp must not change RESULTS (no false negatives -> the split
    anti-join is exact); it only changes how many rows reach the join."""
    from epic_pandas_spark.extensions.dedup import exact_dedup_incremental
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    first = docs.filter(F.col("doc_id") < 250)
    second = docs.filter(F.col("doc_id") >= 150)  # overlaps the store
    _, store = exact_dedup_incremental(first, "text", "doc_id")
    store = store.localCheckpoint()
    plain, _ = exact_dedup_incremental(second, "text", "doc_id", store=store)
    bloomed, _ = exact_dedup_incremental(
        second, "text", "doc_id", store=store, bloom_fpp=0.01
    )
    a = {r["doc_id"] for r in plain.collect()}
    b = {r["doc_id"] for r in bloomed.collect()}
    assert a == b and a


def test_histogram_sketches_merge_equals_direct_and_bound(spark):
    """Sketch algebra: fine-key sketches merged to a coarser key must be
    BIT-IDENTICAL to building at the coarse key directly (vector add is
    exact), and any quantile read is within one bin width of the true
    percentile for in-range data."""
    from epic_pandas_spark.operators.sketches import (
        histogram_quantile_expr,
        histogram_sketches,
        merge_histogram_sketches,
    )
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    fine = histogram_sketches(
        li, ["l_returnflag", "l_linestatus"], "l_quantity", lo=0.0, hi=51.0, n_bins=128
    )
    rolled = {
        r["l_returnflag"]: list(r["hist"])
        for r in merge_histogram_sketches(fine, ["l_returnflag"]).collect()
    }
    direct = {
        r["l_returnflag"]: list(r["hist"])
        for r in histogram_sketches(
            li, ["l_returnflag"], "l_quantity", lo=0.0, hi=51.0, n_bins=128
        ).collect()
    }
    assert rolled == direct
    width = 51.0 / 128
    est = {
        r["l_returnflag"]: r["m"]
        for r in histogram_sketches(
            li, ["l_returnflag"], "l_quantity", lo=0.0, hi=51.0, n_bins=128
        ).select(
            "l_returnflag",
            histogram_quantile_expr("hist", 0.5, 0.0, 51.0).alias("m"),
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_quantity, 0.5)").alias("m"))
        .collect()
    }
    for k in exact:
        assert abs(est[k] - exact[k]) <= width, (k, est[k], exact[k])


def test_histogram_sketch_overflow_slots_and_validation(spark):
    from epic_pandas_spark.operators.sketches import histogram_sketches

    df = spark.createDataFrame(
        [(1, -5.0), (1, 0.5), (1, 9.5), (1, 25.0)], "k long, v double"
    )
    (row,) = histogram_sketches(df, ["k"], "v", lo=0.0, hi=10.0, n_bins=10).collect()
    h = list(row["hist"])
    assert len(h) == 12
    assert h[0] == 1          # below-range slot
    assert h[11] == 1         # above-range slot
    assert h[1] == 1 and h[10] == 1 and sum(h) == 4
    with pytest.raises(ValueError):
        histogram_sketches(df, ["k"], "v", lo=5.0, hi=5.0)


def test_ewma_matches_pandas_and_stable_variant(spark):
    """Window-expression EWMA == pandas ewm(adjust=True) == the
    applyInPandas stable variant, per key, in event order."""
    import pandas as pd

    from epic_pandas_spark.operators.temporal import ewma, ewma_stable
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts", "event_id", "value")
    got = {
        (r["user_id"], r["event_id"]): round(r["ewma"], 9)
        for r in ewma(ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.25).collect()
    }
    stable = {
        (r["user_id"], r["event_id"]): round(r["ewma"], 9)
        for r in ewma_stable(ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.25).collect()
    }
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    pdf["want"] = pdf.groupby("user_id")["value"].transform(
        lambda s: s.ewm(alpha=0.25, adjust=True).mean()
    )
    want = {
        (r.user_id, r.event_id): round(r.want, 9)
        for r in pdf.itertuples()
    }
    assert got == want
    assert stable == want


def test_ewma_long_run_guard_and_validation(spark):
    from epic_pandas_spark.operators.temporal import ewma, ewma_stable

    df = spark.range(1200).select(
        F.lit(1).alias("k"), F.col("id").alias("o"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(Exception, match="ewma_stable"):
        ewma(df, ["k"], ["o"], "v").collect()
    # the stable variant handles the same series fine
    n = ewma_stable(df, ["k"], ["o"], "v").count()
    assert n == 1200
    with pytest.raises(ValueError):
        ewma(df, ["k"], ["o"], "v", alpha=1.5)


def test_ewma_alpha_dependent_overflow_cap(spark):
    """The overflow guard must derive from alpha: (1/(1-alpha))^r hits inf
    at r ~ 1023*log2/log(1/(1-alpha)) — alpha=0.9 overflows near r=309,
    far below the default max_run_length=900, so a 400-row run must RAISE
    (not silently return NaN/garbage); below the bound results still match
    pandas."""
    import pandas as pd

    from epic_pandas_spark.operators.temporal import ewma

    long_run = spark.range(400).select(
        F.lit(1).alias("k"), F.col("id").alias("o"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(Exception, match="ewma_stable"):
        ewma(long_run, ["k"], ["o"], "v", alpha=0.9).collect()

    short_run = spark.range(200).select(
        F.lit(1).alias("k"), F.col("id").alias("o"), F.col("id").cast("double").alias("v")
    )
    got = [
        round(r["ewma"], 6)
        for r in ewma(short_run, ["k"], ["o"], "v", alpha=0.9).orderBy("o").collect()
    ]
    want = [
        round(v, 6)
        for v in pd.Series(range(200), dtype="float64").ewm(alpha=0.9, adjust=True).mean()
    ]
    assert got == want


def test_bucket_seconds_auto_derivation_across_scales(spark):
    """bucket_seconds=None must track the data's interval length across 3
    orders of magnitude: the derived width stays within [median/2,
    2*median] (so explode fan-out is bounded by ~3 buckets per typical
    interval) AND the joins stay exact vs brute force at every scale —
    where a fixed 86400 s default would put ALL short intervals into one
    shared bucket (pruning lost) or explode month-long ones 30x."""
    import datetime as dt

    from epic_pandas_spark.operators.temporal import (
        _derive_bucket_seconds,
        interval_overlap_join,
        range_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    for scale_s in (60, 6_000, 600_000):
        # 40 intervals of length ~scale_s, staggered by half-lengths
        rows = [
            (
                i,
                t0 + dt.timedelta(seconds=i * scale_s // 2),
                t0 + dt.timedelta(seconds=i * scale_s // 2 + scale_s),
            )
            for i in range(40)
        ]
        right = spark.createDataFrame(rows, "rid long, start timestamp, end timestamp")
        derived = _derive_bucket_seconds((right, "start", "end"))
        assert scale_s / 2 <= derived <= scale_s * 2, (scale_s, derived)

        pts = [
            (j, t0 + dt.timedelta(seconds=j * scale_s * 7 // 10)) for j in range(25)
        ]
        left = spark.createDataFrame(pts, "pid long, ts timestamp")
        got = {
            (r["pid"], r["rid"])
            for r in range_join(left, right, "ts", "start", "end").collect()
        }
        want = {
            (p, r)
            for p, ts in pts
            for r, s, e in rows
            if s <= ts <= e
        }
        assert got == want, scale_s

        got_ov = sorted(
            (r["l_rid"], r["r_rid2"])
            for r in interval_overlap_join(
                right,
                right.select(
                    F.col("rid").alias("rid2"), "start", "end"
                ),
                "start", "end", "start", "end",
            ).collect()
        )
        want_ov = sorted(
            (a, b)
            for a, sa, ea in rows
            for b, sb, eb in rows
            if sa <= eb and sb <= ea
        )
        assert got_ov == want_ov, scale_s


def test_asof_nearest_per_side_tolerance_matches_pandas(spark):
    """nearest + tolerance: tolerance applies PER SIDE before picking
    (merge_asof semantics). Covers one-side-only candidates, asymmetric
    distances straddling the tolerance, and both-sides-out-of-tolerance."""
    import pandas as pd

    from epic_pandas_spark.operators.temporal import asof_join

    # key 1: backward at dist 3, forward at dist 8 (tol 5 keeps backward only)
    # key 2: backward at dist 8, forward at dist 3 (tol 5 keeps forward only)
    # key 3: both at dist 7 (tol 5 -> null); key 4: forward only at dist 2
    lp = pd.DataFrame({"k": [1, 2, 3, 4], "t": [100, 100, 100, 100]})
    rp = pd.DataFrame(
        {"k": [1, 1, 2, 2, 3, 3, 4], "t": [97, 108, 92, 103, 93, 107, 102]}
    )
    lp["ts"] = pd.to_datetime(lp["t"], unit="s")
    rp["ts"] = pd.to_datetime(rp["t"], unit="s")
    rp["quote"] = rp["t"] * 1.0
    ldf = spark.createDataFrame(lp[["k", "ts"]])
    rdf = spark.createDataFrame(rp[["k", "ts", "quote"]])
    for tol in (5.0, 2.5, None):
        got = {
            r["k"]: r["quote"]
            for r in asof_join(
                ldf, rdf, key="k", ts_col="ts",
                tolerance_seconds=tol, direction="nearest",
            ).collect()
        }
        want_pd = pd.merge_asof(
            lp[["k", "ts"]].sort_values("ts"),
            rp[["k", "ts", "quote"]].sort_values("ts"),
            on="ts", by="k", direction="nearest",
            tolerance=None if tol is None else pd.Timedelta(seconds=tol),
        )
        want = {
            r.k: (None if pd.isna(r.quote) else r.quote) for r in want_pd.itertuples()
        }
        assert got == want, (tol, got, want)


def test_asof_join_directions_match_pandas(spark):
    """backward / forward / nearest (with and without tolerance) must
    reproduce pandas merge_asof row for row, including tie handling at
    equal timestamps and unmatched-side nulls."""
    import pandas as pd

    from epic_pandas_spark.operators.temporal import asof_join

    left_rows = [(1, 10), (1, 25), (1, 30), (1, 55), (2, 5), (2, 40), (3, 7)]
    right_rows = [(1, 10), (1, 20), (1, 42), (2, 30), (2, 50)]
    lp = pd.DataFrame(left_rows, columns=["k", "t"])
    rp = pd.DataFrame(right_rows, columns=["k", "t"])
    lp["ts"] = pd.to_datetime(lp["t"], unit="s")
    rp["ts"] = pd.to_datetime(rp["t"], unit="s")
    rp["quote"] = rp["t"] * 1.5

    ldf = spark.createDataFrame(lp[["k", "ts"]])
    rdf = spark.createDataFrame(rp[["k", "ts", "quote"]])

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 12.0):
            got_df = asof_join(
                ldf, rdf, key="k", ts_col="ts",
                tolerance_seconds=tol, direction=direction,
            )
            got = {
                (r["k"], r["ts"]): r["quote"]
                for r in got_df.collect()
            }
            want_pd = pd.merge_asof(
                lp[["k", "ts"]].sort_values("ts"),
                rp[["k", "ts", "quote"]].sort_values("ts"),
                on="ts", by="k", direction=direction,
                tolerance=None if tol is None else pd.Timedelta(seconds=tol),
            )
            want = {
                (r.k, r.ts.to_pydatetime()): (None if pd.isna(r.quote) else r.quote)
                for r in want_pd.itertuples()
            }
            assert got == want, (direction, tol, got, want)

    with pytest.raises(ValueError, match="direction"):
        asof_join(ldf, rdf, key="k", direction="sideways")


def test_interval_overlap_join_exact_vs_theta(spark):
    """Bucket-grid overlap join == brute-force theta join: pruning loses
    no pair and the first-shared-bucket predicate emits each exactly
    once — including long intervals spanning many buckets, touching
    endpoints, and disjoint keys."""
    import datetime as dt

    from epic_pandas_spark.operators.temporal import interval_overlap_join

    t0 = dt.datetime(2024, 1, 1)

    def mk(rows):
        return [(k, i, t0 + dt.timedelta(hours=s), t0 + dt.timedelta(hours=e)) for k, i, s, e in rows]

    left = spark.createDataFrame(
        mk([(1, 10, 0, 5), (1, 11, 10, 11), (1, 12, 3, 100), (2, 20, 0, 1), (3, 30, 0, 2)]),
        "k long, lid long, start timestamp, end timestamp",
    )
    right = spark.createDataFrame(
        mk([(1, 50, 4, 6), (1, 51, 11, 12), (1, 52, 50, 60), (2, 60, 1, 2), (4, 70, 0, 9)]),
        "k long, rid long, start timestamp, end timestamp",
    )
    got = {
        (r["k"], r["l_lid"], r["r_rid"])
        for r in interval_overlap_join(
            left, right, "start", "end", "start", "end", on=["k"], bucket_seconds=3600
        ).collect()
    }
    lp, rp = left.collect(), right.collect()
    want = {
        (l["k"], l["lid"], r["rid"])
        for l in lp
        for r in rp
        if l["k"] == r["k"] and l["start"] <= r["end"] and r["start"] <= l["end"]
    }
    assert got == want
    assert (1, 10, 50) in want and (1, 12, 52) in want  # touching + long-span
    # multiplicity: collect() as list must have no duplicates either
    rows = interval_overlap_join(
        left, right, "start", "end", "start", "end", on=["k"], bucket_seconds=3600
    ).collect()
    assert len(rows) == len(want)


def test_asof_join_composite_key(spark):
    """`key` accepts a list (pandas merge_asof `by=[...]`): matches must
    respect the full composite key, not any single column."""
    import datetime as dt

    from epic_pandas_spark.operators.temporal import asof_join

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "a", t(5)), (1, "b", t(5)), (2, "a", t(5))],
        "k1 long, k2 string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, "a", t(4), 10.0), (1, "b", t(3), 20.0), (2, "b", t(1), 99.0)],
        "k1 long, k2 string, ts timestamp, px double",
    )
    got = {
        (r["k1"], r["k2"]): r["px"]
        for r in asof_join(left, right, key=["k1", "k2"], value_cols=["px"]).collect()
    }
    assert got == {(1, "a"): 10.0, (1, "b"): 20.0, (2, "a"): None}


def test_rolling_time_agg_density_follows_time_not_rows(spark):
    """The range frame must include exactly the rows within the trailing
    time window regardless of row density — verified against a brute
    per-row recomputation."""
    import datetime as dt

    from epic_pandas_spark.operators.windows import rolling_time_agg

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(seconds=30), 2.0),
        (1, t0 + dt.timedelta(seconds=59), 4.0),    # dense burst
        (1, t0 + dt.timedelta(seconds=200), 8.0),   # gap > window
        (2, t0 + dt.timedelta(seconds=10), 16.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    got = {
        (r["k"], r["ts"]): r["s"]
        for r in rolling_time_agg(
            df, "v", "ts", 60, partition_by=["k"], agg="sum", out_col="s"
        ).collect()
    }
    want = {}
    for k, ts, v in rows:
        want[(k, ts)] = sum(
            v2 for k2, ts2, v2 in rows
            if k2 == k and ts - dt.timedelta(seconds=60) <= ts2 <= ts
        )
    assert got == want
    with pytest.raises(ValueError):
        rolling_time_agg(df, "v", "ts", 0)
    with pytest.raises(ValueError):
        rolling_time_agg(df, "v", "ts", 60, agg="median")


def test_cms_never_undercounts_and_merge_is_exact(spark):
    """The two DETERMINISTIC Count-Min properties (operators.sketches):
    point estimates are >= the true count for every key (each insert
    lands in every depth row), and sketch(A)+sketch(B) == sketch(A∪B)
    counter-for-counter (inserts are commutative adds)."""
    from pyspark.sql import functions as F

    from epic_pandas_spark.operators.sketches import (
        cms_estimate_expr,
        cms_sketches,
    )

    rows = [(i % 37,) for i in range(2000)] + [(999,)] * 500
    df = spark.createDataFrame(rows, "v long")
    W, D = 256, 4
    sk = cms_sketches(df, [], "v", width=W, depth=D)
    exact = {r["v"]: r["n"] for r in df.groupBy("v").agg(F.count("*").alias("n")).collect()}
    ests = (
        df.select("v").distinct()
        .join(F.broadcast(sk))
        .select("v", cms_estimate_expr("cms", "v", width=W, depth=D).alias("est"))
        .collect()
    )
    assert ests, "no estimates produced"
    for r in ests:
        assert r["est"] >= exact[r["v"]], (r["v"], r["est"], exact[r["v"]])

    half_a = spark.createDataFrame(rows[:1000], "v long")
    half_b = spark.createDataFrame(rows[1000:], "v long")
    sa = cms_sketches(half_a, [], "v", width=W, depth=D).collect()[0]["cms"]
    sb = cms_sketches(half_b, [], "v", width=W, depth=D).collect()[0]["cms"]
    whole = sk.collect()[0]["cms"]
    assert [a + b for a, b in zip(sa, sb)] == list(whole)


def test_cms_heavy_hitters_exact_and_prefilter_lossless(spark):
    """cms_heavy_hitters must return EXACTLY the keys with true count >=
    min_count, with exact counts — even at a deliberately tiny width
    where collisions force spurious candidates through the prefilter
    (the verification pass must absorb them, never the reverse)."""
    from pyspark.sql import functions as F

    from epic_pandas_spark.operators.sketches import cms_heavy_hitters

    rows = (
        [(1,)] * 50 + [(2,)] * 49 + [(3,)] * 10
        + [(i,) for i in range(100, 400)]  # long singleton tail
    )
    df = spark.createDataFrame(rows, "k long")
    for width in (8, 1024, None):  # width=8: collisions guaranteed; None: auto
        got = {
            r["value"]: r["n_occurrences"]
            for r in cms_heavy_hitters(df, "k", min_count=49, width=width).collect()
        }
        assert got == {1: 50, 2: 49}, (width, got)
    # caller-supplied n_rows skips the sizing count() job but derives the
    # identical width, so the result is identical to width=None
    got = {
        r["value"]: r["n_occurrences"]
        for r in cms_heavy_hitters(df, "k", min_count=49, n_rows=len(rows)).collect()
    }
    assert got == {1: 50, 2: 49}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, "k", min_count=0)


def test_cms_heavy_hitters_share_threshold(spark):
    """min_share=φ: threshold is ceil(φ·N), width is the constant 4/φ —
    results identical to the equivalent absolute threshold; exactly one
    of min_count/min_share must be given."""
    from epic_pandas_spark.operators.sketches import (
        cms_heavy_hitters,
        derive_cms_width_for_share,
    )

    rows = [(1,)] * 50 + [(2,)] * 49 + [(3,)] * 10 + [(i,) for i in range(100, 400)]
    df = spark.createDataFrame(rows, "k long")
    n = len(rows)  # 409
    phi = 49 / n   # threshold = ceil(phi*409) = 49
    got = {
        r["value"]: r["n_occurrences"]
        for r in cms_heavy_hitters(df, "k", min_share=phi).collect()
    }
    assert got == {1: 50, 2: 49}
    # n_rows short-circuits the sizing count, identical result
    got2 = {
        r["value"]: r["n_occurrences"]
        for r in cms_heavy_hitters(df, "k", min_share=phi, n_rows=n).collect()
    }
    assert got2 == got
    # width is constant in the share, independent of N
    assert derive_cms_width_for_share(0.0005) == 8192
    assert derive_cms_width_for_share(0.5) == 1024          # clamp floor
    assert derive_cms_width_for_share(1e-9) == 1 << 26      # clamp ceiling
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, "k")                           # neither
    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, "k", min_count=5, min_share=0.1)  # both
    with _pytest.raises(ValueError):
        derive_cms_width_for_share(0.0)
    with _pytest.raises(ValueError):
        derive_cms_width_for_share(1.0)


def test_cms_width_derivation_tracks_data_size():
    """Auto width keeps expected per-cell collision mass <= min_count/4
    (width >= 4N/min_count, next pow2) inside the [1024, 2^18] clamp —
    the fixed 1024 default saturates silently against large key sets."""
    from epic_pandas_spark.operators.sketches import derive_cms_width

    assert derive_cms_width(1_000, 40) == 1024              # clamp floor
    assert derive_cms_width(600_000, 40) == 65536           # 4N/m = 60k -> 2^16
    assert derive_cms_width(6_000_000, 40) == 1 << 20       # 4N/m = 600k -> 2^20
    assert derive_cms_width(10**12, 40) == 1 << 26          # clamp ceiling
    for n in (1, 999, 12_345, 777_777):
        w = derive_cms_width(n, 7)
        assert 1024 <= w <= 1 << 26 and (w & (w - 1)) == 0  # pow2 in range


def test_bucket_derivation_outlier_fanout_guard(spark):
    """One pathological multi-year interval in a corpus of minute-scale
    ones must NOT explode into millions of bucket copies: the derived
    width is lower-bounded by max_length/1024, so the outlier replicates
    ~1025x at most — and the join stays exact (coarser buckets only admit
    more candidates into the exact residual)."""
    import datetime as dt

    from epic_pandas_spark.operators.temporal import (
        _derive_bucket_seconds,
        range_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=i * 30), t0 + dt.timedelta(seconds=i * 30 + 60))
        for i in range(40)
    ]
    outlier_len = 10 * 365 * 86_400  # ten years
    rows.append((999, t0, t0 + dt.timedelta(seconds=outlier_len)))
    right = spark.createDataFrame(rows, "rid long, start timestamp, end timestamp")

    derived = _derive_bucket_seconds((right, "start", "end"))
    assert derived >= outlier_len / 1024  # fan-out bound binds
    assert outlier_len / derived <= 1025  # the outlier's replication

    pts = [(j, t0 + dt.timedelta(seconds=j * 45)) for j in range(30)]
    left = spark.createDataFrame(pts, "pid long, ts timestamp")
    got = {
        (r["pid"], r["rid"])
        for r in range_join(left, right, "ts", "start", "end").collect()
    }
    want = {(p, r) for p, ts in pts for r, s, e in rows if s <= ts <= e}
    assert got == want


def test_upsert_null_key_matches_pandas_isin(spark):
    """pandas Index.isin matches NaN to NaN (hash-based), so the reference
    upsert DROPS orig's null-key rows whenever new carries a null key —
    the null-safe anti-join must reproduce that, while a null key on only
    ONE side behaves like any unmatched key."""
    from epic_pandas_spark.operators.upsert import upsert

    orig = spark.createDataFrame(
        [(1, "a"), (None, "old-null"), (3, "c")], "k long, v string"
    )
    new_with_null = spark.createDataFrame(
        [(1, "A"), (None, "new-null")], "k long, v string"
    )
    got = {(r["k"], r["v"]) for r in upsert(orig, new_with_null, key="k").collect()}
    assert got == {(1, "A"), (None, "new-null"), (3, "c")}  # old-null replaced

    new_no_null = spark.createDataFrame([(1, "A")], "k long, v string")
    kept = {(r["k"], r["v"]) for r in upsert(orig, new_no_null, key="k").collect()}
    assert kept == {(1, "A"), (None, "old-null"), (3, "c")}  # null kept


def test_setops_null_key_pandas_parity(spark):
    """pandas index set math matches NaN/None to itself: isin admits null
    against a null member, symmetric_difference cancels a null present on
    both sides, intersection keeps it. The keyed set ops must reproduce
    that (null-safe joins; Spark INTERSECT is null-safe natively)."""
    from epic_pandas_spark.operators.setops import (
        anti_join,
        intersect_keys,
        semi_join,
        symmetric_difference,
    )

    a = spark.createDataFrame([(1,), (None,), (3,)], "k long")
    b = spark.createDataFrame([(None,), (1,)], "k long")

    sd = {r["k"] for r in symmetric_difference(a, b, key="k").collect()}
    assert sd == {3}  # null on both sides cancels

    ik = {r["k"] for r in intersect_keys(a, b, key="k").collect()}
    assert ik == {1, None}

    rows = spark.createDataFrame([(1, "x"), (None, "y"), (3, "z")], "k long, v string")
    semi = {r["v"] for r in semi_join(rows, b, key="k").collect()}
    assert semi == {"x", "y"}  # null admitted by null member

    anti = {r["v"] for r in anti_join(rows, b, key="k").collect()}
    assert anti == {"z"}


def test_reindex_and_lookup_null_label_pandas_parity(spark):
    """pandas reindex/get_indexer resolve a NaN label to the NaN row
    (hash-based index matching) — the keyed twins must too: a null target
    label reindexes to the null-key row's values, and lookup neither
    raises nor drops for a null key present on both sides."""
    from epic_pandas_spark.keyed import lookup, reindex

    df = spark.createDataFrame(
        [(None, "null-row"), (5, "five")], "k long, v string"
    )
    target = spark.createDataFrame([(None,), (5,), (7,)], "k long")
    got = {(r["k"], r["v"]) for r in reindex(df, target, key="k").collect()}
    assert got == {(None, "null-row"), (5, "five"), (7, None)}

    items = spark.createDataFrame([(None,), (5,)], "k long")
    looked = {(r["k"], r["v"]) for r in lookup(df, items, key="k").collect()}
    assert looked == {(None, "null-row"), (5, "five")}  # no KeyError

    import pytest as _pytest

    missing = spark.createDataFrame([(9,)], "k long")
    with _pytest.raises(KeyError):
        lookup(df, missing, key="k")


def test_canonize_frame_and_cols_both_forms(spark):
    """Reference canonize_df_and_cols parity (utils.py:727-757): form (1)
    validates column names and passes through; form (2) demands pairwise
    alignable series, assembles them by aligned join, and returns the
    value-column names; a mixed call raises."""
    import pytest as _pytest

    from epic_pandas_spark.keyed import canonize_frame_and_cols

    df = spark.createDataFrame([(1, 2.0, "x")], "k long, a double, b string")
    out = canonize_frame_and_cols(df, "a", "b")
    assert out[0] is df and out[1:] == ("a", "b")
    with _pytest.raises(ValueError, match="not found"):
        canonize_frame_and_cols(df, "a", "nope")

    s1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double")
    s2 = spark.createDataFrame([(2, 0.2), (1, 0.1)], "k long, y double")
    frame, *names = canonize_frame_and_cols(s1, s2, key="k")
    assert names == ["x", "y"]
    rows = {(r["k"], r["x"], r["y"]) for r in frame.collect()}
    assert rows == {(1, 10.0, 0.1), (2, 20.0, 0.2)}

    s3 = spark.createDataFrame([(9, 1.0)], "k long, z double")
    with _pytest.raises(ValueError, match="inconsistent"):
        canonize_frame_and_cols(s1, s3, key="k")
    with _pytest.raises(TypeError):
        canonize_frame_and_cols(s1, s2, "x", key="k")  # frames + name mixed


def test_canonize_renames_only_colliding_names(spark):
    """Name collisions suffix ONLY the duplicates (x,x,y -> x_0,x_1,y) —
    a Spark necessity (assemble_frame is dict-keyed), not pd.concat
    behavior; non-colliding names pass through verbatim."""
    from epic_pandas_spark.keyed import canonize_frame_and_cols

    sx1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double")
    sx2 = spark.createDataFrame([(1, 11.0), (2, 21.0)], "k long, x double")
    sy = spark.createDataFrame([(1, 0.1), (2, 0.2)], "k long, y double")
    frame, *names = canonize_frame_and_cols(sx1, sx2, sy, key="k")
    assert names == ["x_0", "x_1", "y"]
    rows = {(r["k"], r["x_0"], r["x_1"], r["y"]) for r in frame.collect()}
    assert rows == {(1, 10.0, 11.0, 0.1), (2, 20.0, 21.0, 0.2)}


def test_null_key_uniqueness_and_alignment_pandas_parity(spark):
    """pandas Index hash semantics on NaN labels (the round-4 verdict's
    one parity miss): a single NaN label is a valid UNIQUE label
    (pd.Index([1, nan]).is_unique is True), so two frames sharing one
    null key align — while a duplicated NaN label breaks uniqueness and
    alignability exactly like any duplicated label."""
    import pandas as pd
    import numpy as np

    from epic_pandas_spark.keyed import (
        alignable,
        alignable_frame,
        canonize_frame_and_cols,
        is_key_unique,
    )

    # pin the pandas behavior this mirrors
    assert pd.Index([1.0, np.nan]).is_unique
    assert not pd.Index([np.nan, np.nan]).is_unique
    assert pd.Index([1.0, np.nan]).equals(pd.Index([1.0, np.nan]))

    a = spark.createDataFrame([(1.0, "a"), (None, "n")], "k double, v string")
    b = spark.createDataFrame([(None, "N"), (1.0, "A")], "k double, v string")
    dup_null = spark.createDataFrame(
        [(None, "x"), (None, "y")], "k double, v string"
    )
    no_null = spark.createDataFrame([(1.0, "a"), (2.0, "b")], "k double, v string")

    assert is_key_unique(a, "k")  # one null key is a unique label
    assert not is_key_unique(dup_null, "k")
    assert alignable(a, b, key="k")  # NaN label aligns with NaN label
    assert not alignable(a, no_null, key="k")  # {1, NaN} != {1, 2}
    assert not alignable(a, dup_null, key="k")
    assert alignable_frame(a, b, key="k").first()["alignable"] is True

    # end-to-end: canonize assembles across the null key
    s1 = a.select("k", F.col("v").alias("x"))
    s2 = b.select("k", F.col("v").alias("y"))
    frame, *names = canonize_frame_and_cols(s1, s2, key="k")
    rows = {(r["k"], r["x"], r["y"]) for r in frame.collect()}
    assert rows == {(1.0, "a", "A"), (None, "n", "N")}


def test_zip_with_index_arrow_contiguous_many_partitions(spark):
    """zip_with_index stays contiguous 0..n-1 across many partitions and
    its plan is Arrow-side (ArrowEvalPython-free scan + one mapInArrow;
    no BatchEvalPython, no RDD round-trip — the static contract in
    test_plan_contracts covers the source level)."""
    from epic_pandas_spark.keyed import zip_with_index

    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2).repartition(7)
    out = zip_with_index(df, name="pos")
    rows = out.collect()
    assert sorted(r["pos"] for r in rows) == list(range(1000))
    # ids are contiguous per partition in partition order: every row's
    # pos is unique and the full set is exactly 0..n-1 (asserted above);
    # also the original columns survive untouched
    assert {r["id"] * 2 == r["v"] for r in rows} == {True}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_zip_with_index_pins_layout_behind_exchanges(spark):
    """A plan containing an exchange (groupBy) is localCheckpoint-pinned
    before the two-job count+stamp, so AQE re-planning between the jobs
    can't produce duplicate or missing ids. Ids must still be exactly
    0..n-1 with values intact."""
    from epic_pandas_spark.keyed import zip_with_index

    df = (
        spark.range(0, 2000)
        .withColumn("g", F.col("id") % 97)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    )
    out = zip_with_index(df, name="pos")
    rows = out.collect()
    assert sorted(r["pos"] for r in rows) == list(range(97))
    assert sum(r["s"] for r in rows) == sum(range(2000))


def test_hist_quantiles_per_group_bins(spark):
    """bins='per_group': a narrow-range group keeps full resolution when
    another group stretches the global range 1000x — its error bound is
    ITS range/n_bins, which shared global edges cannot deliver; an
    all-equal group returns its constant exactly (per-group span 0)."""
    import numpy as np

    from epic_pandas_spark.operators.stats import quantiles

    rng = np.random.default_rng(11)
    narrow = [("narrow", float(x)) for x in rng.uniform(0.0, 1.0, 4000)]
    wide = [("wide", float(x)) for x in rng.uniform(0.0, 1000.0, 4000)]
    const = [("const", 3.25)] * 50
    df = spark.createDataFrame(narrow + wide + const, "g string, v double")
    n_bins = 200
    out = {
        r["g"]: r
        for r in quantiles(
            df, "v", [0.5, 0.9], by=["g"], mode="hist", accuracy=n_bins,
            names=["q50", "q90"], bins="per_group",
        ).collect()
    }
    for g, vals in (("narrow", [x for _, x in narrow]),
                    ("wide", [x for _, x in wide])):
        vals = sorted(vals)
        width = (vals[-1] - vals[0]) / n_bins
        for p, name in ((0.5, "q50"), (0.9, "q90")):
            t = 1 + p * (len(vals) - 1)
            lo_s = vals[max(0, int(np.floor(t)) - 1)]
            hi_s = vals[min(len(vals) - 1, int(np.ceil(t)) - 1)]
            assert lo_s - width <= out[g][name] <= hi_s + width, (g, name)
    # narrow group's bound under per-group edges is 0.005 (its range/200),
    # 1000x tighter than the global-edge bound of ~5
    assert abs(out["narrow"]["q50"] - 0.5) < 0.05
    assert (out["const"]["q50"], out["const"]["q90"]) == (3.25, 3.25)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins"):
        quantiles(df, "v", [0.5], by=["g"], mode="hist", bins="nope")


def test_kmv_sketch_exact_small_sets(spark):
    """Below k the sketch IS the distinct hash set: jaccard and distinct
    estimates are exact."""
    from epic_pandas_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_jaccard,
        kmv_sketch,
    )

    a = spark.createDataFrame([(x,) for x in "abcdef"], "v string")
    b = spark.createDataFrame([(x,) for x in "defghi"], "v string")
    sa, sb = kmv_sketch(a, "v", k=100), kmv_sketch(b, "v", k=100)
    r = kmv_jaccard(sa, sb, 100).collect()[0]
    assert (r["k_used"], r["n_a"], r["n_b"], r["n_common"]) == (9, 6, 6, 3)
    assert r["jaccard_est"] == pytest.approx(3 / 9)
    assert r["containment_a_est"] == pytest.approx(3 / 6)
    assert r["containment_b_est"] == pytest.approx(3 / 6)
    d = kmv_distinct_estimate(sa, 100).collect()[0]
    assert (d["k_used"], d["n_distinct_est"]) == (6, 6.0)


def test_kmv_jaccard_estimate_accuracy_and_merge(spark):
    """Above k: estimate within a few standard errors of truth
    (sigma ~ sqrt(J(1-J)/k)); merging a sketch with itself is a no-op."""
    from epic_pandas_spark.operators.sketches import kmv_jaccard, kmv_merge, kmv_sketch

    n = 4000
    a = spark.range(n).selectExpr("concat('item', id) v")
    b = spark.range(n // 2, n + n // 2).selectExpr("concat('item', id) v")
    # |A ∩ B| = n/2, |A ∪ B| = 3n/2 -> J = 1/3
    k = 512
    sa, sb = kmv_sketch(a, "v", k=k), kmv_sketch(b, "v", k=k)
    j = kmv_jaccard(sa, sb, k).collect()[0]["jaccard_est"]
    assert abs(j - 1 / 3) < 4 * (1 / 3 * 2 / 3 / k) ** 0.5
    merged = kmv_merge(sa, sa, k)
    assert sorted(r["h"] for r in merged.collect()) == sorted(r["h"] for r in sa.collect())


def test_kmv_distinct_estimate_accuracy(spark):
    from epic_pandas_spark.operators.sketches import kmv_distinct_estimate, kmv_sketch

    n, k = 20000, 1024
    df = spark.range(n).selectExpr("concat('doc', id) v")
    est = kmv_distinct_estimate(kmv_sketch(df, "v", k=k), k).collect()[0]
    assert est["k_used"] == k
    # KMV relative error ~ 1/sqrt(k-2) ≈ 3.1%; allow 4 sigma
    assert abs(est["n_distinct_est"] - n) / n < 4 / (k - 2) ** 0.5


def test_kmv_set_cardinalities_exact_small_sets(spark):
    """Below k the union sketch IS the union's distinct set, so every
    set-operation cardinality is exact counting."""
    from epic_pandas_spark.operators.sketches import (
        kmv_set_cardinalities,
        kmv_sketch,
    )

    a = spark.createDataFrame([(x,) for x in "abcdef"], "v string")
    b = spark.createDataFrame([(x,) for x in "defghi"], "v string")
    sa, sb = kmv_sketch(a, "v", k=100), kmv_sketch(b, "v", k=100)
    r = kmv_set_cardinalities(sa, sb, 100).collect()[0]
    assert (r["k_used"], r["n_a"], r["n_b"], r["n_common"]) == (9, 6, 6, 3)
    assert r["union_est"] == pytest.approx(9.0)
    assert r["intersection_est"] == pytest.approx(3.0)
    assert r["a_minus_b_est"] == pytest.approx(3.0)
    assert r["b_minus_a_est"] == pytest.approx(3.0)


def test_kmv_set_cardinalities_estimate_accuracy(spark):
    """Above k: union estimate within KMV error (~1/sqrt(k-2)); the
    intersection/difference estimates within the compounded Jaccard +
    union bands; the four estimates are mutually consistent by
    construction (inclusion-exclusion holds exactly)."""
    from epic_pandas_spark.operators.sketches import (
        kmv_set_cardinalities,
        kmv_sketch,
    )

    n, k = 4000, 512
    a = spark.range(n).selectExpr("concat('item', id) v")
    b = spark.range(n // 2, n + n // 2).selectExpr("concat('item', id) v")
    # |A|=|B|=n, |A∩B|=n/2, |A∪B|=3n/2, |A\\B|=|B\\A|=n/2
    r = kmv_set_cardinalities(kmv_sketch(a, "v", k=k), kmv_sketch(b, "v", k=k), k)
    row = r.collect()[0]
    union_true, inter_true, diff_true = 1.5 * n, 0.5 * n, 0.5 * n
    assert abs(row["union_est"] - union_true) / union_true < 4 / (k - 2) ** 0.5
    # Jaccard sigma sqrt(J(1-J)/k) with J=1/3, scaled by the union —
    # allow the compounded 4-sigma band plus the union's own error
    band = 4 * ((1 / 3 * 2 / 3 / k) ** 0.5 * union_true + union_true / (k - 2) ** 0.5)
    assert abs(row["intersection_est"] - inter_true) < band
    assert abs(row["a_minus_b_est"] - diff_true) < band
    assert abs(row["b_minus_a_est"] - diff_true) < band
    # inclusion-exclusion is exact on the estimates (same union_est factor)
    assert row["intersection_est"] + row["a_minus_b_est"] + row["b_minus_a_est"] == (
        pytest.approx(row["union_est"] * (row["n_common"] + (row["n_a"] - row["n_common"]) + (row["n_b"] - row["n_common"])) / row["k_used"])
    )


def test_kmv_set_cardinalities_rejects_bad_k(spark):
    from epic_pandas_spark.operators.sketches import (
        kmv_set_cardinalities,
        kmv_sketch,
    )

    a = spark.createDataFrame([("x",)], "v string")
    s = kmv_sketch(a, "v", k=4)
    with pytest.raises(ValueError, match="k must be >= 1"):
        kmv_set_cardinalities(s, s, 0)


def test_kmv_store_rollup_associativity(spark):
    """The KMV store's semilattice law: rolling up per-group sketches
    (any grouping, any order) equals sketching the union directly —
    bottom_k(A ∪ B ∪ C) == bottom_k(bottom_k(A) ∪ bottom_k(bottom_k(B)
    ∪ bottom_k(C))); and kmv_sketches per group == kmv_sketch run on
    each group's slice."""
    from epic_pandas_spark.operators.sketches import (
        kmv_rollup,
        kmv_sketch,
        kmv_sketches,
    )

    k = 64
    df = spark.range(3000).selectExpr(
        "concat('v', id) v", "cast(id % 3 as int) g"
    )
    store = kmv_sketches(df, ["g"], "v", k=k)
    # per-group sketch == ungrouped sketch of the slice
    for g in (0, 1, 2):
        a = sorted(r["h"] for r in store.filter(F.col("g") == g).collect())
        b = sorted(r["h"] for r in kmv_sketch(df.filter(F.col("g") == g), "v", k=k).collect())
        assert a == b, g
    # global rollup == direct global sketch
    direct = sorted(r["h"] for r in kmv_sketch(df, "v", k=k).collect())
    rolled = sorted(r["h"] for r in kmv_rollup(store, [], k).collect())
    assert rolled == direct
    # associativity: roll {0,1} first, then add {2} — same result
    part01 = kmv_rollup(store.filter(F.col("g") != 2), [], k)
    part2 = store.filter(F.col("g") == 2).select("h")
    two_step = sorted(
        r["h"]
        for r in kmv_rollup(part01.unionByName(part2), [], k).collect()
    )
    assert two_step == direct
    # rollup to a coarser (non-empty) key set: parity groups
    df2 = df.withColumn("coarse", (F.col("g") % 2).cast("int"))
    store2 = kmv_sketches(df2, ["coarse", "g"], "v", k=k)
    rolled2 = kmv_rollup(store2.withColumnRenamed("coarse", "coarse"), ["coarse"], k)
    for c in (0, 1):
        want = sorted(
            r["h"] for r in kmv_sketch(df2.filter(F.col("coarse") == c), "v", k=k).collect()
        )
        got = sorted(r["h"] for r in rolled2.filter(F.col("coarse") == c).collect())
        assert got == want, c


def test_kmv_jaccard_matrix_matches_pairwise(spark):
    """The all-pairs matrix must equal kmv_jaccard run on each sketch
    pair individually (same estimator, same integers)."""
    from epic_pandas_spark.operators.sketches import (
        kmv_jaccard,
        kmv_jaccard_matrix,
        kmv_sketch,
        kmv_sketches,
    )

    k = 128
    n = 3000
    # three overlapping corpora: g0 = [0, n), g1 = [n/2, 3n/2), g2 = [n, 2n)
    base = spark.range(2 * n).selectExpr("concat('item', id) v", "id")
    df = (
        base.selectExpr("v", "'g0' g").filter(F.col("id") < n).select("v", "g")
        .unionByName(base.filter((F.col("id") >= n // 2) & (F.col("id") < 3 * n // 2)).selectExpr("v", "'g1' g"))
        .unionByName(base.filter(F.col("id") >= n).selectExpr("v", "'g2' g"))
    )
    store = kmv_sketches(df, ["g"], "v", k=k)
    got = {
        (r["g_a"], r["g_b"]): (r["k_used"], r["n_a"], r["n_b"], r["n_common"],
                               r["jaccard_est"])
        for r in kmv_jaccard_matrix(store, ["g"], k).collect()
    }
    assert set(got) == {("g0", "g1"), ("g0", "g2"), ("g1", "g2")}
    for ga, gb in got:
        sa = store.filter(F.col("g") == ga).select("h")
        sb = store.filter(F.col("g") == gb).select("h")
        r = kmv_jaccard(sa, sb, k).collect()[0]
        assert got[(ga, gb)] == (
            r["k_used"], r["n_a"], r["n_b"], r["n_common"], r["jaccard_est"]
        ), (ga, gb)
    # sanity: disjoint pair near 0, true J=1/3 pairs in the right band
    assert got[("g0", "g2")][4] < 0.05
    assert abs(got[("g0", "g1")][4] - 1 / 3) < 4 * (1 / 3 * 2 / 3 / k) ** 0.5


def test_kmv_distinct_estimate_zero_hash_guard(spark):
    """A degenerate sketch whose max hash normalizes to 0 must yield a
    finite (floor-clamped) estimate, never a division by zero / null —
    regression for the hash_bits != 64 branch."""
    from epic_pandas_spark.operators.sketches import kmv_distinct_estimate

    sk = spark.createDataFrame([(0,), (0,)], "h long").distinct()
    r = kmv_distinct_estimate(sk, k=1, hash_bits=16).collect()[0]
    assert r["n_distinct_est"] is not None
    import math as _math
    assert _math.isfinite(r["n_distinct_est"])
    # u clamps to 1/2^16, so (k_used - 1)/u = 0 here (k_used=1 < ... no:
    # k_used == k == 1 -> estimate path = (1-1)/u = 0.0, finite)
    assert r["n_distinct_est"] == 0.0


def test_kmv_sketch_validation_and_nulls(spark):
    from epic_pandas_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame([("a",), (None,), ("b",), ("a",)], "v string")
    sk = kmv_sketch(df, "v", k=10)
    assert sk.count() == 2  # null dropped, duplicates collapsed
    with pytest.raises(ValueError):
        kmv_sketch(df, "v", k=0)


def test_global_cumsum_matches_local(spark):
    """Range-partitioned + Arrow-stamped global running total == a local
    pandas cumsum, across many partitions, for long and double cols."""
    import pandas as pd

    from epic_pandas_spark.operators.windows import global_cumsum

    pdf = pd.DataFrame({"k": range(997), "v": [(i * 37) % 101 for i in range(997)]})
    df = spark.createDataFrame(pdf).repartition(13)
    out = global_cumsum(df, "v", "k").orderBy("k").toPandas()
    assert list(out["v_cumsum"]) == list(pdf["v"].cumsum())
    assert str(out["v_cumsum"].dtype) == "int64"
    dbl = df.selectExpr("k", "v * 0.5 AS v")
    outd = global_cumsum(dbl, "v", "k").orderBy("k").toPandas()
    assert outd["v_cumsum"].tolist() == pytest.approx((pdf["v"] * 0.5).cumsum().tolist())


def test_global_cumsum_null_contributes_zero(spark):
    from epic_pandas_spark.operators.windows import global_cumsum

    df = spark.createDataFrame([(1, 10), (2, None), (3, 5)], "k long, v long")
    got = {r["k"]: r["v_cumsum"] for r in global_cumsum(df, "v", "k").collect()}
    assert got == {1: 10, 2: 10, 3: 15}


def test_global_cumsums_multi_column_shared_pass(spark):
    """The round-11 shared-pass form: N columns stamped in ONE
    range-shuffle + stamp job must equal N chained single-column calls
    (which the ROC/AP operators used to make), for mixed long/double
    columns and across many partitions."""
    import pandas as pd

    from epic_pandas_spark.operators.windows import global_cumsums

    pdf = pd.DataFrame(
        {
            "k": range(997),
            "a": [(i * 37) % 101 for i in range(997)],
            "b": [((i * 13) % 7) * 0.25 for i in range(997)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(13)
    out = (
        global_cumsums(df, ["a", "b"], "k", out_cols=["ca", "cb"])
        .orderBy("k")
        .toPandas()
    )
    assert list(out["ca"]) == list(pdf["a"].cumsum())
    assert out["cb"].tolist() == pytest.approx(pdf["b"].cumsum().tolist())
    assert str(out["ca"].dtype) == "int64"
    assert str(out["cb"].dtype) == "float64"


def _bf_auc(pairs):
    """Brute-force tie-corrected AUC over (score, label) pairs."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    return (wins + 0.5 * ties) / (len(pos) * len(neg))


def test_binary_classification_metrics_exact(spark):
    from epic_pandas_spark.operators.stats import binary_classification_metrics

    pairs = [(i % 7 + (3 if i % 3 == 0 else 0), 1 if (i * 13) % 5 < 2 else 0)
             for i in range(200)]
    df = spark.createDataFrame(pairs, "s int, y int").repartition(7)
    r = binary_classification_metrics(df, "s", "y", threshold=5.0).collect()[0]
    assert r["auc"] == pytest.approx(_bf_auc(pairs), abs=1e-12)
    tp = sum(1 for s, y in pairs if y == 1 and s >= 5)
    fp = sum(1 for s, y in pairs if y == 0 and s >= 5)
    fn = sum(1 for s, y in pairs if y == 1 and s < 5)
    tn = sum(1 for s, y in pairs if y == 0 and s < 5)
    assert (r["tp"], r["fp"], r["tn"], r["fn"]) == (tp, fp, tn, fn)
    assert r["accuracy"] == pytest.approx((tp + tn) / 200)
    assert r["precision"] == pytest.approx(tp / (tp + fp))
    assert r["recall"] == pytest.approx(tp / (tp + fn))
    p, q = tp / (tp + fp), tp / (tp + fn)
    assert r["f1"] == pytest.approx(2 * p * q / (p + q))


def test_binary_classification_metrics_edges(spark):
    from epic_pandas_spark.operators.stats import binary_classification_metrics

    # perfect separation -> AUC 1; inverted -> 0; all-tied -> 0.5
    perfect = spark.createDataFrame([(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int")
    assert binary_classification_metrics(perfect, "s", "y").collect()[0]["auc"] == 1.0
    inverted = spark.createDataFrame([(4.0, 0), (3.0, 0), (2.0, 1), (1.0, 1)], "s double, y int")
    assert binary_classification_metrics(inverted, "s", "y").collect()[0]["auc"] == 0.0
    tied = spark.createDataFrame([(1.0, 0), (1.0, 1), (1.0, 0), (1.0, 1)], "s double, y int")
    r = tied.transform(lambda d: binary_classification_metrics(d, "s", "y")).collect()[0]
    assert r["auc"] == 0.5
    # null scores/labels excluded; no predicted positives -> null precision/f1
    degen = spark.createDataFrame(
        [(0.1, 0), (0.2, 1), (None, 1), (0.3, None)], "s double, y int"
    )
    r2 = binary_classification_metrics(degen, "s", "y", threshold=9.0).collect()[0]
    assert (r2["n_pos"], r2["n_neg"], r2["tp"]) == (1, 1, 0)
    assert r2["precision"] is None and r2["f1"] is None


def test_roc_curve_brute_force_parity(spark):
    from epic_pandas_spark.operators.stats import roc_curve

    pairs = [(i % 9, 1 if (i * 7) % 4 == 0 else 0) for i in range(120)]
    df = spark.createDataFrame(pairs, "s int, y int").repartition(5)
    rows = roc_curve(df, "s", "y").collect()
    P = sum(y for _, y in pairs)
    N = len(pairs) - P
    assert len(rows) == len({s for s, _ in pairs})
    for r in rows:
        s = r["score"]
        tp = sum(1 for sc, y in pairs if y == 1 and sc >= s)
        fp = sum(1 for sc, y in pairs if y == 0 and sc >= s)
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, P - tp, N - fp)
        assert r["tpr"] == pytest.approx(tp / P)
        assert r["fpr"] == pytest.approx(fp / N)
    # curve is monotone in both axes as the threshold descends
    tprs = [r["tpr"] for r in rows]
    fprs = [r["fpr"] for r in rows]
    assert tprs == sorted(tprs) and fprs == sorted(fprs)


def test_grouped_auc_matches_per_group_brute_force(spark):
    from epic_pandas_spark.operators.stats import grouped_auc

    pairs = [("g%d" % (i % 3), (i * 11) % 13, 1 if (i * 7) % 4 == 0 else 0)
             for i in range(150)]
    pairs.append((None, 5, 1))      # null group label is a real group
    pairs.append((None, 2, 0))
    df = spark.createDataFrame(pairs, "g string, s int, y int").repartition(6)
    got = {r["g"]: (r["n_pos"], r["n_neg"], r["auc"])
           for r in grouped_auc(df, "s", "y", "g").collect()}
    from collections import defaultdict
    per = defaultdict(list)
    for g, s, y in pairs:
        per[g].append((s, y))
    for g, rows in per.items():
        np_, nn_ = sum(y for _, y in rows), sum(1 - y for _, y in rows)
        assert got[g][:2] == (np_, nn_)
        assert got[g][2] == pytest.approx(_bf_auc(rows), abs=1e-12)
    # one-class group -> null auc
    oneclass = spark.createDataFrame([("a", 1, 1), ("a", 2, 1)], "g string, s int, y int")
    r = grouped_auc(oneclass, "s", "y", "g").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 0, None)


def test_grouped_roc_matches_per_group_ungrouped(spark):
    """Per-group ROC == running the ungrouped roc_curve on each group's
    slice; null group is a real group; one-class groups get null on the
    missing-denominator axis only."""
    from epic_pandas_spark.operators.stats import grouped_roc, roc_curve

    pairs = [("g%d" % (i % 3), (i * 11) % 13, 1 if (i * 7) % 4 == 0 else 0)
             for i in range(150)]
    pairs.append((None, 5, 1))
    pairs.append((None, 2, 0))
    df = spark.createDataFrame(pairs, "g string, s int, y int").repartition(6)
    got = {}
    for r in grouped_roc(df, "s", "y", "g").collect():
        got.setdefault(r["g"], {})[r["score"]] = (
            r["tp"], r["fp"], r["fn"], r["tn"], r["tpr"], r["fpr"], r["precision"]
        )
    groups = {g for g, _, _ in pairs}
    assert set(got) == groups
    for g in groups:
        sub = spark.createDataFrame(
            [(s, y) for gg, s, y in pairs if gg == g], "s int, y int"
        )
        want = {r["score"]: (r["tp"], r["fp"], r["fn"], r["tn"],
                             r["tpr"], r["fpr"], r["precision"])
                for r in roc_curve(sub, "s", "y").collect()}
        assert got[g] == want, g
    # one-class group: tpr defined, fpr null (no negatives)
    oneclass = spark.createDataFrame([("a", 1, 1), ("a", 2, 1)], "g string, s int, y int")
    rows = grouped_roc(oneclass, "s", "y", "g").collect()
    assert [(r["score"], r["tp"], r["tpr"], r["fpr"]) for r in rows] == [
        (2, 1, 0.5, None), (1, 2, 1.0, None)
    ]


def test_calibration_bins_numpy_parity(spark):
    """Bin means match a brute-force numpy reliability diagram; score
    exactly 1.0 folds into the LAST bin; nulls are excluded."""
    import numpy as np
    from epic_pandas_spark.operators.stats import calibration_bins

    rng = [((i * 37 % 101) / 100.0, 1 if (i * 7) % 3 == 0 else 0)
           for i in range(200)]          # includes exact 0.0 and 1.0 scores
    pairs = rng + [(None, 1), (0.5, None)]
    df = spark.createDataFrame(pairs, "s double, y int").repartition(7)
    rows = calibration_bins(df, "s", "y", n_bins=10).collect()
    s = np.array([p[0] for p in rng])
    y = np.array([p[1] for p in rng], dtype=float)
    b = np.minimum(np.floor(s * 10).astype(int), 9)
    assert [r["bin"] for r in rows] == sorted(set(b.tolist()))
    for r in rows:
        m = b == r["bin"]
        assert r["n"] == int(m.sum())
        assert r["conf"] == pytest.approx(s[m].mean(), abs=1e-12)
        assert r["acc"] == pytest.approx(y[m].mean(), abs=1e-12)
        assert r["gap"] == pytest.approx(y[m].mean() - s[m].mean(), abs=1e-12)
    assert any(r["bin"] == 9 for r in rows)   # the 1.0 scores landed in bin 9


def test_calibration_summary_numpy_parity(spark):
    """ECE/MCE/Brier/log-loss match the sklearn-convention brute force;
    a perfectly calibrated constant scorer has ece == brier residual."""
    import math
    import numpy as np
    from epic_pandas_spark.operators.stats import calibration_summary

    pairs = [((i * 37 % 101) / 100.0, 1 if (i * 7) % 3 == 0 else 0)
             for i in range(200)]
    df = spark.createDataFrame(pairs, "s double, y int").repartition(7)
    r = calibration_summary(df, "s", "y", n_bins=10).collect()[0]
    s = np.array([p[0] for p in pairs])
    y = np.array([p[1] for p in pairs], dtype=float)
    b = np.minimum(np.floor(s * 10).astype(int), 9)
    gaps = np.array([abs(y[b == k].mean() - s[b == k].mean())
                     for k in sorted(set(b.tolist()))])
    ns = np.array([(b == k).sum() for k in sorted(set(b.tolist()))])
    assert r["n"] == len(pairs)
    assert r["ece"] == pytest.approx((gaps * ns).sum() / len(pairs), abs=1e-12)
    assert r["mce"] == pytest.approx(gaps.max(), abs=1e-12)
    assert r["brier"] == pytest.approx(((s - y) ** 2).mean(), abs=1e-12)
    eps = 1e-15
    sc = np.clip(s, eps, 1 - eps)
    ll = -(y * np.log(sc) + (1 - y) * np.log(1 - sc)).mean()
    assert r["log_loss"] == pytest.approx(ll, rel=1e-12)
    assert not math.isinf(r["log_loss"])   # the eps clamp absorbed s==0 and s==1
    # n_bins=1 degenerates to |mean(y) - mean(s)| for both ece and mce
    r1 = calibration_summary(df, "s", "y", n_bins=1).collect()[0]
    want = abs(y.mean() - s.mean())
    assert r1["ece"] == pytest.approx(want, abs=1e-12)
    assert r1["mce"] == pytest.approx(want, abs=1e-12)
    with pytest.raises(ValueError):
        calibration_summary(df, "s", "y", n_bins=0)


def test_grouped_calibration_matches_per_group_ungrouped(spark):
    """Per-group scorecard == running calibration_summary on each
    group's slice; a null group label is a real group."""
    from epic_pandas_spark.operators.stats import (
        calibration_summary,
        grouped_calibration_summary,
    )

    pairs = [("g%d" % (i % 3), ((i * 37) % 101) / 100.0, 1 if (i * 7) % 3 == 0 else 0)
             for i in range(180)]
    pairs.append((None, 0.25, 1))
    pairs.append((None, 0.75, 0))
    df = spark.createDataFrame(pairs, "g string, s double, y int").repartition(6)
    got = {
        r["g"]: (r["n"], round(r["ece"], 12), round(r["mce"], 12),
                 round(r["brier"], 12), round(r["log_loss"], 12))
        for r in grouped_calibration_summary(df, "s", "y", "g").collect()
    }
    groups = {g for g, _, _ in pairs}
    assert set(got) == groups
    for g in groups:
        sub = spark.createDataFrame(
            [(s, y) for gg, s, y in pairs if gg == g], "s double, y int"
        )
        r = calibration_summary(sub, "s", "y").collect()[0]
        want = (r["n"], round(r["ece"], 12), round(r["mce"], 12),
                round(r["brier"], 12), round(r["log_loss"], 12))
        assert got[g] == want, g


def test_platt_scaling_recovers_planted_params(spark):
    """MLE on labels drawn to match sigmoid(2s - 1) exactly (per-score
    positive counts = round(n * p)) recovers (a, b) ~ (2, -1), and the
    fit agrees with an independent numpy Newton solver to high
    precision."""
    import math

    import numpy as np
    from epic_pandas_spark.extensions.curation import fit_platt_scaling

    rows = []
    scores = [i / 20.0 for i in range(21)]
    per = 400
    for s in scores:
        npos = round(per / (1.0 + math.exp(-(2.0 * s - 1.0))))
        rows += [(s, 1)] * npos + [(s, 0)] * (per - npos)
    df = spark.createDataFrame(rows, "s double, y int").repartition(8)
    a, b = fit_platt_scaling(df, "s", "y")
    assert a == pytest.approx(2.0, abs=0.05)
    assert b == pytest.approx(-1.0, abs=0.05)

    # independent numpy Newton on the same compressed table
    s_arr = np.array(scores)
    np_arr = np.array([round(per / (1.0 + math.exp(-(2.0 * s - 1.0)))) for s in scores], float)
    nn_arr = per - np_arr
    aa, bb = 1.0, 0.0
    for _ in range(8):
        p = 1.0 / (1.0 + np.exp(-(aa * s_arr + bb)))
        cnt = np_arr + nn_arr
        resid = p * cnt - np_arr
        w = p * (1 - p) * cnt
        ga, gb = (resid * s_arr).sum(), resid.sum()
        haa, hab, hbb = (w * s_arr * s_arr).sum() + 1e-9, (w * s_arr).sum(), w.sum() + 1e-9
        det = haa * hbb - hab * hab
        aa -= (hbb * ga - hab * gb) / det
        bb -= (haa * gb - hab * ga) / det
    assert a == pytest.approx(aa, rel=1e-9, abs=1e-9)
    assert b == pytest.approx(bb, rel=1e-9, abs=1e-9)


def test_platt_scaling_repairs_miscalibrated_scorer(spark):
    """Squaring a calibrated score miscalibrates it; the Platt fit must
    cut ECE substantially while preserving the ranking (monotone map)."""
    import math

    from epic_pandas_spark.extensions.curation import (
        fit_platt_scaling,
        platt_calibrated_expr,
    )
    from epic_pandas_spark.operators.stats import calibration_summary

    rows = []
    for i in range(21):
        p_true = i / 20.0
        npos = round(300 * p_true)
        s_bad = p_true * p_true          # systematically underconfident
        rows += [(s_bad, 1)] * npos + [(s_bad, 0)] * (300 - npos)
    df = spark.createDataFrame(rows, "s double, y int").repartition(8)
    before = calibration_summary(df, "s", "y").collect()[0]["ece"]
    a, b = fit_platt_scaling(df, "s", "y")
    fixed = df.select(platt_calibrated_expr(F.col("s"), a, b).alias("s"), "y")
    after = calibration_summary(fixed, "s", "y").collect()[0]["ece"]
    assert a > 0  # monotone: ranking preserved
    assert after < before / 3, (before, after)


def test_platt_scaling_empty_frame_raises(spark):
    """No non-null (score, label) rows must raise a clear ValueError,
    not a TypeError from a None aggregate (ADVICE round 7)."""
    from epic_pandas_spark.extensions.curation import fit_platt_scaling

    empty = spark.createDataFrame([], "s double, y int")
    with pytest.raises(ValueError, match="no non-null"):
        fit_platt_scaling(empty, "s", "y")
    all_null = spark.createDataFrame([(None, None)] * 5, "s double, y int")
    with pytest.raises(ValueError, match="no non-null"):
        fit_platt_scaling(all_null, "s", "y")


def test_average_precision_matches_brute_force(spark):
    """AP equals the step-wise sklearn definition computed by brute
    force over descending distinct thresholds (ties = one step);
    perfect ranking gives 1.0."""
    from epic_pandas_spark.operators.stats import average_precision

    pairs = [((i * 11) % 13, 1 if (i * 7) % 4 == 0 else 0) for i in range(160)]
    df = spark.createDataFrame(pairs, "s int, y int").repartition(5)
    r = average_precision(df, "s", "y").collect()[0]
    P = sum(y for _, y in pairs)
    want, prev_tp = 0.0, 0
    for s in sorted({s for s, _ in pairs}, reverse=True):
        tp = sum(1 for sc, y in pairs if y == 1 and sc >= s)
        fp = sum(1 for sc, y in pairs if y == 0 and sc >= s)
        want += ((tp - prev_tp) / P) * (tp / (tp + fp))
        prev_tp = tp
    assert (r["n_pos"], r["n_neg"]) == (P, len(pairs) - P)
    assert r["ap"] == pytest.approx(want, abs=1e-12)

    perfect = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int"
    )
    assert average_precision(perfect, "s", "y").collect()[0]["ap"] == pytest.approx(1.0)
    inverted = spark.createDataFrame(
        [(4.0, 0), (3.0, 0), (2.0, 1), (1.0, 1)], "s double, y int"
    )
    # worst ranking: AP = base rate at the all-inclusive threshold step
    assert average_precision(inverted, "s", "y").collect()[0]["ap"] < 0.5


def _pav_fit(xs, ys, ws):
    """Classic weighted pool-adjacent-violators over pre-sorted distinct
    xs: returns the fitted value per x (the isotonic MLE)."""
    blocks = [[y * w, w, i, i] for i, (y, w) in enumerate(zip(ys, ws))]
    out, stack = [0.0] * len(xs), []
    for b in blocks:
        stack.append(b)
        while len(stack) > 1 and (
            stack[-2][0] / stack[-2][1] >= stack[-1][0] / stack[-1][1]
        ):
            hi = stack.pop()
            stack[-1][0] += hi[0]
            stack[-1][1] += hi[1]
            stack[-1][3] = hi[3]
        # merging only ever happens at the top of the stack, so earlier
        # blocks are final once a strictly-increasing successor lands
    for tot, w, lo, hi in stack:
        for i in range(lo, hi + 1):
            out[i] = tot / w
    return out


def test_isotonic_calibration_matches_numpy_pav(spark):
    """Spark ML parallel-PAV fitted values at the training points equal
    the classic sequential weighted PAV, and predictions are monotone."""
    from collections import defaultdict

    from epic_pandas_spark.extensions.curation import fit_isotonic_calibration

    pairs = [(((i * 37) % 101) / 100.0, 1 if (i * 7) % 3 == 0 else 0)
             for i in range(300)]
    pairs += [(None, 1), (0.5, None)]       # excluded
    df = spark.createDataFrame(pairs, "s double, y int").repartition(7)
    model, model_df = fit_isotonic_calibration(df, "s", "y")

    agg = defaultdict(lambda: [0.0, 0])
    for s, y in pairs:
        if s is None or y is None:
            continue
        agg[s][0] += y
        agg[s][1] += 1
    xs = sorted(agg)
    ys = [agg[x][0] / agg[x][1] for x in xs]
    ws = [float(agg[x][1]) for x in xs]
    want = dict(zip(xs, _pav_fit(xs, ys, ws)))

    probe = spark.createDataFrame([(x,) for x in xs], "\x5f\x5fiso_s double")
    got = {
        r["__iso_s"]: r["prediction"]
        for r in model.transform(probe).collect()
    }
    for x in xs:
        assert got[x] == pytest.approx(want[x], abs=1e-9), x
    preds = [got[x] for x in xs]
    assert preds == sorted(preds)           # monotone
    # block table mirrors the model arrays
    rows = model_df.orderBy("boundary").collect()
    assert [r["boundary"] for r in rows] == sorted(float(b) for b in model.boundaries)


def test_isotonic_calibration_repairs_any_monotone_warp(spark):
    """Isotonic drives ECE to ~0 on the squared-score warp (it is the
    monotone MLE — per-block mean equals the block's positive rate by
    construction), including shapes Platt's sigmoid cannot fit."""
    from epic_pandas_spark.extensions.curation import fit_isotonic_calibration
    from epic_pandas_spark.operators.stats import calibration_summary

    rows = []
    for i in range(21):
        p_true = i / 20.0
        npos = round(300 * p_true)
        s_bad = p_true * p_true
        rows += [(s_bad, 1)] * npos + [(s_bad, 0)] * (300 - npos)
    df = spark.createDataFrame(rows, "s double, y int").repartition(8)
    before = calibration_summary(df, "s", "y").collect()[0]["ece"]
    model, _ = fit_isotonic_calibration(df, "s", "y")
    fixed = model.transform(df.select(F.col("s").alias("__iso_s"), "y")).select(
        F.col("prediction").alias("s"), "y"
    )
    after = calibration_summary(fixed, "s", "y").collect()[0]["ece"]
    assert before > 0.1
    assert after < 0.02, (before, after)


def test_recalibrate_auto_isotonic_wins_staircase_warp(spark):
    """recalibrate_auto must pick ISOTONIC when the miscalibration is a
    two-jump staircase — a monotone shape no sigmoid(a*s+b) can fit —
    given enough labeled data, and its transform must carry the repair
    (holdout log-loss of the winner strictly below Platt's)."""
    from epic_pandas_spark.extensions.curation import recalibrate_auto

    rows = []
    for i in range(6000):
        s = ((i * 37) % 600) / 600.0
        p_true = 0.05 + (0.45 if s > 0.33 else 0.0) + (0.45 if s > 0.66 else 0.0)
        label = 1 if (i * 7) % 100 < p_true * 100 else 0
        rows.append((i, s, label))
    df = spark.createDataFrame(rows, "id long, s double, y int").repartition(8)
    choice = recalibrate_auto(df, "s", "y", "id", holdout_frac=0.25, seed=7)
    ll = choice["holdout_logloss"]
    assert choice["method"] == "isotonic", ll
    assert ll["isotonic"] < ll["platt"], ll
    out = choice["transform"](df).select("id", "s", "y", "calibrated")
    assert out.count() == 6000
    # the staircase is recovered: calibrated probs near the plateau means
    mids = {
        r["s"]: r["calibrated"]
        for r in out.filter(F.col("s").isin(*[0.2, 0.5, 0.9])).distinct().collect()
    }
    # plateau checks at representative scores (exact s values exist by
    # construction only if hit; assert via aggregate instead)
    agg = (
        out.withColumn(
            "plateau",
            F.when(F.col("s") <= 0.33, 0).when(F.col("s") <= 0.66, 1).otherwise(2),
        )
        .groupBy("plateau")
        .agg(F.avg("calibrated").alias("p"), F.avg(F.col("y").cast("double")).alias("r"))
        .collect()
    )
    for row in agg:
        assert abs(row["p"] - row["r"]) < 0.05, (row["plateau"], row["p"], row["r"])


def test_recalibrate_auto_platt_wins_scarce_labels(spark):
    """recalibrate_auto must pick PLATT when labels are scarce and the
    true warp IS a logit shift: isotonic's free-form blocks overfit a
    small train split (0/1 plateaus, jagged block means) where Platt's
    two parameters generalize."""
    import math

    from epic_pandas_spark.extensions.curation import recalibrate_auto

    rows = []
    for i in range(60):
        p_true = (10 + (i * 37) % 78) / 97.0
        logit = math.log(p_true / (1 - p_true))
        s = 1.0 / (1.0 + math.exp(-0.35 * logit))   # under-confident sigmoid warp
        label = 1 if (i * 29) % 100 < p_true * 100 else 0
        rows.append((i, s, label))
    df = spark.createDataFrame(rows, "id long, s double, y int").repartition(4)
    choice = recalibrate_auto(df, "s", "y", "id", holdout_frac=0.3, seed=42)
    ll = choice["holdout_logloss"]
    assert choice["method"] == "platt", ll
    assert ll["platt"] < ll["isotonic"], ll
    # the winner's closed-form expr exists for Platt and matches transform
    assert choice["expr"] is not None
    a, b = choice["platt"]
    assert a > 0  # monotone repair


def test_recalibrate_auto_validates_inputs(spark):
    from epic_pandas_spark.extensions.curation import recalibrate_auto

    df = spark.createDataFrame([(1, 0.5, 1)], "id long, s double, y int")
    with pytest.raises(ValueError, match="holdout_frac"):
        recalibrate_auto(df, "s", "y", "id", holdout_frac=1.5)


def test_grouped_average_precision_matches_per_group_ungrouped(spark):
    """Per-group AP == running the ungrouped average_precision on each
    group's slice; null group is a real group; a no-positive group gets
    a null ap."""
    from epic_pandas_spark.operators.stats import (
        average_precision,
        grouped_average_precision,
    )

    pairs = [("g%d" % (i % 3), (i * 11) % 13, 1 if (i * 7) % 4 == 0 else 0)
             for i in range(150)]
    pairs.append((None, 5, 1))
    pairs.append((None, 2, 0))
    df = spark.createDataFrame(pairs, "g string, s int, y int").repartition(6)
    got = {r["g"]: (r["n_pos"], r["n_neg"],
                    None if r["ap"] is None else round(r["ap"], 12))
           for r in grouped_average_precision(df, "s", "y", "g").collect()}
    groups = {g for g, _, _ in pairs}
    assert set(got) == groups
    for g in groups:
        sub = spark.createDataFrame(
            [(s, y) for gg, s, y in pairs if gg == g], "s int, y int"
        )
        r = average_precision(sub, "s", "y").collect()[0]
        assert got[g] == (r["n_pos"], r["n_neg"], round(r["ap"], 12)), g
    # no positives -> null ap, not 0
    nopos = spark.createDataFrame([("a", 1, 0), ("a", 2, 0)], "g string, s int, y int")
    r = grouped_average_precision(nopos, "s", "y", "g").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["ap"]) == (0, 2, None)


def test_quantile_anchor_exact_below_q(spark):
    """A group with n <= q anchors every value, so rolled-up quantiles
    are EXACT type-1 (lower) quantiles."""
    import numpy as np

    from epic_pandas_spark.operators.sketches import (
        quantile_anchor_rollup,
        quantile_anchor_sketches,
    )

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    store = quantile_anchor_sketches(df, [], "x", q=64)
    probs = [0.25, 0.5, 0.75, 1.0]
    got = {
        r["prob"]: r["quantile_est"]
        for r in quantile_anchor_rollup(store, [], probs, q=64).collect()
    }
    arr = np.sort(np.array(vals))
    for p in probs:
        want = float(arr[int(np.ceil(p * len(arr))) - 1])  # type-1 lower
        assert got[p] == want, (p, got[p], want)


def test_quantile_anchor_rollup_rank_error_bound(spark):
    """Merging per-shard sketches answers global quantiles within the
    N/q rank-error bound however the data was sharded."""
    import numpy as np

    from epic_pandas_spark.operators.sketches import (
        quantile_anchor_rollup,
        quantile_anchor_sketches,
    )

    rng = np.random.RandomState(7)
    n, q, shards = 20000, 128, 16
    vals = rng.lognormal(3.0, 1.5, n)
    rows = [(int(i % shards), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "shard int, x double")
    store = quantile_anchor_sketches(df, ["shard"], "x", q=q)
    assert store.count() == shards * q
    probs = [0.1, 0.5, 0.9, 0.99]
    got = {
        r["prob"]: r["quantile_est"]
        for r in quantile_anchor_rollup(store, [], probs, q=q).collect()
    }
    s = np.sort(vals)
    for p in probs:
        # rank of the estimate within the true sorted data must be
        # within N/q (+1 for the type-1 floor) of the target rank
        est_rank = np.searchsorted(s, got[p], side="right")
        target = int(np.ceil(p * n))
        assert abs(est_rank - target) <= n / q + 1, (p, est_rank, target)


def test_quantile_anchor_grouped_rollup_and_validation(spark):
    """Rollup at the SAME key returns per-group quantiles (each group's
    own anchors only); bad q/probs raise."""
    import numpy as np

    from epic_pandas_spark.operators.sketches import (
        quantile_anchor_rollup,
        quantile_anchor_sketches,
    )

    rows = [("a", float(i)) for i in range(1, 101)] + [
        ("b", float(1000 + i)) for i in range(1, 51)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    store = quantile_anchor_sketches(df, ["g"], "x", q=32)
    out = {
        (r["g"], r["prob"]): r["quantile_est"]
        for r in quantile_anchor_rollup(store, ["g"], [0.5], q=32).collect()
    }
    # 32 anchors on 100 rows: rank error <= 100/32 ~ 3 ranks around 50
    assert abs(out[("a", 0.5)] - 50.0) <= 4
    assert abs(out[("b", 0.5)] - 1025.0) <= 2
    with pytest.raises(ValueError, match="q must be >= 1"):
        quantile_anchor_sketches(df, ["g"], "x", q=0)
    with pytest.raises(ValueError, match="probs must be in"):
        quantile_anchor_rollup(store, ["g"], [0.0], q=32)


def test_kmv_setops_matrix_consistent_with_pairwise(spark):
    """The all-pairs matrix row for (a, b) equals kmv_set_cardinalities
    run on the two sketches directly; exact counting below k."""
    from epic_pandas_spark.operators.sketches import (
        kmv_set_cardinalities,
        kmv_setops_matrix,
        kmv_sketch,
        kmv_sketches,
    )

    rows = (
        [("a", f"x{i}") for i in range(40)]
        + [("b", f"x{i}") for i in range(20, 70)]
        + [("c", f"y{i}") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, v string")
    store = kmv_sketches(df, ["g"], "v", k=100)
    got = {
        (r["g_a"], r["g_b"]): r
        for r in kmv_setops_matrix(store, ["g"], 100).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    # |A|=40, |B|=50, |A∩B|=20 -> exact below k
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (40, 50, 20)
    assert ab["union_est"] == pytest.approx(70.0)
    assert ab["intersection_est"] == pytest.approx(20.0)
    assert ab["a_minus_b_est"] == pytest.approx(20.0)
    assert ab["b_minus_a_est"] == pytest.approx(30.0)
    # matrix row == pairwise operator on the same two sketches
    sa = kmv_sketch(df.filter(F.col("g") == "a"), "v", k=100)
    sb = kmv_sketch(df.filter(F.col("g") == "b"), "v", k=100)
    pw = kmv_set_cardinalities(sa, sb, 100).collect()[0]
    for c in ("k_used", "n_a", "n_b", "n_common", "union_est",
              "intersection_est", "a_minus_b_est", "b_minus_a_est"):
        assert ab[c] == pytest.approx(pw[c]), c
    with pytest.raises(ValueError, match="keys must be non-empty"):
        kmv_setops_matrix(store, [], 100)
