"""Headline analytical queries (TPC-H-style) over the driver tables —
the benchmark workhorses exercising scan → filter-pushdown → hash-agg,
multi-way broadcast joins, and top-k.

These have no reference analog (the reference is a utility layer, not a
query engine); they exist to prove the engine composes into real analytics
and to anchor BENCH numbers. All money sums go through DECIMAL staging so
the DuckDB oracle matches bit-for-bit (see plans.registry docstring).

Scale notes baked into the plans:
- Q1: single shuffle on the two grouping columns; partial aggregation is
  map-side, so 100 TB reduces to |groups| rows before the exchange.
- Q3/Q5: dimension tables (region/nation/customer/supplier at TPC-H
  ratios) are broadcast; only lineitem/orders shuffle — and only when the
  join key isn't already co-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from epic_pandas_spark.session import load_table


def _dec(col: str):
    return F.col(col).cast("decimal(30,4)")


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: groupBy(returnflag, linestatus) + 8 aggregates over
    shipped lineitems. Filter pushes to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(30,4)") + _dec("l_tax"))
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            # round in the DECIMAL domain, then cast: the charge product
            # carries exactly 6 true decimals, so its sum can end in a
            # half-case at the 6th place — casting to double first makes
            # the half unrepresentable and the round direction
            # engine-dependent (bit at sf0.1: ...0.0717965 rounded up by
            # DuckDB, down by Spark). Decimal-domain HALF_UP is exact and
            # identical in both engines; disc_price gets the same staging
            # for symmetry (its 4 true decimals never hit a 6dp half).
            F.round(F.sum(disc_price), 6).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 6).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6))
    )
    return out.orderBy("l_returnflag", "l_linestatus")


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))), 6) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))) * (CAST(1 AS DECIMAL(30,4)) + CAST(l_tax AS DECIMAL(30,4)))), 6) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority: BUILDING-segment customers ⋈ orders ⋈ lineitem,
    revenue per order, top 10. customer is broadcast (dimension-sized);
    orders⋈lineitem shuffles on the orderkey once."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(revenue).cast("double"), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))) AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation: the full star join. region/nation/customer/
    supplier all broadcast; the fact tables shuffle once on orderkey."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 6).alias("revenue"))
    )


TPCH_Q5_SQL = """
SELECT n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))) AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape adapted to the driver schema —
    no partsupp table ships, so p_retailprice*0.8*l_quantity stands in for
    ps_supplycost*l_quantity): profit per (nation, order year) over parts
    whose name matches a substring.

    Plan shape this exists to exercise (the skew-heavy multi-join q1/q3/q5
    don't): a selective dimension filter (p_name LIKE) that must PRUNE THE
    FACT SCAN via the broadcast hash join, a second fact-fact join
    (lineitem⋈orders on orderkey) that shuffles both sides, and a
    two-level group key (n_name × year). part/supplier/nation broadcast;
    only the two fact tables exchange — and AQE's skew-join splitting
    covers a hot part or nation key."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    amount = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount")) \
        - _dec("p_retailprice") * F.lit(0.8).cast("decimal(30,4)") * _dec("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 6).alias("sum_profit"))
    )


TPCH_Q9_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(
         CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))
         - CAST(p_retailprice AS DECIMAL(30,4)) * CAST(0.8 AS DECIMAL(30,4)) * CAST(l_quantity AS DECIMAL(30,4))
       ) AS DOUBLE), 6) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    lineitem quantity exceeds a threshold, joined back to customer and
    re-aggregated.

    Plan shape this exists to exercise: a full-fact aggregation
    (groupBy l_orderkey over ALL of lineitem — the biggest shuffle in the
    schema), whose selective HAVING output then drives a SEMI-join-like
    reduction of the same fact table. The qualifying-order set is small
    (selectivity of the threshold), so Spark broadcasts it back against
    lineitem/orders instead of a second full shuffle — the
    aggregate-then-broadcast-reduce pattern that makes Q18 survivable at
    100 TB. customer broadcasts; deterministic full ordering for the
    oracle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(200).cast("decimal(30,4)"))
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


TPCH_Q18_SQL = """
SELECT c_name, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM orders
JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(30,4))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(30,4))) > 200
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape adapted to the driver
    schema — no p_container, so p_brand + p_size stand in): revenue lost
    to orders of a part below 20% of that part's average order quantity.

    Plan shape this exists to exercise: a CORRELATED SCALAR SUBQUERY
    (per-part average) decorrelated into an aggregate + self-join — the
    canonical Catalyst rewrite. The selective part filter broadcasts TWICE
    (once to restrict the threshold aggregation's input, once for the
    final probe), so the per-part averages are computed over only the
    filtered parts' lineitems, never the full fact table; the threshold
    table (one row per qualifying part) broadcasts back against the fact.
    No SortMergeJoin anywhere: every join side except the fact scan is
    dimension-sized. l_quantity is integral in the data, so the 0.2*avg
    threshold (exact integer sums => identical double avg in any engine)
    is bit-deterministic."""
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#4") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_parts = li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = li_parts.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr")
    )
    return (
        li_parts.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 6
            ).alias("avg_yearly")
        )
    )


TPCH_Q17_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) / 7.0, 6) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4' AND p_size <= 10
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape adapted to the
    driver schema — no receipt/commit dates ship, so "late" means
    l_shipdate > o_orderdate + 90 days): per supplier in one nation, count
    lineitems where THIS supplier was late on a finished multi-supplier
    order and NO OTHER supplier was.

    Plan shape this exists to exercise: the EXISTS / NOT-EXISTS pair over
    the same fact table. A naive translation is two extra fact self-joins
    (semi + anti); instead both predicates collapse into ONE per-order
    aggregate — n_suppliers and n_late_suppliers per order — because
    "another supplier exists" == n_supp >= 2 and "no other supplier was
    late" == n_late == 1 given the probe row itself is late. That turns
    Q21 into: fact⋈fact join (lineitem⋈orders, both shuffle on orderkey),
    one re-use of that partitioning for the groupBy(orderkey), a
    co-partitioned probe join, and a broadcast supplier⋈nation dim — the
    aggregate-rewrite that keeps Q21 to a single fact shuffle chain at
    100 TB. The DuckDB oracle deliberately keeps the EXISTS/NOT-EXISTS
    form, so the rewrite's equivalence is itself oracle-checked."""
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    lone_late_orders = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
    ).select("l_orderkey")
    sup_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        lo.filter(F.col("late"))
        .join(lone_late_orders, "l_orderkey")
        .join(F.broadcast(sup_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


TPCH_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders o, nation
WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
GROUP BY s_name
"""


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape adapted to the driver
    schema — no commit/receipt dates ship, so the EXISTS predicate is
    "some lineitem shipped >60 days after the order date"): count orders
    per priority in one quarter having at least one such late lineitem.

    Plan shape this exists to exercise: a FACT-FACT LEFT SEMI join —
    the EXISTS subquery is correlated on both the equi key (orderkey)
    and an inequality against the outer row's o_orderdate, so it cannot
    collapse into a broadcast dim join. Spark plans the equi part as the
    hash-join key and evaluates the date inequality as the join residual;
    the quarter filter pushes to the orders parquet scan first, so the
    semi probe side is already pruned before the shuffle. Semi-join
    semantics (not inner+distinct) keep the per-order multiplicity
    correct with zero dedup cost at 100 TB."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (TPC-H Q7 shape): revenue between two nations per
    (supplier nation, customer nation, year), both directions.

    Plan shape this exists to exercise: the SAME dimension (nation) joined
    twice into one fact row under different roles — supplier's nation via
    lineitem.l_suppkey and customer's nation via orders.o_custkey — with a
    cross-pair predicate that only passes (A,B) and (B,A). Both nation
    joins broadcast (customer and supplier fold their nationkey in first,
    still dimension-sized), so the only exchange is the lineitem⋈orders
    shuffle on orderkey; the pair predicate is evaluated as broadcast-join
    residual, never as a fact-side filter that would need both names on
    one shuffled row."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    volume = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("sn_key"))
        .join(n2, F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(volume).cast("double"), 6).alias("revenue"))
    )


TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(CAST(SUM(volume) AS DOUBLE), 6) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape adapted — region comes from
    the customer side, p_type filters the part dim): per order year, the
    fraction of ECONOMY-part revenue into ASIA supplied by NATION_5.

    Plan shape this exists to exercise: a RATIO OF CONDITIONAL AGGREGATES
    — sum(CASE WHEN supplier nation = target THEN vol END) / sum(vol) —
    which must stay one aggregation pass (two partial sums per group),
    not two scans diffed; plus a selective broadcast dim (part filter)
    pruning the fact scan before the orderkey shuffle, and the
    customer→nation→region chain folded driver-side into one broadcast
    membership set."""
    part_f = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    sn = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    volume = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    return (
        li.join(part_f, li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_asia, orders.o_custkey == F.col("c_custkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("supp_nation") == "NATION_5", volume)
                          .otherwise(F.lit(0).cast("decimal(30,4)")))
                    / F.sum(volume)
                ).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


TPCH_Q8_SQL = """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(30,4)) END)
                  / SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
) all_nations
GROUP BY o_year
"""


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue, top 20 customers (TPC-H Q10 shape): revenue
    of RETURNED lineitems per customer for one order quarter.

    Plan shape this exists to exercise: aggregation keyed on a WIDE
    composite (custkey + 3 customer attributes + nation name) — the
    grouping happens AFTER the broadcast dim joins, so the shuffle
    carries the full key tuple; the returnflag + quarter filters push to
    the two fact scans first. TakeOrdered(20) replaces a global sort."""
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"
        )
    )
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment, n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))) AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, c_mktsegment, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape adapted — no
    o_comment ships, so the excluded class is LOW-priority orders):
    histogram of customers by how many qualifying orders they placed,
    including zero-order customers.

    Plan shape this exists to exercise: a LEFT OUTER fact join feeding
    a DOUBLE AGGREGATION — count per customer (nulls → 0 via counting the
    join's order key, not *), then count of customers per order-count.
    The first groupBy reuses the join's custkey hash partitioning (no
    second exchange of the wide side); the second aggregates
    customer-cardinality rows, which is dimension-sized. The outer join
    is the part q3/q5/q9 never cover: rows with NO fact match must
    survive into the aggregate."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14 shape): percentage of one month's
    revenue that came from PROMO parts.

    Plan shape this exists to exercise: a broadcast dim join whose
    attribute feeds a CASE inside the aggregate — the PROMO/non-PROMO
    split must be one pass (two partial sums), and the month filter must
    reach the lineitem parquet scan while the part table broadcasts
    whole (no filter — every fact row needs its p_type)."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(F.when(F.col("p_type") == "PROMO", revenue)
                            .otherwise(F.lit(0).cast("decimal(30,4)"))).cast("double")
                    / F.sum(revenue).cast("double")
                ),
                6,
            ).alias("promo_revenue")
        )
    )


TPCH_Q14_SQL = """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))
                 ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))) AS DOUBLE), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-supplier relationship count (TPC-H Q16 shape adapted — no
    partsupp/s_comment ship, so lineitem supplies the part⋈supplier pairs
    and the excluded suppliers are those in debit): distinct suppliers
    per (brand, type, size) for small parts, excluding flagged suppliers.

    Plan shape this exists to exercise: a broadcast ANTI join (the NOT IN
    supplier exclusion) feeding COUNT(DISTINCT) over a wide group key —
    Spark expands count_distinct into a two-level aggregate
    (group+suppkey partial, then merge), which must reuse one exchange;
    the p_size/p_brand filters broadcast-prune the fact scan first."""
    part_f = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_brand") != "Brand#13"))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part_f, li.l_partkey == F.col("p_partkey"))
        .join(bad_supp, li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 15 AND p_brand <> 'Brand#13'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-volume suppliers (TPC-H Q20 shape adapted — no partsupp
    ships, so "excess" means the pair's shipped volume beats that part's
    average per-supplier volume): names of NATION_7 suppliers who shipped
    an above-average share of some matching part in one year.

    Plan shape this exists to exercise: a TWO-LEVEL CORRELATED SEMI
    chain — aggregate the fact to (part, supplier) volumes, derive a
    per-part threshold from that SAME aggregate (self-join on the
    aggregate, not the fact), filter pairs, project distinct suppliers,
    and semi-join the supplier dim against them. The fact is touched
    once; everything after the first groupBy is aggregate-sized; the
    threshold join broadcasts because |parts| << |fact|."""
    part_f = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("bolt"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    pair_vol = (
        li.join(part_f, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
        .localCheckpoint(eager=False)  # pair probe AND threshold share one fact pass
    )
    thresholds = pair_vol.groupBy("l_partkey").agg(
        F.avg("pair_qty").alias("avg_qty")
    )
    excess_supp = (
        pair_vol.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("pair_qty") > F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return supp.join(excess_supp, supp.s_suppkey == F.col("l_suppkey"), "left_semi")


TPCH_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (
    SELECT l_suppkey FROM (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS pair_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%bolt%'
        AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ) pv
    JOIN (
      SELECT l_partkey AS tp, AVG(pair_qty) AS avg_qty FROM (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS pair_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%bolt%'
          AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
      ) q GROUP BY l_partkey
    ) t ON pv.l_partkey = t.tp
    WHERE pv.pair_qty > t.avg_qty
  )
"""


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22 shape adapted — no c_phone
    ships, so the country-code grouping becomes the nation key modulo 7):
    count and total balance of well-funded customers with NO orders,
    where "well-funded" means above the average positive balance and "no
    orders" is scoped to the 2001 tail of the data (the driver's order
    density gives every customer ~10 orders overall, which would make an
    unscoped NOT EXISTS vacuously empty).

    Plan shape this exists to exercise: a SCALAR SUBQUERY (global avg)
    that must broadcast as a 1-row literal into the fact filter, plus a
    fact ANTI join (customers with no orders) — the NOT EXISTS side is
    the big orders table, so the anti join shuffles on custkey rather
    than broadcasting. The final aggregate is dimension-sized."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", F.pmod(F.col("c_nationkey"), F.lit(7)).alias("cntrycode")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")).cast("double"), 6).alias("totacctbal"),
        )
    )


TPCH_Q22_SQL = """
SELECT cntrycode, COUNT(*) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE), 6) AS totacctbal
FROM (
  SELECT c_nationkey % 7 AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
) c
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY cntrycode
"""


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2 shape adapted to the driver schema
    — no partsupp table ships, so the part-supplier "offer" relation is
    DERIVED from the fact: unit_cost(part, supp) = MIN(l_extendedprice /
    l_quantity) over that pair's lineitems): for STANDARD parts of size
    15, the EUROPE supplier(s) offering each part at its regional minimum
    unit cost, richest suppliers first.

    Plan shape this exists to exercise: the correlated-MIN-over-a-derived-
    relation pattern — aggregate the fact once into a pair-level offer
    table, take the per-part MIN from that SAME aggregate (a broadcast
    self-join, never a second fact pass), and keep ONLY rows equal to
    their group minimum. The selective part filter broadcasts into the
    fact scan so the offer aggregate is built over a sliver of lineitem;
    the supplier⋈nation⋈region chain is an all-broadcast dimension chain.
    The MIN-equality predicate is exact: unit_cost is a per-row IEEE
    division selected (not summed) by MIN, so Spark and DuckDB compare
    bit-identical values.  Ref analog: none (reference has no query
    engine); shape from TPC-H spec Q2."""
    part_f = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    regional_supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load_table(spark, sf_dir, "region").filter(
                            F.col("r_name") == "EUROPE"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    offers = (
        li.join(part_f, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
        .join(regional_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .localCheckpoint(eager=False)  # probe AND per-part min share one fact pass
    )
    min_cost = offers.groupBy(F.col("l_partkey").alias("mp")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        offers.join(F.broadcast(min_cost), offers.l_partkey == F.col("mp"))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "unit_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


TPCH_Q2_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15 AND p_type = 'STANDARD'
  GROUP BY l_partkey, l_suppkey
), regional AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, o.l_partkey AS p_partkey, o.unit_cost
FROM offers o JOIN regional r ON o.l_suppkey = r.s_suppkey
WHERE o.unit_cost = (
  SELECT MIN(o2.unit_cost)
  FROM offers o2 JOIN regional r2 ON o2.l_suppkey = r2.s_suppkey
  WHERE o2.l_partkey = o.l_partkey
)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape adapted — no
    partsupp availqty/supplycost, so a part's "value" is the revenue
    shipped for it by one nation's suppliers): parts whose NATION_1
    shipped value exceeds 0.1% of the nation's total, largest first.

    Plan shape this exists to exercise: a GLOBAL SCALAR SUBQUERY derived
    from the SAME grouped aggregate it filters (HAVING > fraction-of-
    total) — the aggregate is computed once, its global re-aggregate is a
    1-row broadcast crossJoin back onto it, so the fact is scanned once
    and everything downstream is |parts|-sized. The threshold comparison
    stays in the DECIMAL domain end-to-end (sum and fraction both exact),
    so Spark and DuckDB agree bit-for-bit. Ref analog: none; shape from
    TPC-H spec Q11."""
    supp_n = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_1"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    part_value = (
        li.join(supp_n, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("val"))
        .localCheckpoint(eager=False)  # filtered rows AND global total share one fact pass
    )
    threshold = part_value.agg(
        (F.sum("val") * F.lit(0.001).cast("decimal(10,6)")).alias("thr")
    )
    return (
        part_value.join(F.broadcast(threshold))
        .filter(F.col("val") > F.col("thr"))
        .select(
            "l_partkey",
            F.round(F.col("val").cast("double"), 6).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


TPCH_Q11_SQL = """
WITH part_value AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
  GROUP BY l_partkey
)
SELECT l_partkey, ROUND(CAST(val AS DOUBLE), 6) AS part_value
FROM part_value
WHERE val > (SELECT SUM(val) * CAST(0.001 AS DECIMAL(10,6)) FROM part_value)
ORDER BY part_value DESC, l_partkey ASC
"""


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority mix (TPC-H Q12 shape adapted — no
    l_shipmode ships, so the mode is a DERIVED ship-latency class: SLOW
    if the item shipped more than 60 days after the order date, else
    FAST): for 1997 shipments, per mode, how many came from
    high-priority orders vs low.

    Plan shape this exists to exercise: the fact⋈fact equi-join
    (lineitem⋈orders on orderkey) feeding CASE-WHEN CONDITIONAL
    AGGREGATION — the canonical one-pass pivot where both output
    measures are branches of the same SUM, so adding measures never adds
    scans or shuffles. The join is not a shuffle join: under the
    session's 64 MB broadcast threshold (session.py) the executed plan
    broadcasts the projected ``orders`` side (``BroadcastHashJoin …
    BuildRight``, 1.5M rows at sf1). The year filter pushes to the
    lineitem parquet scan. Ref analog: none; shape from TPC-H spec
    Q12."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("SLOW"),
            )
            .otherwise(F.lit("FAST"))
            .alias("ship_mode"),
            high.alias("is_high"),
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


TPCH_Q12_SQL = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'SLOW' ELSE 'FAST' END AS ship_mode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY ship_mode
"""


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15): the supplier(s) with maximum revenue in
    1997Q1.

    Plan shape this exists to exercise: the ARGMAX-BY-EQUALITY pattern —
    aggregate the fact per supplier, take the scalar MAX from that SAME
    aggregate (1-row broadcast crossJoin), and keep rows equal to it.
    Revenue stays DECIMAL through the comparison (sum and max both
    exact), so the equality — the part of Q15 that is float-fragile in
    double math — is bit-deterministic in both engines; the cast to
    double happens only on output. One fact scan, one shuffle
    (|suppliers| groups), dimension join broadcast. Ref analog: none;
    shape from TPC-H spec Q15."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
            ).alias("total_rev")
        )
        .localCheckpoint(eager=False)  # argmax probe AND scalar max share one fact pass
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 6).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(CAST(total_rev AS DOUBLE), 6) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19 shape adapted — no p_container /
    l_shipinstruct, so the three conjunct groups are brand × size-range ×
    quantity-range): total discounted revenue from lineitems matching any
    of three brand/size/quantity windows.

    Plan shape this exists to exercise: DISJUNCTIVE PREDICATE PUSHDOWN
    across a join — the OR of conjunctions mixes part-side and
    lineitem-side columns, and the plan must (a) push the derivable
    single-side residuals (p_brand IN (...), p_size <= 15, l_quantity <=
    30) into each parquet scan, and (b) evaluate the full disjunction
    once after the broadcast join, with no plan blow-up from
    distributing the OR. Catalyst does both when the part-only union
    filter is stated on the part scan — verified in the plan audit
    (PushedFilters on both scans, single BroadcastHashJoin). Ref analog:
    none; shape from TPC-H spec Q19."""
    b1 = (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
    b2 = (F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
    b3 = (F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
    part_f = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(b1 | b2 | b3)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    q1 = b1 & F.col("l_quantity").between(1, 11)
    q2 = b2 & F.col("l_quantity").between(10, 20)
    q3 = b3 & F.col("l_quantity").between(20, 30)
    return (
        li.join(part_f, li.l_partkey == F.col("p_partkey"))
        .filter(q1 | q2 | q3)
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(30,4)") - _dec("l_discount"))
                ).cast("double"),
                6,
            ).alias("revenue")
        )
    )


TPCH_Q19_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4)) * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4)))) AS DOUBLE), 6) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""
