"""Analytics breadth: further TPC-H shapes, window frames, pivot, percentiles, sessionization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.components import (
    cluster_assign,
    connected_components,
)
from curw_flo2d_data_manager_spark.operators.dedup import (
    minhash_lsh_pairs,
    passage_dedup,
)
from curw_flo2d_data_manager_spark.operators.textstats import (
    domain_mixture,
    tfidf_top_terms,
    unigram_logprob,
    whitespace_token_count,
)
from curw_flo2d_data_manager_spark.queries._shared import _events, _t


# =====================================================================
# Analytics breadth — further TPC-H shapes, window frames, pivot,
# percentiles, sessionization (engine extensions beyond the
# reference's own surface; SURVEY §2.5 note + §7 step 8)
# =====================================================================

def q2_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to the trimmed schema (no partsupp):
    for each LARGE mid-size part, the minimum-acctbal supplier that
    shipped it. The correlated scalar-min subquery decorrelates to a
    groupBy + join-back — Catalyst broadcasts the tiny aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    supp = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    min_bal = shipped.groupBy("p_partkey").agg(F.min("s_acctbal").alias("mb"))
    return (
        shipped.join(F.broadcast(min_bal), "p_partkey")
        .filter(F.col("s_acctbal") == F.col("mb"))
        .select(
            "p_partkey", "p_brand", "s_name", F.round("mb", 2).alias("min_bal")
        )
        .orderBy("p_partkey", "s_name")
    )


Q2_SQL = """
WITH shipped AS (
  SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE')
SELECT p_partkey, p_brand, s_name, ROUND(s_acctbal, 2) AS min_bal
FROM shipped s1
WHERE s_acctbal = (SELECT min(s2.s_acctbal) FROM shipped s2
                   WHERE s2.p_partkey = s1.p_partkey)
ORDER BY p_partkey, s_name
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two nation pairs by ship year
    (two aliased broadcast dim joins on one fact scan)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20
    (fact-fact join + broadcast dims + ordered LIMIT)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q12_priority_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted (no l_shipmode column): conditional
    CASE-WHEN counts of high/low order priorities per ship year."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


Q12_SQL = """
SELECT year(l_shipdate) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY ship_year
ORDER BY ship_year
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: count-of-counts distribution over a left outer
    join (customers with zero orders must appear as c_count = 0)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregate
    over a join, one scalar output row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-06-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


Q14_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-06-01'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier with max 3-month revenue (aggregate →
    scalar-max selection, expressed as a rank-1 window)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_rev"
            )
        )
    )
    w = Window.orderBy(F.desc("total_rev"), "l_suppkey")
    top = rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        top.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.round("total_rev", 2).alias("total_rev")
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, ROUND(total_rev, 2) AS total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
QUALIFY ROW_NUMBER() OVER (ORDER BY total_rev DESC, l_suppkey) = 1
ORDER BY s_suppkey
"""


def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape adapted (no partsupp): distinct suppliers per
    part attribute class, excluding negative-balance suppliers via a
    broadcast anti-join (NOT IN without the NULL trap)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    clauses — exercises OR-predicate pushdown through a join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        F.round(
            F.coalesce(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.lit(0.0),
            ),
            2,
        ).alias("revenue")
    )


Q19_SQL = """
SELECT ROUND(COALESCE(SUM(l_extendedprice * (1 - l_discount)), 0.0), 2)
       AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (scalar-avg subquery + anti-join), grouped by segment."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — a 6-table star join
    (lineitem→orders→customer→nation→region + part + supplier→nation)
    with a conditional-share aggregate per order year. All dims
    broadcast; the only shuffle is the final year rollup."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat_c = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("sn_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        # exact decimal sums (order-independent), then one double
        # division — both engines divide identical doubles
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol)
                    .otherwise(0.0)
                    .cast("decimal(30,6)")
                ).cast("double")
                / F.sum(vol.cast("decimal(30,6)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       ROUND(CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_3'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,6))) AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted (no partsupp, so profit = discounted
    revenue): per supplier-nation per order-year revenue on parts whose
    name matches a pattern — pattern filter pushed to the broadcast
    part dim, year derived from the orders join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        # decimal sum: double addition is order-dependent and Spark's
        # partial-agg combine order is not deterministic — a borderline
        # cent (observed: one group off by 0.01 vs DuckDB) would flake
        # the hash gate. Per-row double→decimal cast is identical on
        # both engines; decimal addition is exact.
        .agg(
            F.round(F.sum(vol.cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2)
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q11_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted (no partsupp, value = discounted
    revenue): parts whose revenue exceeds 1.2× the average per-part
    revenue — the scalar subquery becomes a 1-row broadcast cross
    join, so the threshold rides to every task without a collect.
    The comparison is cross-multiplied over exact decimal sums
    (value·n·10 > total·12): no division, no double rounding, so a
    borderline part can't flip between engines or runs."""
    li = _t(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(vol).alias("value_dec"))
    total = per_part.agg(
        F.sum("value_dec").alias("tot"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec") * F.col("n_parts") * 10 > F.col("tot") * 12
        )
        .select(
            "l_partkey",
            F.round("value_dec", 2).cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


Q11_SQL = """
WITH pv AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS value_dec
    FROM lineitem
    GROUP BY l_partkey
)
SELECT l_partkey, CAST(ROUND(value_dec, 2) AS DOUBLE) AS value
FROM pv
WHERE value_dec * (SELECT COUNT(*) FROM pv) * 10 > (SELECT SUM(value_dec) FROM pv) * 12
ORDER BY value DESC, l_partkey
"""


def q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (no partsupp): suppliers who shipped
    more than a threshold quantity of pattern-matched parts in one
    year — an aggregated subquery driving a semi-join into the
    supplier dim (threshold 300 ≈ the median per-supplier quantity,
    so the semi-join is genuinely selective)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    heavy = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        # decimal sum so a supplier exactly at the threshold can't
        # flip with double addition order
        .agg(F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("qty"))
        .filter(F.col("qty") > 300.0)
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > 300.0
)
ORDER BY s_suppkey
"""


def q21_exclusive_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted (no commit/receipt dates, so 'failed
    delivery' = returnflag R): suppliers with a returned lineitem in a
    multi-supplier order where NO other supplier in that order also
    returned — the Q21 EXISTS (another supplier shipped) + NOT EXISTS
    (another supplier failed) correlated self-join pair, expressed as
    a semi-join then an anti-join on the deduplicated
    (order, supplier) relation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    failed = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    others = pairs.select(
        F.col("l_orderkey").alias("o_orderkey2"),
        F.col("l_suppkey").alias("o_suppkey2"),
    )
    failed_others = failed.select(
        F.col("l_orderkey").alias("f_orderkey2"),
        F.col("l_suppkey").alias("f_suppkey2"),
    )
    cand = failed.join(
        others,
        (F.col("l_orderkey") == F.col("o_orderkey2"))
        & (F.col("l_suppkey") != F.col("o_suppkey2")),
        "left_semi",
    ).join(
        failed_others,
        (F.col("l_orderkey") == F.col("f_orderkey2"))
        & (F.col("l_suppkey") != F.col("f_suppkey2")),
        "left_anti",
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        cand.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
failed AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
           WHERE l_returnflag = 'R'),
cand AS (
    SELECT f.l_orderkey, f.l_suppkey
    FROM failed f
    WHERE EXISTS (SELECT 1 FROM pairs p
                  WHERE p.l_orderkey = f.l_orderkey
                    AND p.l_suppkey <> f.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM failed f2
                      WHERE f2.l_orderkey = f.l_orderkey
                        AND f2.l_suppkey <> f.l_suppkey)
)
SELECT s_name, COUNT(*) AS numwait
FROM cand JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def w_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-bounded sliding window: 4-row moving average of event
    values per user (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), with a
    unique-id tiebreak so lag/frame order is deterministic."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
    ).orderBy("event_id")


W_MOVAVG_SQL = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
             4) AS mov_avg
FROM events
ORDER BY event_id
"""


def w_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of session_window): 30-min
    inactivity gap per user, aggregated to per-session stats."""
    from curw_flo2d_data_manager_spark.operators.sessionize import sessionize

    ev = _events(spark, sf_dir)
    sess = sessionize(
        ev,
        ts_col="ts",
        key_cols=["user_id"],
        gap_seconds=1800.0,
        tiebreak_cols=["event_id"],
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


W_SESSION_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM lagged),
sessioned AS (
  SELECT user_id, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
  FROM flagged)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sessioned
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


def a_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping levels in
    one pass (map-side partials expand grouping-set rows — one
    shuffle, not four scans). Quantity sums are integer-valued so the
    cross-engine hash is exact."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


A_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) of quantity per
    return flag — Spark ``percentile`` and DuckDB ``quantile_cont``
    share the (n-1)·p linear-interpolation definition."""
    li = _t(spark, sf_dir, "lineitem")

    def pct(p: float, name: str):
        return F.round(F.expr(f"percentile(l_quantity, {p})"), 6).alias(name)

    return (
        li.groupBy("l_returnflag")
        .agg(pct(0.25, "p25"), pct(0.5, "p50"), pct(0.75, "p75"), pct(0.9, "p90"))
        .orderBy("l_returnflag")
    )


A_PCT_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
       ROUND(quantile_cont(l_quantity, 0.90), 6) AS p90
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def x_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long → wide: per-user value sums by event type. The pivot
    value list is given explicitly so Spark skips the extra distinct
    job (mandatory at 100 TB — never let pivot scan for its columns)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.sum("value"), 4))
        .orderBy("user_id")
    )


X_PIVOT_SQL = """
SELECT user_id,
       ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4)
           AS purchase,
       ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
       ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 4) AS view
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def a_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in batch mode (same gap-merge
    semantics the streaming path uses): 30-min inactivity sessions per
    user. Boundary: a gap of exactly 30 min starts a NEW session
    (windows are half-open, so touching windows don't merge)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


A_SESSION_WINDOW_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) >= 1800 THEN 1
              ELSE 0 END AS is_new
  FROM lagged),
sessioned AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sessioned
GROUP BY user_id, session_seq
ORDER BY user_id, session_start
"""


def u2_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations: first-two-days purchasers
    who also signed up vs those who didn't, tagged into one relation
    (windowed so both branches verify non-empty sets)."""
    ev = _events(spark, sf_dir, end="2024-01-02 23:59:59").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id")
    both = purchasers.intersect(signups).select(
        F.lit("both").alias("tag"), "user_id"
    )
    only_p = purchasers.subtract(signups).select(
        F.lit("only_purchase").alias("tag"), "user_id"
    )
    return both.unionByName(only_p).orderBy("tag", "user_id")


U2_SET_SQL = """
WITH ev AS (SELECT user_id, event_type FROM events
            WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00')
SELECT 'both' AS tag, user_id FROM (
  SELECT user_id FROM ev WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM ev WHERE event_type = 'signup')
UNION ALL
SELECT 'only_purchase' AS tag, user_id FROM (
  SELECT user_id FROM ev WHERE event_type = 'purchase'
  EXCEPT
  SELECT user_id FROM ev WHERE event_type = 'signup')
ORDER BY tag, user_id
"""


def x_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long unpivot (melt) of lineitem measures for a keyed
    subset — the inverse of the pivot operator."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 997 == 0
    )
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round("val", 4).alias("val"),
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


X_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, measure, ROUND(val, 4) AS val
FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
         l_quantity AS val FROM lineitem WHERE l_orderkey % 997 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey % 997 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
  FROM lineitem WHERE l_orderkey % 997 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
  FROM lineitem WHERE l_orderkey % 997 = 0)
ORDER BY l_orderkey, l_linenumber, measure
"""


def dedup_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal latest-version dedup (the engine's `latest fgt`
    semantics — reference `update_latest_fgt`,
    output/extract_water_level.py:216-217): keep the newest event per
    (user, type) with a unique-id tiebreak, via rank-1 window."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.round("value", 4).alias("latest_value"),
        )
        .orderBy("user_id", "event_type")
    )


DEDUP_LATEST_SQL = """
SELECT user_id, event_type, event_id, ROUND(value, 4) AS latest_value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type
"""


def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type, with a
    tolerance-band oracle: the HLL sketch value is engine-specific, so
    the certified output is the EXACT distinct count plus an integer
    flag asserting the estimate landed within ±5% of it (rsd 0.01 →
    well inside the band). The DuckDB oracle recomputes the exact
    count and asserts the same flag, turning the accuracy contract
    (previously pinned only in tests/test_plan_quality.py) into a
    hash-checked entry."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).cast("int").alias("within_5pct"),
        )
        .orderBy("event_type")
    )


A_APPROX_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       1 AS within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def a_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles (percentile_approx,
    accuracy=10000) per event type, tolerance-band certified like
    a_approx_distinct: the sketch value is engine-specific, so the
    output is the EXACT continuous percentile plus a flag asserting
    the estimate landed within 5% of the value range — wide enough to
    absorb the sketch's element-vs-interpolated definition gap on
    small groups, tight enough that a broken sketch fails; the
    accuracy contract itself is what hash-matches."""
    ev = _events(spark, sf_dir)
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("_ap"),
        F.expr("percentile(value, array(0.5, 0.95))").alias("_ex"),
        (F.max("value") - F.min("value")).alias("_span"),
    )
    return approx.select(
        "event_type",
        F.round(F.element_at("_ex", 1), 4).alias("exact_p50"),
        F.round(F.element_at("_ex", 2), 4).alias("exact_p95"),
        (
            (
                F.abs(F.element_at("_ap", 1) - F.element_at("_ex", 1))
                <= 0.05 * F.col("_span")
            )
            & (
                F.abs(F.element_at("_ap", 2) - F.element_at("_ex", 2))
                <= 0.05 * F.col("_span")
            )
        ).cast("int").alias("within_5pct_of_range"),
    ).orderBy("event_type")


A_APPROX_PCT_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
       ROUND(quantile_cont(value, 0.95), 4) AS exact_p95,
       1 AS within_5pct_of_range
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def sim_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup search with a FULL oracle: plant one
    scaled copy of every embedding (cosine exactly 1 with its source;
    identical sign bits → every band matches), run banded LSH + exact
    cosine verify at 0.999. The true ≥0.999 pair set is exactly the
    planted pairs (max original-pair cosine is ≈0.5), so any missed
    candidate or verify bug breaks the hash match."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        hyperplane_lsh_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # single-generator planted corpus (identical multiset; one scan
    # instead of the two-branch self-union)
    corpus = emb.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("vec_id"),
                    F.transform(
                        "embedding", lambda x: x.cast("double")
                    ).alias("embedding"),
                ),
                F.struct(
                    (F.col("vec_id") + 1_000_000).alias("vec_id"),
                    F.transform(
                        "embedding", lambda x: x.cast("double") * 1.2
                    ).alias("embedding"),
                ),
            )
        ).alias("_e")
    ).select("_e.vec_id", "_e.embedding")
    pairs = hyperplane_lsh_pairs(corpus, cosine_threshold=0.999)
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


SIM_LSH_SQL = """
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
FROM embeddings
ORDER BY id_a, id_b
"""


def f_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% document sample by content-hash bucket —
    reproducible across runs AND engines (md5 hex compared
    lexicographically; `df.sample` can guarantee neither)."""
    from curw_flo2d_data_manager_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_sample(docs, ["doc_id"], 0.10, salt="r1")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


F_SAMPLE_SQL = """
SELECT doc_id, source, n_chars
FROM documents
WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), 'r1')), 1, 8) < '19999999'
ORDER BY doc_id
"""


def f_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: keep every 'wiki' document,
    20% of 'web', 50% of everything else — the downsample-the-crawl /
    keep-the-curated shape of corpus construction."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs,
        ["doc_id"],
        "source",
        {"wiki": 1.0, "web": 0.2},
        default_fraction=0.5,
        salt="r1",
    )
    return (
        out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


F_STRAT_SQL = """
SELECT source, COUNT(*) AS n_kept
FROM documents
WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), 'r1')), 1, 8)
      < CASE source WHEN 'wiki' THEN 'g'
                    WHEN 'web' THEN '33333333'
                    ELSE '80000000' END
GROUP BY source
ORDER BY source
"""


def f_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis–Spirakis weighted sample (A-Res): top
    100 documents by u^(1/w), u from the content hash, w = n_chars —
    longer documents proportionally more likely. The selected id set
    is engine-reproducible, so DuckDB recomputes the identical
    sample."""
    from curw_flo2d_data_manager_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, ["doc_id"], "n_chars", 100, salt="r4")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


F_WEIGHTED_SQL = """
SELECT doc_id, n_chars
FROM (
    SELECT doc_id, n_chars,
           pow((CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), 'r4')), 1, 8))
                     AS BIGINT) + 0.5) / 4294967296.0,
               1.0 / CAST(n_chars AS DOUBLE)) AS ares_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY ares_key DESC, doc_id
    LIMIT 100
)
ORDER BY doc_id
"""


def f_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing of documents into
    2048-token bins (whitespace token counts, docs truncated at 512):
    per-bin fill stats. The parallel-prefix cumsum is recomputed by
    DuckDB as a plain window cumsum — identical bins prove the
    two-phase decomposition equals the sequential semantics."""
    from curw_flo2d_data_manager_spark.operators.packing import (
        bin_stats,
        pack_sequences,
    )
    from curw_flo2d_data_manager_spark.operators.textstats import (
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_token_count("text").alias("n_ws")
    )
    packed = pack_sequences(
        docs, "doc_id", "n_ws", budget=2048, truncate_to=512
    )
    return bin_stats(packed, 2048).orderBy("bin_id")


F_PACK_SQL = """
WITH toks AS (
    SELECT doc_id,
           least(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                      THEN 0
                      ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                 END, 512) AS n_tokens
    FROM documents
),
pos AS (
    SELECT doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
    FROM toks
)
SELECT CAST(start // 2048 AS BIGINT) AS bin_id,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 2048, 4) AS utilization
FROM pos
GROUP BY 1
ORDER BY bin_id
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a duplicate-pair graph (the step that
    turns LSH/SimHash/winnowing PAIRS into per-cluster canonical ids).

    The pair stream is built deterministically from documents so the
    oracle can replay it: chain links (d, d+1) for d%10<3 give 4-node
    paths, merge links (d, d+50) for d%25=0 stitch every 50th chain
    into one long component — multi-hop transitive closure that a
    single join cannot produce. Labels via alternating large-star /
    small-star contraction (operators/components.py); the oracle is a
    DuckDB recursive CTE propagating min-reachable-id to fixpoint.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    b = docs.select(F.col("doc_id").alias("dst_id"))
    chain = (
        docs.filter(F.col("doc_id") % 10 < 3)
        .join(b, F.col("dst_id") == F.col("doc_id") + 1)
        .select(F.col("doc_id").alias("id_a"), F.col("dst_id").alias("id_b"))
    )
    merge = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .join(b, F.col("dst_id") == F.col("doc_id") + 50)
        .select(F.col("doc_id").alias("id_a"), F.col("dst_id").alias("id_b"))
    )
    pairs = chain.unionByName(merge)
    return connected_components(pairs).orderBy("id")


DEDUP_COMPONENTS_SQL = """
WITH RECURSIVE
e AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 10 < 3
    UNION ALL
    SELECT a.doc_id, b.doc_id
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 50
    WHERE a.doc_id % 25 = 0
),
sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach(id, lab) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
)
SELECT id, MIN(lab) AS component
FROM reach GROUP BY id ORDER BY id
"""


def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup with planted copies: every 4th
    document gets a verbatim copy (doc_id + 1,000,000); first-
    occurrence-wins means every copy passage must be dropped and every
    original kept (organic 8-word collisions don't exist in this
    corpus, so the oracle is exact). Output is the per-document
    retention summary a pipeline would filter on.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # single-generator planted corpus (identical multiset; one scan)
    corpus = docs.select(
        F.explode(
            F.concat(
                F.array(F.col("doc_id")),
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.array(F.col("doc_id") + 1_000_000),
                ).otherwise(F.array().cast("array<bigint>")),
            )
        ).alias("doc_id"),
        "text",
    )
    p = passage_dedup(corpus, "doc_id", "text", passage_words=8)
    return (
        p.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_passages"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(0)).alias(
                "kept_words"
            ),
        )
        .orderBy("doc_id")
    )


DEDUP_PASSAGES_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0
),
w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM corpus
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
p AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(words[((i-1)*8+1):(i*8)], ' ')) AS passage_hash,
           len(words[((i-1)*8+1):(i*8)]) AS n_words
    FROM w, UNNEST(range(1, CAST(ceil(len(words)/8.0) AS BIGINT) + 1)) AS t(i)
),
ranked AS (
    SELECT doc_id, pos, n_words,
           ROW_NUMBER() OVER (PARTITION BY passage_hash ORDER BY doc_id, pos) AS rk
    FROM p
)
SELECT doc_id,
       COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_passages,
       CAST(SUM(CASE WHEN rk = 1 THEN n_words ELSE 0 END) AS BIGINT) AS kept_words
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed tf-idf
    (rounded before ranking so the order is float-robust)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).orderBy("doc_id", "rank")


TEXT_TFIDF_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
tok AS (SELECT doc_id, unnest(words) AS term FROM w),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM w),
scored AS (
    SELECT t.doc_id, t.term, t.tf, d.df,
           ROUND(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
    FROM tf t JOIN df d USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""


def text_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture plan per (lang, source): doc/token counts,
    token share, and the alpha=0.7 temperature-scaled sampling weight
    (small domains upweighted, the standard multilingual rebalance)."""
    docs = _t(spark, sf_dir, "documents")
    return domain_mixture(docs, ["lang", "source"], "text", alpha=0.7).orderBy(
        "lang", "source"
    )


TEXT_MIXTURE_SQL = """
WITH per AS (
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                         THEN 0
                         ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                    END) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang, source
),
shared AS (
    SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share_raw
    FROM per
)
SELECT lang, source, n_docs, n_tokens,
       ROUND(share_raw, 6) AS token_share,
       ROUND(POW(share_raw, 0.7) / SUM(POW(share_raw, 0.7)) OVER (), 6) AS sample_weight
FROM shared
ORDER BY lang, source
"""


def dedup_cluster_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup pipeline: MinHash+LSH pairs → connected
    components → keep-one-per-cluster decision. This is the composition
    a real corpus dedup run executes; each stage is separately gated
    (`dedup_minhash_lsh`, `dedup_components`) and this entry gates the
    composition itself.

    Planted clusters: every 5th document gets TWO verbatim copies
    (sizes 3) and every 7th ONE copy (size 2; doc_id%35 gets both →
    size 4). At jaccard_threshold=1.0 the true pair set is exactly
    {identical shingle sets}, identity is transitive, so the connected
    components ARE the equality classes — which DuckDB reproduces by
    grouping on the sorted-shingle-set fingerprint. Output per corpus
    member: its canonical cluster id, cluster size, and the keep flag
    (survivor = smallest id in cluster).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # plant the copies with ONE generator over ONE scan: the old
    # 4-branch self-union re-scanned documents four times AND
    # concatenated four 32-partition branches into a 128-partition
    # corpus — every downstream pass over 8.4k rows then paid 128
    # task schedulings (guide §2.4/§6: same rows, one scan, the
    # scan's own partitioning). Identical corpus multiset.
    empty = F.array().cast("array<bigint>")
    ids = F.concat(
        F.array(F.col("doc_id")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.array(
                F.col("doc_id") + 1_000_000, F.col("doc_id") + 2_000_000
            ),
        ).otherwise(empty),
        F.when(
            F.col("doc_id") % 7 == 0, F.array(F.col("doc_id") + 3_000_000)
        ).otherwise(empty),
    )
    corpus = docs.select(F.explode(ids).alias("doc_id"), "text")
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=16, bands=4, jaccard_threshold=1.0
    ).select("id_a", "id_b")
    return (
        cluster_assign(corpus, pairs, "doc_id")
        .select("doc_id", "component", "cluster_size", "keep")
        .orderBy("doc_id")
    )


DEDUP_CLUSTER_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 7 = 0
),
sh AS (
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
               ELSE [array_to_string(w, ' ')] END)), chr(31)) AS key
    FROM (
        SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS w
        FROM corpus
    )
)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY key) AS component,
       COUNT(*) OVER (PARTITION BY key) AS cluster_size,
       doc_id = MIN(doc_id) OVER (PARTITION BY key) AS keep
FROM sh
ORDER BY doc_id
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style in-corpus LM quality signal: per-doc average
    add-one-smoothed unigram log-probability (rounded to 4 so the
    value never hinges on float summation order)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


TEXT_UNIGRAM_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
tok AS (SELECT doc_id, unnest(words) AS term FROM w),
uni AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT SUM(cnt) AS n_tok, COUNT(*) AS vocab FROM uni),
scored AS (
    SELECT t.doc_id,
           ln((u.cnt + 1.0) / (tot.n_tok + tot.vocab)) AS lp
    FROM tok t JOIN uni u USING (term) CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(lp), 4) AS avg_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-corpus bigram-LM quality signal (one rung up from
    text_unigram_logprob toward KenLM filters): per-doc tf-weighted
    average of add-one-smoothed conditional bigram log-probability."""
    from curw_flo2d_data_manager_spark.operators.textstats import bigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


TEXT_BIGRAM_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
tok AS (
    SELECT doc_id,
           unnest(words[1:len(words)-1]) AS w1,
           unnest(words[2:len(words)]) AS w2
    FROM w WHERE len(words) >= 2
),
tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3),
cb AS (SELECT w1, w2, SUM(tf) AS cb FROM tf GROUP BY 1, 2),
cw AS (SELECT w1, SUM(cb) AS cw FROM cb GROUP BY 1),
v AS (SELECT COUNT(*) AS vocab FROM cw),
scored AS (
    SELECT t.doc_id, t.tf,
           ln((c.cb + 1.0) / (x.cw + v.vocab)) AS lp
    FROM tf t JOIN cb c USING (w1, w2) JOIN cw x USING (w1) CROSS JOIN v
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(SUM(tf * lp) / SUM(tf), 4) AS avg_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def text_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided training-mix plan against a 100k-token budget:
    oversized domains get keep_fraction < 1, undersized ones get
    epochs > 1 — DuckDB re-derives the whole plan from the mixture
    weights."""
    from curw_flo2d_data_manager_spark.operators.textstats import epoch_plan

    docs = _t(spark, sf_dir, "documents")
    return epoch_plan(
        docs, ["lang", "source"], "text", target_tokens=100_000, alpha=0.7
    ).orderBy("lang", "source")


TEXT_EPOCH_SQL = """
WITH per AS (
    SELECT lang, source,
           CAST(SUM(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                         THEN 0
                         ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                    END) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang, source
),
shared AS (
    SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share_raw
    FROM per
),
planned AS (
    SELECT lang, source, n_tokens,
           ROUND(POW(share_raw, 0.7) / SUM(POW(share_raw, 0.7)) OVER (), 6)
               * 100000.0 AS desired
    FROM shared
)
SELECT lang, source, n_tokens,
       CAST(ROUND(desired) AS BIGINT) AS target_domain_tokens,
       CASE WHEN n_tokens > 0
            THEN ROUND(LEAST(1.0, desired / n_tokens), 6) ELSE 1.0
       END AS keep_fraction,
       CASE WHEN n_tokens > 0
            THEN ROUND(GREATEST(1.0, desired / n_tokens), 4) ELSE 1.0
       END AS epochs
FROM planned
ORDER BY lang, source
"""


def text_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus token stream (terms with ≥0.2%
    of all tokens) via exact per-hash-bucket candidate counts + an
    exact verification pass — candidacy only prunes (collisions can
    only add candidates), so the certified output is exactly DuckDB's
    groupBy + threshold filter."""
    from curw_flo2d_data_manager_spark.operators.textstats import frequent_terms

    docs = _t(spark, sf_dir, "documents").select("text")
    return frequent_terms(docs, "text", min_share=0.002).orderBy("term")


TEXT_FREQ_SQL = """
WITH tok AS (
    SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+')) AS term
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
tot AS (SELECT COUNT(*) AS n_tok FROM tok)
SELECT term, COUNT(*) AS cnt
FROM tok CROSS JOIN tot
GROUP BY term, tot.n_tok
HAVING COUNT(*) * 500 >= tot.n_tok
ORDER BY term
"""


def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (32 words, 8 overlap) — the
    pre-packing step. The oracle re-derives every chunk's word slice
    and sha via DuckDB list slicing, so boundaries, overlap, and the
    at-least-one-chunk rule are all hash-checked."""
    from curw_flo2d_data_manager_spark.operators.textstats import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        chunk_documents(docs, "doc_id", "text", chunk_words=32, overlap=8)
        .select(
            "doc_id",
            "chunk_idx",
            "n_words",
            F.sha2("chunk_text", 256).alias("chunk_sha"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


TEXT_CHUNK_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
n AS (
    SELECT doc_id, words,
           CAST(greatest(1, ceil((len(words) - 8) / 24.0)) AS INT) AS n_chunks
    FROM w
),
chunks AS (
    SELECT doc_id,
           CAST(k AS INT) AS chunk_idx,
           words[k * 24 + 1 : k * 24 + 32] AS cw
    FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS k)
)
SELECT doc_id, chunk_idx,
       CAST(len(cw) AS INT) AS n_words,
       sha256(array_to_string(cw, ' ')) AS chunk_sha
FROM chunks
ORDER BY doc_id, chunk_idx
"""


def f_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leak-free train/val/test assignment over the
    documents table: 0.8/0.1/0.1 by md5 bucket of doc_id — the oracle
    re-derives every row's split independently from the same hash."""
    from curw_flo2d_data_manager_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_assign(
        docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}
    ).orderBy("doc_id")


F_SPLIT_SQL = """
SELECT doc_id, lang,
       CASE WHEN b < 'cccccccc' THEN 'train'
            WHEN b < 'e6666666' THEN 'val'
            ELSE 'test' END AS split
FROM (
    SELECT doc_id, lang,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS b
    FROM documents
)
ORDER BY doc_id
"""


def f_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction end-to-end: temperature-scaled domain
    weights → per-domain keep fractions against a 50k-token budget →
    deterministic md5-bucket row selection; summarized per domain so
    the oracle checks the exact kept set (counts + token sums)."""
    from curw_flo2d_data_manager_spark.operators.sampling import mixture_resample

    docs = _t(spark, sf_dir, "documents")
    kept = mixture_resample(
        docs, ["lang", "source"], ["doc_id"], "text",
        target_tokens=50_000, alpha=0.7,
    )
    return (
        kept.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum(whitespace_token_count("text")).alias("kept_tokens"),
        )
        .orderBy("lang", "source")
    )


F_MIXTURE_SQL = """
WITH per AS (
    SELECT lang, source,
           CAST(SUM(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                         THEN 0
                         ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                    END) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang, source
),
shared AS (
    SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share_raw
    FROM per
),
rates AS (
    SELECT lang, source,
           LEAST(1.0, ROUND(POW(share_raw, 0.7) / SUM(POW(share_raw, 0.7)) OVER (), 6)
                      * 50000.0 / n_tokens) AS kf
    FROM shared
),
kept AS (
    SELECT d.doc_id, d.lang, d.source,
           CASE WHEN trim(regexp_replace(lower(d.text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                THEN 0
                ELSE len(string_split_regex(trim(regexp_replace(lower(d.text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
           END AS n_tok
    FROM documents d JOIN rates r USING (lang, source)
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
          CASE WHEN r.kf >= 1.0 THEN 'g'
               ELSE lpad(lower(hex(CAST(FLOOR(r.kf * 4294967296) AS BIGINT))), 8, '0')
          END
)
SELECT lang, source, COUNT(*) AS kept_docs, CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
FROM kept GROUP BY lang, source ORDER BY lang, source
"""


def f_materialize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical training mix from the epoch plan against a 30k-token
    budget: oversized domains appear once for an md5-selected subset,
    undersized domains repeat ⌊epochs⌋ times plus an md5-selected
    fractional pass, every row stamped with its epoch — DuckDB
    re-derives the full (doc_id, epoch) multiset."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        materialize_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        materialize_mixture(
            docs, ["lang", "source"], ["doc_id"], "text",
            target_tokens=30_000, alpha=0.7,
        )
        .select("doc_id", "lang", "source", "epoch")
        .orderBy("doc_id", "epoch")
    )


F_MATERIALIZE_SQL = """
WITH per AS (
    SELECT lang, source,
           CAST(SUM(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                         THEN 0
                         ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                    END) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang, source
),
shared AS (
    SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share_raw
    FROM per
),
plan AS (
    SELECT lang, source, n_tokens,
           ROUND(POW(share_raw, 0.7) / SUM(POW(share_raw, 0.7)) OVER (), 6)
               * 30000.0 AS desired
    FROM shared
),
rates AS (
    SELECT lang, source,
           CASE WHEN n_tokens > 0
                THEN ROUND(LEAST(1.0, desired / n_tokens), 6) ELSE 1.0
           END AS kf,
           CASE WHEN n_tokens > 0
                THEN ROUND(GREATEST(1.0, desired / n_tokens), 4) ELSE 1.0
           END AS ep
    FROM plan
),
copies AS (
    SELECT d.doc_id, d.lang, d.source,
           CASE WHEN r.kf < 1.0 THEN
                    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
                              lpad(lower(hex(CAST(FLOOR(r.kf * 4294967296) AS BIGINT))), 8, '0')
                         THEN 1 ELSE 0 END
                ELSE CAST(FLOOR(r.ep) AS INT) +
                    CASE WHEN r.ep - FLOOR(r.ep) > 0
                              AND substr(md5(CAST(d.doc_id AS VARCHAR) || ':epoch'), 1, 8) <
                                  lpad(lower(hex(CAST(FLOOR((r.ep - FLOOR(r.ep)) * 4294967296) AS BIGINT))), 8, '0')
                         THEN 1 ELSE 0 END
           END AS n_copies
    FROM documents d JOIN rates r USING (lang, source)
)
SELECT doc_id, lang, source, CAST(e AS INT) AS epoch
FROM copies, LATERAL (SELECT unnest(range(1, n_copies + 1)) AS e)
ORDER BY doc_id, epoch
"""


