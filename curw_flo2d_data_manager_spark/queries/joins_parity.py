"""J-rows: join-family parity queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.gapfill import gap_fill_cross
from curw_flo2d_data_manager_spark.operators.spine import spine_align
from curw_flo2d_data_manager_spark.queries._shared import _events, _t


# =====================================================================
# J-rows: joins
# =====================================================================

def j1_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/X8: dense hourly spine left-joined to hourly event sums —
    gaps surface as NULLs."""
    ev = _events(spark, sf_dir, "2024-01-02 00:00:00", "2024-01-02 23:59:59")
    hourly = ev.filter(
        F.col("ts").between(
            F.lit("2024-01-02 00:00:00").cast("timestamp"),
            F.lit("2024-01-02 23:59:59").cast("timestamp"),
        )
    ).groupBy(F.date_trunc("hour", "ts").alias("time")).agg(
        F.round(F.sum("value"), 4).alias("value"), F.count(F.lit(1)).alias("n")
    )
    return spine_align(
        spark, hourly, "2024-01-02 00:00:00", "2024-01-02 23:00:00", 60
    ).orderBy("time")


J1_SQL = """
SELECT s.time, h.value, h.n
FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-02 00:00:00',
                                    TIMESTAMP '2024-01-02 23:00:00',
                                    INTERVAL 1 HOUR)) AS time) s
LEFT JOIN (
    SELECT date_trunc('hour', ts) AS time, ROUND(SUM(value), 4) AS value, COUNT(*) AS n
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-01-02 23:59:59'
    GROUP BY 1
) h USING (time)
ORDER BY s.time
"""


def j2_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3: broadcast dimension-chain lookup (station-map analogue)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("r_name", "n_name")
    )


J2_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def j5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/F3: left-semi membership filter (CHANNEL_CELL_MAP analogue)."""
    li = _t(spark, sf_dir, "lineitem")
    keys = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        li.join(F.broadcast(keys), li.l_partkey == keys.p_partkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("l_returnflag")
    )


J5_SQL = """
SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def j8_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/F7: (day × event_type) cross grid, −999 sentinel at the
    boundary (TIMDEP gap-fill analogue)."""
    ev = _events(spark, sf_dir, end="2024-01-08 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("time"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("value"))
    types = _t(spark, sf_dir, "events").select("event_type").distinct()
    return (
        gap_fill_cross(daily, types, time_col="time", key_cols=["event_type"], fill=-999.0)
        .orderBy("time", "event_type")
    )


J8_SQL = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS time, event_type, ROUND(SUM(value), 4) AS value
    FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY 1, 2
)
SELECT t.time, k.event_type, COALESCE(d.value, -999.0) AS value
FROM (SELECT DISTINCT time FROM daily) t
CROSS JOIN (SELECT DISTINCT event_type FROM events) k
LEFT JOIN daily d ON d.time = t.time AND d.event_type = k.event_type
ORDER BY t.time, k.event_type
"""


def j6_nearest_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/J6/W4: rank-1 nearest neighbor by a distance expression —
    for each part type, the part whose retail price is closest to 1500."""
    part = _t(spark, sf_dir, "part")
    part2 = part.select("p_partkey", "p_type", "p_retailprice")
    w = Window.partitionBy("p_type").orderBy(
        F.abs(F.col("p_retailprice") - 1500.0), "p_partkey"
    )
    return (
        part2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_type", "p_partkey", F.round("p_retailprice", 2).alias("p_retailprice"))
        .orderBy("p_type")
    )


J6_SQL = """
SELECT p_type, p_partkey, ROUND(p_retailprice, 2) AS p_retailprice
FROM (
    SELECT p_type, p_partkey, p_retailprice,
           ROW_NUMBER() OVER (PARTITION BY p_type
                              ORDER BY ABS(p_retailprice - 1500.0), p_partkey) AS rk
    FROM part
) WHERE rk = 1
ORDER BY p_type
"""


