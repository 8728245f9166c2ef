"""A/W rows: aggregation and window parity queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.cumulative import cumulative_fraction
from curw_flo2d_data_manager_spark.operators.resample import resample_sum
from curw_flo2d_data_manager_spark.queries._shared import _events, _t


# =====================================================================
# A/W rows: aggregation + windows
# =====================================================================

def a2_resample_right_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: 15-min right-labeled right-closed resample-sum (pandas
    parity semantics) over one day of events."""
    ev = _events(spark, sf_dir, end="2024-01-03 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    out = resample_sum(ev.select(F.col("ts").alias("time"), "value"), 15)
    return out.select("time", F.round("value", 4).alias("value")).orderBy("time")


A2_SQL = """
WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
SELECT make_timestamp(CAST(ceil(epoch(ts) / 900) * 900 AS BIGINT) * 1000000) AS time,
       ROUND(SUM(value), 4) AS value
FROM ev
WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1
ORDER BY 1
"""


def a_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: 15-min and hourly right-closed
    sums in one plan, the hourly level aggregated FROM the 15-min level
    (lossless since 60 % 15 == 0) — oracle recomputes both from raw."""
    from curw_flo2d_data_manager_spark.operators.rollup_cascade import rollup_cascade

    ev = _events(spark, sf_dir, end="2024-01-04 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp")
    )
    out = rollup_cascade(
        ev.select(F.col("ts").alias("time"), "value"), [15, 60]
    )
    return out.select(
        "level_minutes", "time", F.round("value", 4).alias("value")
    ).orderBy("level_minutes", "time")


A_CASCADE_SQL = """
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
            WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00')
SELECT 15 AS level_minutes,
       make_timestamp(CAST(ceil(epoch(ts) / 900) * 900 AS BIGINT) * 1000000) AS time,
       ROUND(SUM(value), 4) AS value
FROM ev GROUP BY 2
UNION ALL
SELECT 60,
       make_timestamp(CAST(ceil(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000),
       ROUND(SUM(value), 4)
FROM ev GROUP BY 2
ORDER BY level_minutes, time
"""


def a4_cumulative_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4/W1: per-series running sum + fraction-of-total with the
    total==0 guard (RAIN.DAT cumulative normalization)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    out = cumulative_fraction(
        ev.select("user_id", F.col("ts").alias("time"), "event_id", "value"),
        time_col="event_id",  # unique per row → deterministic order
        group_cols=["user_id"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("cum_value", 4).alias("cum_value"),
        F.round("cum_fraction", 6).alias("cum_fraction"),
    ).orderBy("user_id", "event_id")


A4_SQL = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER w, 4) AS cum_value,
       ROUND(CASE WHEN SUM(value) OVER (PARTITION BY user_id) = 0 THEN 0.0
                  ELSE (SUM(value) OVER w) / (SUM(value) OVER (PARTITION BY user_id))
             END, 6) AS cum_fraction
FROM events
WHERE user_id < 5
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
ORDER BY user_id, event_id
"""


def w2_elapsed_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: elapsed hours since each series' first sample."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 3)
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("t0", F.min("ts").over(w))
        .select(
            "user_id",
            "event_id",
            F.round(
                (F.col("ts").cast("double") - F.col("t0").cast("double")) / 3600.0, 6
            ).alias("elapsed_hours"),
        )
        .orderBy("user_id", "event_id")
    )


W2_SQL = """
WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
SELECT user_id, event_id,
       ROUND((epoch(ts) - MIN(epoch(ts)) OVER (PARTITION BY user_id)) / 3600.0, 6)
           AS elapsed_hours
FROM ev
WHERE user_id < 3
ORDER BY user_id, event_id
"""


def w3_fill_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: last-non-null propagation in event order — each event carries
    the value of its user's most recent 'login' event (section-header
    fill-down idiom from the HYCHAN parser)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    marked = ev.withColumn(
        "login_value", F.when(F.col("event_type") == "signup", F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("last_login_value", F.last("login_value", ignorenulls=True).over(w))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round("last_login_value", 4).alias("last_login_value"),
        )
        .orderBy("user_id", "event_id")
    )


W3_SQL = """
SELECT user_id, event_id, event_type,
       ROUND(last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING), 4)
           AS last_login_value
FROM events
WHERE user_id < 5
ORDER BY user_id, event_id
"""


