"""S-rows: store scans re-expressed on the events table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.plans.rain import nearest_gauge_grid_ids, rain_lines
from curw_flo2d_data_manager_spark.queries._shared import _events, _t


# =====================================================================
# S-rows: store scans re-expressed on the events table
# =====================================================================

def s1_series_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/F1/F2/O1: one series (user) in a time window, ordered."""
    ev = _events(spark, sf_dir, "2024-01-05 00:00:00", "2024-01-20 00:00:00")
    return (
        ev.filter(
            (F.col("user_id") == 5)
            & F.col("ts").between(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-20 00:00:00").cast("timestamp"),
            )
        )
        .select("event_id", "ts", "event_type", F.round("value", 4).alias("value"))
        .orderBy("ts")
    )


S1_SQL = """
SELECT event_id, ts, event_type, ROUND(value, 4) AS value
FROM events
WHERE user_id = 5
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
ORDER BY ts
"""


def s3_first_value_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/A6/O3: earliest value per series in a window via min_by —
    partial-aggregable, no sort (reference: getWL + fetchone)."""
    ev = _events(spark, sf_dir, start="2024-01-10 00:00:00")
    return (
        ev.filter(F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("first_value"),
            F.min("ts").alias("first_ts"),
        )
        .orderBy("user_id")
    )


S3_SQL = """
SELECT user_id,
       ROUND(arg_min(value, ts), 4) AS first_value,
       MIN(ts) AS first_ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
GROUP BY user_id
ORDER BY user_id
"""


def s6_max_end_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A1: latest available timestamp per series family."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.max("ts").alias("ts_end")).orderBy("event_type")


S6_SQL = """
SELECT event_type, MAX(ts) AS ts_end FROM events GROUP BY event_type ORDER BY event_type
"""


def s2_grid_scan_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/X9: the raincell derivation — whole-range grid scan as ONE
    join+filter plan (vs the reference's per-timestep stored-proc loop),
    plus the water-supply constant add (+1/288)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1996-06-30").cast("timestamp"),
            )
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_shipdate").alias("time"), F.col("p_partkey").alias("cell_id"))
        .agg(F.round(F.sum(F.col("l_quantity") + F.lit(1.0) / 288), 4).alias("value"))
        .orderBy("time", "cell_id")
    )


S2_SQL = """
SELECT l_shipdate AS time, p_partkey AS cell_id,
       ROUND(SUM(l_quantity + 1.0/288), 4) AS value
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-06-30'
GROUP BY 1, 2
ORDER BY 1, 2
"""


def s4_nearest_gauge_rain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 + J6 + K4: the flo2d_10 rain path end-to-end — config point →
    nearest gauge (rank-1 broadcast theta join) → ``rainfall_{id}_{name}
    _MDPA`` grid-id format → series resolution → RAIN.DAT render with
    the flo2d_10 spec (5-min grid, NO resample).

    Reference: input/rain/gen_rain.py:119-135 (getNearestWeatherStation
    + grid-id format + get_timeseries_id), :155-163 (flo2d_10 takes the
    timestep-5 branch, so no resample), :306-314 (config-point entry).
    The station dim is derived deterministically from ``nation`` so the
    DuckDB oracle recomputes the same nearest-station pick, grid-id
    string, and full render."""
    nation = _t(spark, sf_dir, "nation")
    stations = nation.select(
        F.col("n_nationkey").alias("station_id"),
        F.col("n_name").alias("name"),
        (F.lit(6.5) + F.col("n_nationkey") * F.lit(0.05)).alias("latitude"),
        (F.lit(79.5) + (F.col("n_nationkey") % 5) * F.lit(0.1)).alias("longitude"),
    )
    grid_ids = nearest_gauge_grid_ids(spark, stations, 6.93, 79.86)
    # synthetic run dim: each station's grid id resolves to one user
    # cohort (user_id ≡ station_id mod 25) — id resolution is a
    # broadcast join, not a driver round-trip
    run = stations.select(
        F.format_string("rainfall_%d_%s_MDPA", "station_id", "name").alias("grid_id"),
        F.col("station_id").alias("sid"),
    )
    cohort = run.join(F.broadcast(grid_ids), "grid_id").select("sid")
    ev = _events(spark, sf_dir, end="2024-01-20 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp")
    )
    series = (
        ev.join(F.broadcast(cohort), ev.user_id % 25 == F.col("sid"))
        .groupBy(
            F.timestamp_seconds(
                F.floor(F.col("ts").cast("double") / 300).cast("long") * 300
            ).alias("time")
        )
        .agg((F.round(F.sum("value"), 6) - 100.0).alias("value"))
    )
    lines = rain_lines(
        spark, series, "flo2d_10_Blomandl", "2024-01-02 00:00:00", "2024-01-20 00:00:00"
    )
    return (
        lines.crossJoin(F.broadcast(grid_ids))
        .select("grid_id", "block_rank", "intra_rank", "line")
        .orderBy("block_rank", "intra_rank")
    )


S4_SQL = """
WITH stations AS (
    SELECT n_nationkey AS station_id, n_name AS name,
           6.5 + n_nationkey * CAST(0.05 AS DOUBLE) AS latitude,
           79.5 + (n_nationkey % 5) * CAST(0.1 AS DOUBLE) AS longitude
    FROM nation
),
nearest AS (
    SELECT station_id, name,
           printf('rainfall_%d_%s_MDPA', station_id, name) AS grid_id
    FROM stations
    ORDER BY (latitude - 6.93) * (latitude - 6.93)
             + (longitude - 79.86) * (longitude - 79.86),
             station_id, name, latitude, longitude
    LIMIT 1
),
ev AS (
    SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
    WHERE user_id % 25 = (SELECT station_id FROM nearest)
      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
),
series AS (
    SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS time,
           ROUND(SUM(value), 6) - 100.0 AS value
    FROM ev GROUP BY 1
),
spine AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-02 00:00:00',
                                        TIMESTAMP '2024-01-20 00:00:00',
                                        INTERVAL 5 MINUTE)) AS time),
aligned AS (SELECT s.time, se.value FROM spine s JOIN series se USING (time)),
cleaned AS (SELECT time, CASE WHEN value < 0 THEN NULL ELSE value END AS value FROM aligned),
tot AS (SELECT COALESCE(SUM(value), 0.0) AS t FROM cleaned),
cum AS (
    SELECT time, SUM(value) OVER (ORDER BY time ROWS UNBOUNDED PRECEDING) AS cum_value
    FROM cleaned
)
SELECT (SELECT grid_id FROM nearest) AS grid_id, 0 AS block_rank,
       CAST(0 AS BIGINT) AS intra_rank, ' 0             0 ' AS line
UNION ALL
SELECT (SELECT grid_id FROM nearest), 0, 1,
       printf(' %.3f         5             0             0 ',
              CAST(ROUND(CAST(CAST(t AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE))
FROM tot
UNION ALL
SELECT (SELECT grid_id FROM nearest), 1, CAST(epoch(time) AS BIGINT),
       'R              '
       || rpad(printf('%.3f', CAST(ROUND(CAST(CAST((epoch(time) - epoch(TIMESTAMP '2024-01-02 00:00:00')) / 3600.0 AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE)), 14, ' ')
       || printf('%.3f', CAST(ROUND(CAST(CAST(CASE WHEN (SELECT t FROM tot) = 0 THEN 0.0 ELSE COALESCE(cum_value / (SELECT t FROM tot), 0.0) END AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE))
       || ' '
FROM cum
"""


