"""F/X/K/U rows: scalar functions, sentinels, fixed-width rendering."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.ids import series_hash_id
from curw_flo2d_data_manager_spark.functions.plan_literals import literal_rows_df
from curw_flo2d_data_manager_spark.operators.multimodal import decode_image_meta
from curw_flo2d_data_manager_spark.operators.similarity import ivf_topk
from curw_flo2d_data_manager_spark.plans.outflow import outflow_lines
from curw_flo2d_data_manager_spark.plans.rain import rain_lines
from curw_flo2d_data_manager_spark.plans.raincell import raincell_lines
from curw_flo2d_data_manager_spark.queries._shared import _events, _t
from curw_flo2d_data_manager_spark.queries.agg_windows import A2_SQL


# =====================================================================
# F/X/K/U rows: scalar functions, sentinels, rendering
# =====================================================================

def f6_sentinel_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/F6: sentinel filtering + conditional NULL-ing + cast guard:
    values above 195 are treated as a gap sentinel (dropped), values
    below 5 NULL-ed (negative-rewrite analogue)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") <= 195.0)
        .withColumn("clean_value", F.when(F.col("value") < 5.0, None).otherwise(F.col("value")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("clean_value").alias("n_clean"),
            F.round(F.avg("clean_value"), 4).alias("avg_clean"),
        )
        .orderBy("event_type")
    )


F6_SQL = """
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(CASE WHEN value >= 5.0 THEN value END) AS n_clean,
       ROUND(AVG(CASE WHEN value >= 5.0 THEN value END), 4) AS avg_clean
FROM events
WHERE value <= 195.0
GROUP BY event_type
ORDER BY event_type
"""


def x4_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/S11: regex/JSON extraction from the props blob + aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k", F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("long")
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_k"),
        )
        .orderBy("event_type")
    )


X4_SQL = """
SELECT event_type,
       CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k, COUNT(k) AS n_k
FROM (
    SELECT event_type,
           TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k
    FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


def x11_series_hash_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: content-addressed series ids (sha256 over metadata tuple)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    return ev.select(
        "event_type",
        "user_id",
        series_hash_id(F.lit("daily_run"), "event_type", "user_id").alias("tms_id"),
    ).orderBy("event_type", "user_id")


X11_SQL = """
SELECT DISTINCT event_type, user_id,
       sha256('daily_run' || ':' || event_type || ':' || CAST(user_id AS VARCHAR)) AS tms_id
FROM events
ORDER BY event_type, user_id
"""


def k1_fixed_width_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/X1/U1/O2: INFLOW.DAT-style ordered fixed-width rendering —
    header block ∪ data block with explicit (block_rank, intra_rank)
    sort keys, the engine's ordered-text-sink row shape."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    w = Window.partitionBy(F.lit(1))
    data = (
        ev.withColumn("t0", F.min("ts").over(w))
        .select(
            F.lit(1).alias("block_rank"),
            F.col("event_id").alias("intra_rank"),
            F.format_string(
                "H%16.1f%16.1f",
                F.round((F.col("ts").cast("double") - F.col("t0").cast("double")) / 3600.0, 1),
                F.round(F.col("value"), 1),
            ).alias("line"),
        )
    )
    header = literal_rows_df(
        spark,
        [(0, 0, "C               0           41550"), (0, 1, "CONSTANT INFLOW")],
        "block_rank int, intra_rank long, line string",
    )
    return header.unionByName(data).orderBy("block_rank", "intra_rank")


K1_SQL = """
SELECT * FROM (
    SELECT 0 AS block_rank, 0 AS intra_rank, 'C               0           41550' AS line
    UNION ALL
    SELECT 0, 1, 'CONSTANT INFLOW'
    UNION ALL
    SELECT 1 AS block_rank, event_id AS intra_rank,
           printf('H%16.1f%16.1f',
                  CAST(ROUND(CAST(CAST((epoch(CAST(ts AS TIMESTAMP)) - MIN(epoch(CAST(ts AS TIMESTAMP))) OVER ()) / 3600.0 AS VARCHAR) AS DECIMAL(30,12)), 1) AS DOUBLE),
                  CAST(ROUND(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,12)), 1) AS DOUBLE)) AS line
    FROM events WHERE user_id = 1
)
ORDER BY block_rank, intra_rank
"""


def k3_raincell_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/S2/X9: the full RAINCELL.DAT pipeline over an events-derived
    hourly grid — header, per-step cell blocks with the water-supply
    correction, blank separators — as ONE plan (the reference looped a
    stored-proc call per timestep, gen_raincell.py:129-142)."""
    ev = _t(spark, sf_dir, "events")
    grid = ev.groupBy(
        F.date_trunc("hour", "ts").alias("time"), F.col("user_id").alias("cell_id")
    ).agg(F.round(F.sum("value"), 6).alias("value"))
    return raincell_lines(
        spark, grid, "flo2d_250", "2024-01-02 00:00:00", "2024-01-04 00:00:00"
    ).orderBy("block_rank", "intra_rank")


K3_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
grid AS (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS time, user_id AS cell_id,
           ROUND(SUM(value), 6) AS v
    FROM ev GROUP BY 1, 2
),
win AS (
    SELECT *, CAST((epoch(time) - epoch(TIMESTAMP '2024-01-02 00:00:00')) / 60 / 5 AS BIGINT) AS s
    FROM grid
    WHERE time > TIMESTAMP '2024-01-02 00:00:00' AND time <= TIMESTAMP '2024-01-04 00:00:00'
)
SELECT 0 AS block_rank, CAST(0 AS BIGINT) AS intra_rank,
       '5 576 2024-01-02 00:00:00 2024-01-04 00:00:00' AS line
UNION ALL
SELECT 1, s * 4294967296 + cell_id, printf('%d %.3f', cell_id, CAST(ROUND(CAST(CAST(v + 1.0/288 AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE)) FROM win
UNION ALL
SELECT 1, s * 4294967296 + 4294967295, ''
FROM (SELECT unnest(range(1, 577)) AS s)
"""


def k2_outflow_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/J7/F4: the full OUTFLOW.DAT pipeline — K/N/S blocks for the
    flo2d_150_v2 boundary nodes, with the −99999 gap sentinel dropped
    after the elapsed-hours origin is captured."""
    ev = _events(spark, sf_dir, end="2024-01-03 00:00:00").filter(
        (F.col("user_id") < 4) & (F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
    )
    node = F.element_at(
        F.array(F.lit(330), F.lit(462), F.lit(546), F.lit(1282)),
        (F.col("user_id") + 1).cast("int"),
    )
    tide = ev.select(
        node.alias("node"),
        # whole-second times: unix_timestamp truncates sub-seconds,
        # duckdb epoch() keeps them — align the two up front
        F.date_trunc("second", "ts").alias("time"),
        F.when(F.col("value") > 195.0, F.lit(-99999.0))
        .otherwise(F.round("value", 4))
        .alias("value"),
    )
    return outflow_lines(tide, "flo2d_150_v2").orderBy("block_rank", "intra_rank")


K2_SQL = """
WITH tide AS (
    SELECT CASE user_id WHEN 0 THEN 330 WHEN 1 THEN 462 WHEN 2 THEN 546 ELSE 1282 END AS node,
           date_trunc('second', CAST(ts AS TIMESTAMP)) AS time,
           CASE WHEN value > 195.0 THEN -99999.0 ELSE ROUND(value, 4) END AS value
    FROM events
    WHERE user_id < 4 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
),
org AS (SELECT node, MIN(time) AS t0 FROM tide GROUP BY node),
consts(block_rank, intra_rank, line) AS (VALUES
    (0, 0, 'K' || lpad('268', 16, ' ')),
    (0, 1, 'K' || lpad('391', 16, ' ')),
    (0, 2, 'K' || lpad('464', 16, ' ')),
    (0, 3, 'K' || lpad('1174', 16, ' ')),
    (1, 0, 'N' || lpad('330', 16, ' ') || lpad('1', 16, ' ')),
    (2, 0, 'N' || lpad('462', 16, ' ') || lpad('1', 16, ' ')),
    (3, 0, 'N' || lpad('546', 16, ' ') || lpad('1', 16, ' ')),
    (4, 0, 'N' || lpad('1282', 16, ' ') || lpad('1', 16, ' ')))
SELECT block_rank, CAST(intra_rank AS BIGINT) AS intra_rank, line FROM consts
UNION ALL
SELECT CASE node WHEN 330 THEN 1 WHEN 462 THEN 2 WHEN 546 THEN 3 ELSE 4 END,
       CAST(epoch(time) + 1 AS BIGINT),
       printf('S%16.3f%16.3f', CAST(ROUND(CAST(CAST((epoch(time) - epoch(t0)) / 3600.0 AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE), CAST(ROUND(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE))
FROM tide JOIN org USING (node)
WHERE CAST(value AS INT) != -99999
"""


def k4_rain_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 + J1/A2/F6/A3/A4/W1: the full RAIN.DAT pipeline — 5-min
    spine align, right-closed 15-min resample, post-resample negative
    nulling, cumulative-fraction normalization, fixed-width render."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    series = ev.groupBy(
        F.timestamp_seconds(
            F.floor(F.col("ts").cast("double") / 300).cast("long") * 300
        ).alias("time")
    ).agg((F.round(F.sum("value"), 6) - 100.0).alias("value"))
    return rain_lines(
        spark, series, "flo2d_150", "2024-01-02 00:00:00", "2024-01-10 00:00:00"
    ).orderBy("block_rank", "intra_rank")


K4_SQL = """
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events WHERE user_id = 1),
series AS (
    SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS time,
           ROUND(SUM(value), 6) - 100.0 AS value
    FROM ev GROUP BY 1
),
spine AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-02 00:00:00',
                                        TIMESTAMP '2024-01-10 00:00:00',
                                        INTERVAL 5 MINUTE)) AS time),
aligned AS (SELECT s.time, se.value FROM spine s JOIN series se USING (time)),
resampled AS (
    SELECT make_timestamp(CAST(ceil(epoch(time) / 900) * 900 AS BIGINT) * 1000000) AS time,
           SUM(value) AS value
    FROM aligned GROUP BY 1
),
cleaned AS (SELECT time, CASE WHEN value < 0 THEN NULL ELSE value END AS value FROM resampled),
tot AS (SELECT COALESCE(SUM(value), 0.0) AS t FROM cleaned),
cum AS (
    SELECT time, SUM(value) OVER (ORDER BY time ROWS UNBOUNDED PRECEDING) AS cum_value
    FROM cleaned
)
SELECT 0 AS block_rank, CAST(0 AS BIGINT) AS intra_rank, ' 0             0 ' AS line
UNION ALL
SELECT 0, 1, printf(' %.3f         5             0             0 ', CAST(ROUND(CAST(CAST(t AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE)) FROM tot
UNION ALL
SELECT 1, CAST(epoch(time) AS BIGINT),
       'R              '
       || rpad(printf('%.3f', CAST(ROUND(CAST(CAST((epoch(time) - epoch(TIMESTAMP '2024-01-02 00:00:00')) / 3600.0 AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE)), 14, ' ')
       || printf('%.3f', CAST(ROUND(CAST(CAST(CASE WHEN (SELECT t FROM tot) = 0 THEN 0.0 ELSE COALESCE(cum_value / (SELECT t FROM tot), 0.0) END AS VARCHAR) AS DECIMAL(30,12)), 3) AS DOUBLE))
       || ' '
FROM cum
"""


def sim_ivf_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a planted full oracle: the corpus carries one
    verbatim copy of every vector (same coordinates → same KMeans
    cell, cosine exactly 1). For each of 50 query vectors the probed
    buckets MUST contain both the vector itself (rank 1, id
    tie-break) and its planted copy (rank 2) — a broken index build,
    cell assignment, probe selection, or ranking drops one of them
    and breaks the hash match. The recall-vs-exact floor for
    non-trivial neighbors is pinned in tests/test_operators_core.py."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(planted)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(corpus, queries, k=2, n_clusters=8, nprobe=2)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


SIM_IVF_SQL = """
SELECT vec_id AS query_id, vec_id AS corpus_id,
       CAST(1.0 AS DOUBLE) AS cosine, 1 AS rank
FROM embeddings WHERE vec_id < 50
UNION ALL
SELECT vec_id, vec_id + 1000000, CAST(1.0 AS DOUBLE), 2
FROM embeddings WHERE vec_id < 50
ORDER BY query_id, rank
"""


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode stage: Arrow-batched mapInPandas over opaque
    binary content. The codec stand-in is deterministic (byte length,
    sha256, mean byte value as fake luma), so DuckDB can recompute
    every output column from the same bytes — a FULL oracle over the
    Python batch plumbing (Arrow round-trip, schema, null handling).
    The ``decoded`` health flag (False = stand-in produced the output;
    this sandbox has no codec, so it is False on every row) is part of
    the hashed result, pinning the fallback-visibility contract."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )
    return decode_image_meta(media).orderBy("media_id")


MM_DECODE_SQL = """
WITH b AS (
    SELECT doc_id AS media_id, text, encode(text) AS bb FROM documents
)
SELECT media_id,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE octet_length(bb) END AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha,
       CAST(CASE WHEN text IS NULL OR octet_length(bb) = 0 THEN 0
                 ELSE list_sum(list_transform(range(0, octet_length(bb)),
                          i -> CAST('0x' || substring(hex(bb), 2*i+1, 2) AS INT)))
                      // octet_length(bb) END AS BIGINT) AS fake_mean_luma,
       FALSE AS decoded
FROM b
ORDER BY media_id
"""


def p1_hychan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/W3/F5/X3: the HYCHAN.OUT section parser under the oracle
    gate — render a HYCHAN-shaped file from events (one section per
    user, one numeric row per event), parse it back with the real
    line-window parser, and let DuckDB recompute the expected relation
    (including the pinned trailing-section semantics: sections shorter
    than the FIRST section drop, longer ones truncate)."""
    import tempfile

    ev = (
        _events(spark, sf_dir, end="2024-01-06 00:00:00")
        .filter((F.col("user_id") < 6) & (F.col("ts") < F.lit("2024-01-06 00:00:00").cast("timestamp")))
        .select("user_id", "ts", "value")
    )
    rows = ev.orderBy("user_id", "ts").collect()  # small bounded slice
    path = tempfile.mktemp(prefix="hychan_", suffix=".txt")
    with open(path, "w") as f:
        last_uid, rn = None, 0
        for r in rows:
            if r.user_id != last_uid:
                f.write(
                    f"     CHANNEL HYDROGRAPH FOR ELEMENT NO:   {r.user_id + 1000}\n"
                )
                f.write("   TIME      ELEV\n")
                last_uid, rn = r.user_id, 0
            f.write(f"   {rn * 0.25:.2f}    {r.value:.3f}\n")
            rn += 1

    from curw_flo2d_data_manager_spark.sources.hychan import parse_hychan

    out = parse_hychan(spark, path, base_time="2024-01-01 00:00:00")
    return out.select(
        "element_no", "time", F.round("value", 3).alias("value")
    ).orderBy("element_no", "time")


P1_SQL = """
WITH ev AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    WHERE user_id < 6 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'
),
numbered AS (
    SELECT user_id + 1000 AS element,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn,
           ROUND(value, 3) AS value,
           COUNT(*) OVER (PARTITION BY user_id) AS sec_len
    FROM ev
),
c0 AS (SELECT sec_len AS series_length FROM numbered ORDER BY element LIMIT 1)
SELECT CAST(element AS VARCHAR) AS element_no,
       TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 1 SECOND * CAST(rn * 0.25 * 3600 AS BIGINT) AS time,
       value
FROM numbered, c0
WHERE sec_len >= series_length AND rn < series_length
ORDER BY element_no, time
"""


def p2_timdep_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/J8: the TIMDEP.OUT block parser under the oracle gate —
    render a TIMDEP-shaped file from events (one block per hour, one
    cell row per user seen that hour), parse it back, and let DuckDB
    recompute the expected densified relation (every known cell × every
    block, NULL where the block lacks the cell)."""
    import tempfile

    ev = (
        _events(spark, sf_dir, end="2024-01-03 00:00:00")
        .filter((F.col("user_id") < 8) & (F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "user_id")
        .agg(F.round(F.sum("value"), 3).alias("v"))
    )
    rows = ev.orderBy("hour", "user_id").collect()  # small bounded slice
    base = rows[0].hour if rows else None
    path = tempfile.mktemp(prefix="timdep_", suffix=".txt")
    with open(path, "w") as f:
        last_hour = None
        for r in rows:
            if r.hour != last_hour:
                hours = (r.hour - base).total_seconds() / 3600.0
                f.write(f"   {hours:.2f}\n")
                last_hour = r.hour
            # cell row: col 1 = cell id, col 6 = value (TIMDEP shape)
            f.write(f"  {r.user_id + 500}  0  0  0  0  {r.v:.3f}\n")

    from curw_flo2d_data_manager_spark.sources.timdep import parse_timdep

    cells = literal_rows_df(
        spark, [(str(u + 500),) for u in range(8)], "cell_id string"
    )
    out = parse_timdep(
        spark, path, base_time=base.strftime("%Y-%m-%d %H:%M:%S"), cells=cells
    )
    return out.select(
        "cell_id", "time", F.round("value", 3).alias("value")
    ).orderBy("cell_id", "time")


P2_SQL = """
WITH ev AS (
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
           user_id + 500 AS cell, ROUND(SUM(value), 3) AS v
    FROM events
    WHERE user_id < 8 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2
),
blocks AS (SELECT DISTINCT hour FROM ev),
cells AS (SELECT unnest(range(500, 508)) AS cell)
SELECT CAST(c.cell AS VARCHAR) AS cell_id, b.hour AS time, e.v AS value
FROM blocks b CROSS JOIN cells c
LEFT JOIN ev e ON e.hour = b.hour AND e.cell = c.cell
ORDER BY cell_id, time
"""


def k5_chan_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5/S7/J4/F7: the CHAN.DAT body pipeline — body pairs ⋈
    initial-conditions ⋈ first-observed-value with the reference's
    exact 4-branch default fallback, rendered ljust/rjust(6)."""
    from curw_flo2d_data_manager_spark.plans.chan import chan_lines

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 20)
    pairs = part.select(
        F.col("p_partkey").cast("long").alias("pair_idx"),
        (F.col("p_partkey") * 2).cast("string").alias("up_cell"),
        F.col("p_size").cast("string").alias("up_default"),
        (F.col("p_partkey") * 2 + 1).cast("string").alias("dwn_cell"),
        (F.col("p_size") + 1).cast("string").alias("dwn_default"),
    )
    ics = part.select(
        F.concat_ws(
            "_", F.lit("m"), (F.col("p_partkey") * 2).cast("string"),
            (F.col("p_partkey") * 2 + 1).cast("string"),
        ).alias("grid_id"),
        F.when(F.col("p_partkey") % 3 != 0, (F.col("p_partkey") % 10).cast("string"))
        .alias("up_obs_id"),
        F.when(F.col("p_partkey") % 2 != 0, ((F.col("p_partkey") + 1) % 10).cast("string"))
        .alias("dwn_obs_id"),
    )
    obs = (
        _events(spark, sf_dir, "2024-01-02 00:00:00", "2024-01-02 02:00:00")
        .filter(F.col("user_id") < 10)
        .select(
            F.col("user_id").cast("string").alias("id"),
            F.col("ts").alias("time"),
            F.round("value", 2).alias("value"),
        )
    )
    return chan_lines(pairs, ics, obs, "m", "2024-01-02 00:00:00").orderBy(
        "block_rank", "intra_rank"
    )


K5_SQL = """
WITH pairs AS (
    SELECT p_partkey AS pair_idx,
           CAST(p_partkey * 2 AS VARCHAR) AS up_cell,
           CAST(p_size AS VARCHAR) AS up_default,
           CAST(p_partkey * 2 + 1 AS VARCHAR) AS dwn_cell,
           CAST(p_size + 1 AS VARCHAR) AS dwn_default,
           CASE WHEN p_partkey % 3 != 0 THEN CAST(p_partkey % 10 AS VARCHAR) END AS up_obs_id,
           CASE WHEN p_partkey % 2 != 0 THEN CAST((p_partkey + 1) % 10 AS VARCHAR) END AS dwn_obs_id
    FROM part WHERE p_partkey <= 20
),
fv AS (
    SELECT CAST(user_id AS VARCHAR) AS id, arg_min(ROUND(value, 2), ts) AS wl
    FROM events
    WHERE user_id < 10
      AND CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-02 00:00:00'
                                    AND TIMESTAMP '2024-01-02 02:00:00'
    GROUP BY 1
),
resolved AS (
    SELECT p.*, u.wl AS up_wl, d.wl AS dwn_wl
    FROM pairs p
    LEFT JOIN fv u ON p.up_obs_id = u.id
    LEFT JOIN fv d ON p.dwn_obs_id = d.id
),
rendered AS (
    SELECT pair_idx,
           CASE WHEN up_wl IS NOT NULL THEN CAST(up_wl AS VARCHAR) ELSE up_default END AS up_out,
           CASE WHEN dwn_obs_id IS NULL THEN
                    CASE WHEN up_wl IS NOT NULL THEN CAST(up_wl AS VARCHAR) ELSE dwn_default END
                WHEN dwn_wl IS NOT NULL THEN CAST(dwn_wl AS VARCHAR)
                ELSE dwn_default END AS dwn_out,
           up_cell, dwn_cell
    FROM resolved
)
SELECT 1 AS block_rank, CAST(pair_idx * 2 AS BIGINT) AS intra_rank,
       rpad(up_cell, 6, ' ') || lpad(up_out, 6, ' ') AS line
FROM rendered
UNION ALL
SELECT 1, CAST(pair_idx * 2 + 1 AS BIGINT),
       rpad(dwn_cell, 6, ' ') || lpad(dwn_out, 6, ' ')
FROM rendered
"""


def _run_replay_stream(
    spark, src: str, build, name_prefix: str, mode: str, schema=None
) -> str:
    """Run ``build(read_series_stream(src))`` into a memory sink and
    tear the replay dir down afterwards.

    The memory sink materializes results driver-side, so the parquet
    replay source and the query's checkpoint (placed under ``src`` so
    one rmtree catches both) can be removed as soon as the query stops
    — previously every correctness run leaked a ``stream_*_src_`` dir
    plus checkpoint state in /tmp (round-2 advice). Returns the memory
    table name."""
    import os
    import shutil
    import uuid

    from curw_flo2d_data_manager_spark.streaming import read_series_stream

    name = name_prefix + uuid.uuid4().hex[:8]
    kwargs = {"schema": schema} if schema is not None else {}
    try:
        q = (
            build(read_series_stream(spark, src, **kwargs))
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(src, "_chk"))
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return name


def stream_resample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A2: one day of events replayed through a file-source
    stream → watermarked right-closed resample — results must equal the
    batch/DuckDB answer bucket-for-bucket (same grid expression)."""
    import tempfile

    ev = _events(spark, sf_dir, end="2024-01-03 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    src = tempfile.mkdtemp(prefix="stream_src_")
    ev.select(
        F.lit("events").alias("id"), F.col("ts").alias("time"), "value"
    ).repartition(1).write.mode("overwrite").parquet(src)  # one file → one
    # micro-batch → exactly one (final) update row per bucket in the sink

    from curw_flo2d_data_manager_spark.streaming import streaming_resample_sum

    name = _run_replay_stream(
        spark, src, lambda s: streaming_resample_sum(s, 15),
        "stream_resample_", "update",
    )
    return spark.table(name).select(
        "time", F.round("value", 4).alias("value")
    ).orderBy("time")


# identical to the batch A2 oracle over the same slice — the streaming
# path must not change the answer
STREAM_A2_SQL = A2_SQL


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: one day of events is written to
    the stream source TRIPLED (an at-least-once ingest), replayed
    through ``dropDuplicatesWithinWatermark`` keyed on the event id,
    and must come out exactly once per event — DuckDB's DISTINCT over
    the same slice is the oracle."""
    import tempfile

    ev = _events(spark, sf_dir, end="2024-01-02 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    rows = ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("ts").alias("time"),
        "value",
    )
    # tripled from ONE generator, not a 3-branch self-union (guide
    # §2.4 — each branch re-scans the events slice); identical row
    # multiset (3 copies of every event)
    tripled = rows.select(
        F.explode(
            F.array(*[F.struct("id", "time", "value") for _ in range(3)])
        ).alias("r")
    ).select("r.id", "r.time", "r.value")
    src = tempfile.mkdtemp(prefix="stream_dedup_src_")
    tripled.repartition(1).write.mode("overwrite").parquet(src)

    from curw_flo2d_data_manager_spark.streaming import streaming_dedup

    name = _run_replay_stream(
        spark, src, lambda s: streaming_dedup(s, ["id"]),
        "stream_dedup_", "append",
    )
    return (
        spark.table(name)
        .select(
            F.col("id").cast("long").alias("event_id"),
            "time",
            F.round("value", 4).alias("value"),
        )
        .orderBy("event_id")
    )


STREAM_DEDUP_SQL = """
SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS time,
       ROUND(value, 4) AS value
FROM events
WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-02 00:00:00'
ORDER BY event_id
"""


def stream_cumsum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A4: the applyInPandasWithState running total replayed
    over a file stream must equal the batch window cumsum. Rows are
    keyed by a unique synthetic event-time (from event_id) so the
    in-state sort order is deterministic."""
    import tempfile

    ev = (
        _events(spark, sf_dir, end="2024-01-10 00:00:00")
        .filter(
            (F.col("user_id") < 20)
            & (F.col("ts") < F.lit("2024-01-10 00:00:00").cast("timestamp"))
        )
        .select(
            F.col("user_id").cast("string").alias("id"),
            F.timestamp_micros(F.col("event_id")).alias("time"),
            F.round("value", 4).alias("value"),
        )
    )
    src = tempfile.mkdtemp(prefix="stream_cum_src_")
    ev.repartition(1).write.mode("overwrite").parquet(src)  # one micro-batch

    from curw_flo2d_data_manager_spark.streaming import streaming_cumulative_sum

    name = _run_replay_stream(
        spark, src, streaming_cumulative_sum, "stream_cumsum_", "append"
    )
    return (
        spark.table(name)
        .select(
            "id",
            F.unix_micros("time").alias("event_id"),
            F.round("cum_value", 4).alias("cum_value"),
        )
        .orderBy("id", "event_id")
    )


STREAM_CUMSUM_SQL = """
SELECT CAST(user_id AS VARCHAR) AS id, event_id,
       ROUND(SUM(ROUND(value, 4)) OVER (PARTITION BY user_id ORDER BY event_id
                                        ROWS UNBOUNDED PRECEDING), 4) AS cum_value
FROM events
WHERE user_id < 20 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
ORDER BY id, event_id
"""


def stream_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows: two days of per-user events replayed
    through a file stream → watermarked ``session_window`` sum. The
    streamed (watermark-closed, append-mode) sessions must match the
    batch gap-sessionization oracle (a gap of exactly 30 min starts a
    new session on both paths)."""
    import tempfile

    ev = _events(spark, sf_dir, end="2024-01-03 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    src = tempfile.mkdtemp(prefix="stream_sess_src_")
    rows = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").alias("time"),
        "value",
    )
    # Session aggregation only supports APPEND output (sessions emit
    # once the watermark proves they can't grow). A sentinel event per
    # key, one day past the slice, pushes the watermark beyond every
    # real session; the sentinels' own sessions stay open and unemitted.
    sentinels = rows.select("id").distinct().select(
        "id",
        F.lit("2024-01-04 00:00:00").cast("timestamp").alias("time"),
        F.lit(0.0).alias("value"),
    )
    rows.unionByName(sentinels).repartition(1).write.mode("overwrite").parquet(src)

    from curw_flo2d_data_manager_spark.streaming import streaming_session_sum

    name = _run_replay_stream(
        spark, src,
        lambda s: streaming_session_sum(s, gap="30 minutes", group_cols=["id"]),
        "stream_sess_", "append",
    )
    return (
        spark.table(name)
        .filter(
            F.col("session_start")
            < F.lit("2024-01-03 00:00:00").cast("timestamp")
        )
        .select(
            F.col("id").cast("long").alias("user_id"),
            "session_start",
            "n_events",
            F.round("value", 4).alias("session_value"),
        )
        .orderBy("user_id", "session_start")
    )


STREAM_SESSION_SQL = """
WITH ev AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
  FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'),
lagged AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM ev),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) >= 1800 THEN 1
              ELSE 0 END AS is_new
  FROM lagged),
sessioned AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sessioned
GROUP BY user_id, session_seq
ORDER BY user_id, session_start
"""


def o2_ordered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: deterministic global order + limit."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderdate")
        .limit(25)
    )


O2_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


